"""Plan-shape regression tests + skew-handling equivalence.

The plan tests pin the physical properties the 100 TB design depends on:
filter/column pushdown into the parquet scan, broadcast joins for dims,
TakeOrdered for top-k (never a global sort). If a refactor silently loses
one of these, correctness tests stay green but scale behavior regresses —
these tests catch that.
"""

from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    df = entrymod.queries()["q6_forecast_revenue"](spark, sf_dir)
    plan = _physical_plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # column pruning: only the 4 needed columns in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_returnflag" not in read_schema


def test_q3_broadcasts_dimension(spark, sf_dir):
    df = entrymod.queries()["q3_shipping_priority"](spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 is TakeOrdered, not Sort+Limit


def test_unhinted_scaling_dims_still_broadcast_when_small(spark, sf_dir):
    """customer/supplier/part carry NO broadcast() hint (they scale with SF;
    a forced hint would override Spark's size check and OOM at 100×). At
    fixture scale the size-based planner must still pick BroadcastHashJoin —
    same local plan, safe at any scale."""
    for name in ("q3_shipping_priority", "q5_region_revenue", "brand_revenue_broadcast"):
        df = entrymod.queries()[name](spark, sf_dir)
        # no user hint survived into the analyzed logical plan
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "customer" not in _hinted_tables(analyzed)
        assert "supplier" not in _hinted_tables(analyzed)
        assert "part" not in _hinted_tables(analyzed), name
        # ...yet the physical plan still broadcasts the small side
        assert "BroadcastHashJoin" in _physical_plan(df), name


def _hinted_tables(analyzed_plan: str) -> str:
    """Text of ResolvedHint subtrees (empty string when no hints present)."""
    return "".join(
        seg.split("+- Relation")[0] for seg in analyzed_plan.split("ResolvedHint")[1:]
    )


def test_no_forced_broadcast_on_scaling_tables_in_source():
    """Grep-level guard: broadcast( must never wrap customer/supplier/part
    loads in the plan modules. region/nation (bounded) and 1-row scalar
    aggregates are the only legitimate hint targets."""
    import pathlib
    import re

    plans = pathlib.Path(entrymod.__file__).parent / "my_favorite_etl_pipeline_spark" / "plans"
    bad = []
    for f in plans.glob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if re.search(r"broadcast\((cust|supp|part)\w*\)", line):
                bad.append(f"{f.name}:{i}: {line.strip()}")
    assert not bad, bad


def test_topk_is_takeordered(spark, sf_dir):
    df = entrymod.queries()["embedding_topk_bruteforce"](spark, sf_dir)
    assert "TakeOrderedAndProject" in _physical_plan(df)


def test_whole_stage_codegen_on_agg(spark, sf_dir):
    df = entrymod.queries()["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE's final plan (with codegen spans) exists only post-run
    plan = _physical_plan(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the tree string; the
    # scan→filter→project→partial-agg pipeline must be inside one
    assert "*(1) HashAggregate" in plan or "*(2) HashAggregate" in plan


def test_salted_join_matches_plain_join(spark):
    from my_favorite_etl_pipeline_spark.operators.skew import salted_join

    # skewed: 90% of rows share key 1
    large = spark.createDataFrame(
        [Row(k=1 if i % 10 else 2, v=i) for i in range(1000)], "k int, v int"
    )
    small = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    plain = large.join(small, "k")
    salted = salted_join(large, small, "k", salt=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_keeps_unmatched(spark):
    from my_favorite_etl_pipeline_spark.operators.skew import salted_join

    large = spark.createDataFrame([Row(k=1, v=1), Row(k=3, v=3)])
    small = spark.createDataFrame([Row(k=1, name="x")])
    out = salted_join(large, small, "k", how="left", salt=4)
    rows = {r.k: r.name for r in out.collect()}
    assert rows == {1: "x", 3: None}


def test_q11_broadcasts_dims_and_threshold(spark, sf_dir):
    df = entrymod.queries()["q11_important_stock"](spark, sf_dir)
    plan = _physical_plan(df)
    # dims AND the 1-row global-threshold frame must broadcast; the big
    # per-part frame must never sit on the build side of a nested loop
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_embedding_quantize_is_map_only(spark, sf_dir):
    df = entrymod.queries()["embedding_quantize_int8"](spark, sf_dir)
    plan = _physical_plan(df)
    # scan -> project -> (final presentation orderBy); no join/agg shuffle
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_zipf_fixture_aqe_skew_split_and_salted_plans(spark):
    """Skew evidence on a zipf-key fixture: (a) AQE marks and splits the
    skewed partition of an unsalted sort-merge join (skew=true in the final
    plan); (b) salted_join instead pre-spreads the hot key by joining on
    (key, salt); (c) both produce identical results."""
    from pyspark.sql import Row

    from my_favorite_etl_pipeline_spark.operators.skew import salted_join

    # zipf-ish: 95% of rows on key 0, long tail on 1..50
    large = spark.range(0, 20000).select(
        F.when(F.col("id") % 20 < 19, 0).otherwise((F.col("id") % 50) + 1).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([Row(k=i, name=f"u{i}") for i in range(0, 51)])

    conf = {
        # force SMJ so AQE's skew-split (SMJ/SHJ-only) is the mechanism
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # tiny thresholds so fixture-sized partitions register as skewed
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        plain = large.join(small, "k")
        plain_rows = plain.collect()  # AQE finalizes this plan at runtime
        plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan  # AQE recognized and split the hot partition

        salted = salted_join(large, small, "k", salt=8)
        splan = salted._jdf.queryExecution().analyzed().toString()
        assert "__salt" in splan  # hot key pre-spread across 8 buckets

        assert sorted(r.v for r in salted.collect()) == sorted(r.v for r in plain_rows)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sessionize_ntz_fractional_second_gap(spark, tmp_path):
    """The 30-min gap compare must work on a TIMESTAMP_NTZ fixture (µs
    parquet without UTC adjustment — the dtype that broke epoch casts) and
    count fractional seconds toward the gap: exactly 1800.0 s is the SAME
    session, 1800.5 s opens a new one. Also pins normalize_event_time's
    NTZ→TIMESTAMP repair on the batch reader."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = {
        "event_id": [1, 2, 3],
        "ts": [t0, t0 + dt.timedelta(seconds=1800), t0 + dt.timedelta(seconds=3600.5)],
        "user_id": [7, 7, 7],
        "event_type": ["view"] * 3,
        "value": [1.0, 2.0, 3.0],
        "props": ["{}"] * 3,
    }
    table = pa.table(rows).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),  # no tz → Spark reads TIMESTAMP_NTZ
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from my_favorite_etl_pipeline_spark.sources.tables import load

    ev = load(spark, str(tmp_path), "events")
    assert ev.schema["ts"].dataType.typeName() == "timestamp"  # NTZ repaired

    out = entrymod.queries()["sessionize_events_gap30m"](spark, str(tmp_path)).collect()
    by_session = {r.session_seq: r for r in out}
    assert len(by_session) == 2
    assert by_session[1].n_events == 2  # exactly-1800 s gap: same session
    assert by_session[2].n_events == 1  # 1800.5 s gap: new session
    assert by_session[2].session_start == t0 + dt.timedelta(seconds=3600.5)


def test_multiconsumer_frames_are_cached(spark, sf_dir):
    """The round-4 perf fix: tfidf and the prefix-filter join persist their
    multi-consumer frames (tf/unit, tok/pref). If a refactor drops the
    persists, correctness stays green but each consumer re-runs the
    tokenize/aggregate chain — pin the InMemoryTableScan in the plan."""
    df = entrymod.queries()["tfidf_topk_similar_docs"](spark, sf_dir)
    assert "InMemoryTableScan" in _physical_plan(df)
    df2 = entrymod.queries()["ssjoin_prefix_filter"](spark, sf_dir)
    assert "InMemoryTableScan" in _physical_plan(df2)


def test_exact_span_join_is_equi_not_cartesian(spark, sf_dir):
    """The span-dedup self-join must plan as a HASH join keyed on the
    64-bit gram hash with the id inequality as a residual condition —
    never a cartesian product or broadcast-nested-loop (the O(n²) shapes
    that would make the operator a lie at scale) — and no gram STRING
    column may appear anywhere in the plan (the r6 shuffle-width fix:
    8-byte keys, strings only re-verified against the doc token arrays)."""
    from my_favorite_etl_pipeline_spark.operators.dedup import exact_span_matches
    from my_favorite_etl_pipeline_spark.sources.tables import load

    df = exact_span_matches(load(spark, sf_dir, "documents"), min_tokens=20)
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    join_lines = [l for l in plan.splitlines() if "HashJoin" in l or "SortMergeJoin" in l]
    assert any("gh" in l for l in join_lines), join_lines
    assert "gram#" not in plan  # the string never becomes a real column


def test_bm25_saturation_and_self_exclusion(spark, sf_dir):
    """BM25 semantics on the registry query: no query retrieves itself,
    scores are positive, and per-query results are capped at 5 with the
    deterministic (score desc, doc_id) cut."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["bm25_topk_docs"](spark, sf_dir).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r.doc_id != r.query_id
        assert r.score > 0
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())


def test_bm25_tf_saturates_sublinearly(spark):
    """The k1 saturation: a term's BM25 contribution grows SUBLINEARLY in
    tf (the property that distinguishes BM25 from raw tf·idf, whose
    contribution is exactly linear). Two docs of equal length differ only
    in repeating the query term 1x vs 8x; the 8x doc must score well under
    half of the 8x a linear scorer would give (measured ratio ≈ 2.15, the
    f(∞)/f(1) = 1+k1·norm asymptote being ≈ 2.57 here)."""
    from my_favorite_etl_pipeline_spark.plans.retrieval import q_bm25_topk_docs  # noqa: F401  (shape shared)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # replicate the scorer inline on a controlled corpus: query doc 0
    # holds the term once; docs 1 and 2 hold it 1x and 8x with identical
    # filler so dl differs only by the repeats
    corpus = spark.createDataFrame(
        [
            (0, "zzz"),
            (100, "zzz pad1 pad2 pad3 pad4 pad5 pad6 pad7"),
            (200, "zzz zzz zzz zzz zzz zzz zzz zzz"),
        ],
        ["doc_id", "text"],
    )
    # reuse the registered query fn against a temp dir is overkill — call
    # the module-level pieces by rebuilding the same expressions
    from my_favorite_etl_pipeline_spark.functions import text as TX

    K1, B = 1.2, 0.75
    toks = corpus.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    dl = tf.groupBy("doc_id").agg(F.sum("c").alias("len"))
    st = dl.agg(F.avg("len").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n"))
    dfc = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("dfc"))
    wt = (
        F.log(F.lit(1.0) + (F.col("n") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5))
        * F.col("c") * (K1 + 1)
        / (F.col("c") + K1 * ((1 - B) + B * F.col("len") / F.col("avgdl")))
    )
    post = tf.join(dl, "doc_id").join(dfc, "w").crossJoin(F.broadcast(st)).select(
        "doc_id", "w", wt.alias("wt")
    )
    scores = {
        r.doc_id: r.wt for r in post.filter(F.col("w") == "zzz").collect()
    }
    assert scores[200] < 0.5 * (8 * scores[100])  # well under linear-in-tf
    assert scores[200] > scores[100]  # more tf still scores higher


def test_impact_truncate_bounds_postings_per_term(spark):
    """The retrieval candidate cut (r7, shared by tfidf + bm25): after
    impact_truncate(k), NO term carries more than k postings — the
    invariant that bounds the query⋈postings join at |q|·Σ min(k, df) and
    closes the r6 verdict's BM25 hot-term finding. A synthetic hot term
    with df=500 must come out at exactly k rows, and the survivors must be
    the k HIGHEST-weight postings."""
    from my_favorite_etl_pipeline_spark.operators.retrieval import impact_truncate

    post = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("hot").alias("w"),
        (F.col("id") * 0.001).alias("wt"),
    ).union(
        spark.range(3).select(
            F.col("id").alias("doc_id"), F.lit("cold").alias("w"),
            F.lit(1.0).alias("wt"),
        )
    )
    cut = impact_truncate(post, "wt", k=16)
    per_term = {r.w: r.n for r in cut.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert per_term == {"hot": 16, "cold": 3}
    # survivors are the top-16 by weight: ids 484..499 for the hot term
    hot_ids = {r.doc_id for r in cut.filter(F.col("w") == "hot").collect()}
    assert hot_ids == set(range(484, 500))


def test_impact_truncate_salted_path_is_exact(spark):
    """When df_max exceeds k × salt_buckets the two-phase salted top-k
    kicks in; it must return the IDENTICAL set as the plain window (every
    global top-k row is in its salt bucket's top-k — exactness, not an
    approximation). Tie-heavy weights exercise the rounded-weight +
    doc_id deterministic break."""
    from my_favorite_etl_pipeline_spark.operators.retrieval import impact_truncate

    post = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("w"),
        # many exact ties at the cut boundary
        (F.floor(F.col("id") / 10) * 0.01).alias("wt"),
    )
    plain = impact_truncate(post, "wt", k=8, df_max=0.0)
    salted = impact_truncate(post, "wt", k=8, df_max=200.0, salt_buckets=4)
    assert sorted((r.doc_id, r.w) for r in plain.collect()) == sorted(
        (r.doc_id, r.w) for r in salted.collect()
    )
    # and the salted plan really does carry the two-phase window
    assert "xxhash64" in salted._jdf.queryExecution().executedPlan().toString()


def test_quality_classifier_is_map_only(spark, sf_dir):
    # SCALE.md row "model-based quality filter": ONE map-only projection —
    # hashing, weighting, fold-sum inside codegen; no join/agg shuffle
    # anywhere (the trailing orderBy is presentation, rangepartitioning).
    df = entrymod.queries()["quality_classifier_linear"](spark, sf_dir)
    plan = _physical_plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_pq_adc_scoring_stage_has_no_corpus_shuffle(spark, sf_dir):
    # SCALE.md row "PQ-ADC retrieval": codebook+ADC table ride as broadcast
    # nested-array rows; the corpus-side encode+score stage is pure map and
    # the shortlist is TakeOrdered — the only hashpartitioning exchanges
    # belong to the O(m·kc) codebook aggregation, never to corpus rows.
    from my_favorite_etl_pipeline_spark.operators.similarity import pq_adc_topk
    from my_favorite_etl_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    plan = _physical_plan(pq_adc_topk(emb, q, k=10, shortlist=50, kc=64))
    assert "TakeOrderedAndProject" in plan  # shortlist + final top-k
    assert "BroadcastExchange" in plan  # codebook/ADC/query ride broadcasts
    assert "SortMergeJoin" not in plan  # corpus never shuffle-joins


def test_ppl_buckets_histogram_window_not_corpus_window(spark, sf_dir):
    # SCALE.md row "quantile bucketing": the per-language cumulative window
    # runs on the compacted (lang, score) histogram, never on corpus rows —
    # the plan's Window operator must sit above a HashAggregate (histogram),
    # and the per-doc side reaches the thresholds through a broadcast join.
    df = entrymod.queries()["perplexity_buckets_ccnet"](spark, sf_dir)
    plan = _physical_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("BroadcastExchange") or (
        "BroadcastHashJoin" in plan
    )
