"""Quantitative invariants for the rows-only registry entries (r4 verdict
item 7): every approximate operator is bounded against its exact twin — a
recall floor for the candidate-pruning family (IVF, sign-hyperplane LSH),
a relative-error bound for the sketch family (HLL, HLL++, KLL percentile).
SimHash's recall test lives in test_dedup_similarity.py.

Floors are calibrated with headroom: the fixture tables REGENERATE each
round (seeded differently), so a bound that binds at one decimal of the
measured value would flake. Measured at sf0.001 on r5: HLL/ACD rel-err 0.0
(cardinality 15 ≪ sketch capacity), percentile rel-err ≤ 0.002, IVF
top-20 overlap 0.55, LSH pair recall 0.94.
"""

from __future__ import annotations

import pytest

import my_favorite_etl_pipeline_spark as engine
from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.sources.tables import load


@pytest.fixture(scope="module")
def qs():
    return engine.queries()


def test_hll_sketch_merge_error_bound_and_union_sanity(spark, sf_dir, qs):
    rows = qs["hll_sketch_merge"](spark, sf_dir).collect()
    per_type = [r for r in rows if r.exact_distinct is not None]
    overall = [r for r in rows if r.exact_distinct is None]
    assert per_type and len(overall) == 1
    for r in per_type:
        assert abs(r.approx_distinct - r.exact_distinct) <= max(
            2, 0.05 * r.exact_distinct
        ), f"{r.event_type}: HLL {r.approx_distinct} vs exact {r.exact_distinct}"
    # the union estimates the distinct of the WHOLE set: at least any part,
    # at most the sum of parts (both with sketch-error slack)
    est = overall[0].approx_distinct
    parts = [r.approx_distinct for r in per_type]
    assert est >= max(parts) * 0.9
    assert est <= sum(parts) * 1.1


def test_approx_count_distinct_error_bound(spark, sf_dir, qs):
    exact = {
        r.event_type: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in qs["approx_distinct_users"](spark, sf_dir).collect():
        # rsd=0.02 requested; allow 3 sigma plus integer slack on tiny groups
        assert abs(r.n_users_approx - exact[r.event_type]) <= max(
            2, 0.06 * exact[r.event_type]
        )


def test_approx_percentile_error_bound(spark, sf_dir, qs):
    approx = {
        r.o_orderstatus: (r.p50_approx, r.p99_approx)
        for r in qs["approx_percentile_sketch"](spark, sf_dir).collect()
    }
    exact = {
        r.o_orderstatus: (r.p50, r.p99)
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for k, (a50, a99) in approx.items():
        e50, e99 = exact[k]
        assert a50 <= a99  # monotone in the quantile
        # sketch returns an actual element; exact is interpolated — allow 2%
        assert abs(a50 - e50) / e50 <= 0.02
        assert abs(a99 - e99) / e99 <= 0.02


def test_ivf_topk_recall_floor_vs_bruteforce(spark, sf_dir, qs):
    brute = [r.vec_id for r in qs["embedding_topk_bruteforce"](spark, sf_dir).collect()]
    ivf = [r.vec_id for r in qs["embedding_topk_ivf"](spark, sf_dir).collect()]
    assert brute and len(ivf) <= len(brute)
    # n_probe=3 cells of the label partition: approximate by design, but a
    # collapse (e.g. probing empty cells) would send this to ~0
    assert len(set(brute) & set(ivf)) / len(brute) >= 0.35


def test_ivf_kmeans_topk_recall_floor_vs_bruteforce(spark, sf_dir, qs):
    brute = [r.vec_id for r in qs["embedding_topk_bruteforce"](spark, sf_dir).collect()]
    ivf = [r.vec_id for r in qs["embedding_topk_ivf_kmeans"](spark, sf_dir).collect()]
    assert brute and len(ivf) <= len(brute)
    # self-contained IVF (no label column): k-means cells + 3-probe.
    # Measured r6 (2 Lloyd rounds): 0.35 at sf0.001 AND sf0.01 (0.40 with 1
    # round, 0.50-0.55 at n_probe=4) — the synthetic embeddings are
    # near-uniform, so Lloyd tightening reshapes cells without improving
    # 3-probe recall; the floor stays at the measured value rather than a
    # hoped-for one.
    assert len(set(brute) & set(ivf)) / len(brute) >= 0.35


def test_kmeans_iterate_digest_early_stop(spark):
    """On a corpus whose hash-bucket init is already the Lloyd fixpoint
    (vec_id % k aligned with 4 well-separated points), n_iter=5 must stop
    after ONE round: the round-1 digest equals the init digest. Observable
    via the persist scope — init + 1 round = 2 tracked frames, not 6."""
    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.operators.similarity import kmeans_iterate

    pts = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0], 2: [0.0, 0.0, 1.0], 3: [1.0, 1.0, 1.0]}
    rows = [(i, pts[i % 4]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with materialized_scope() as scope:
        cent = kmeans_iterate(corpus, k=4, n_iter=5)
        got = {r.cid: r.centroid for r in cent.collect()}
        assert len(scope) == 2, f"expected init+1 round, got {len(scope)} persists"
    assert len(got) == 4
    for cid, c in got.items():
        assert all(abs(a - b) < 1e-6 for a, b in zip(c, pts[cid]))


def test_lsh_cosine_pairs_subset_and_recall_floor(spark, sf_dir, qs):
    exact = {(r.id_a, r.id_b) for r in qs["embedding_cosine_near_dups"](spark, sf_dir).collect()}
    lsh = {(r.id_a, r.id_b) for r in qs["embedding_cosine_near_dups_lsh"](spark, sf_dir).collect()}
    assert exact
    # every LSH pair passed the exact cosine verify -> never a false positive
    assert lsh <= exact
    # banded signatures (16x4 on 64 dims) target ~0.96 recall at cos 0.4
    assert len(lsh) / len(exact) >= 0.8


def test_centroid_means_partitioning_invariant(spark, sf_dir):
    """Fixed-point centroid means are BIT-identical under any physical
    partitioning — the property that makes the IVF/SemDeDup oracles
    hash-stable (a float avg differs in last bits when Spark's partial
    aggregation order changes, which is exactly what repartitioning does).
    Exact float equality is intentional."""
    from my_favorite_etl_pipeline_spark.operators.similarity import (
        build_hash_centroids,
        build_ivf_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = build_ivf_centroids(emb.repartition(1)).collect()
    b = build_ivf_centroids(emb.repartition(13, "vec_id")).collect()
    assert {r.label: r.centroid for r in a} == {r.label: r.centroid for r in b}

    ha = build_hash_centroids(emb.repartition(1)).collect()
    hb = build_hash_centroids(emb.repartition(7, "vec_id")).collect()
    assert {r.cid: r.centroid for r in ha} == {r.cid: r.centroid for r in hb}


def test_theta_sketch_overlap_error_bounds(spark, qs):
    """KMV theta sketch (r10): per-type and pairwise-overlap estimates vs
    exact distinct counts. K=64 gives RSE ≈ 1/sqrt(K-2) ≈ 12.6%; the
    bounds allow ~3 sigma. At sf0.001 every type has < K distinct users,
    so the sketch is COMPLETE and the small-set path must be EXACT."""
    import os

    sf001 = "/root/testdata/sf0.001"
    if os.path.isdir(sf001):
        ev = load(spark, sf001, "events")
        exact = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        if max(exact.values()) < 64:
            rows = qs["theta_sketch_user_overlap"](spark, sf001).collect()
            for r in rows:
                assert r.est_users_a == exact[r.type_a], "small-set path not exact"
                assert r.est_users_b == exact[r.type_b]

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 absent")
    ev = load(spark, sf01, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    u = ev.select("event_type", "user_id").distinct()
    a = u.select(F.col("event_type").alias("type_a"), "user_id")
    b = u.select(F.col("event_type").alias("type_b"), "user_id")
    exact_pair = {
        (r.type_a, r.type_b): r.c
        for r in a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    rows = qs["theta_sketch_user_overlap"](spark, sf01).collect()
    assert len(rows) == len(exact_pair)
    for r in rows:
        for est, true in [
            (r.est_users_a, exact[r.type_a]),
            (r.est_users_b, exact[r.type_b]),
            (r.est_common_users, exact_pair[(r.type_a, r.type_b)]),
        ]:
            assert abs(est - true) <= max(5, 0.40 * true), (
                f"{r.type_a}/{r.type_b}: est {est} vs exact {true}"
            )


def test_exact_percentiles_match_sorted_rank(spark, qs):
    """exact_percentiles_two_phase (r10): the two-phase histogram walk must
    reproduce the literal k = ceil(p*n/100) order statistic — checked
    against a full sort of the same cents column at two scales (the exact
    twin of the KLL rel-err bound above: here the tolerance is ZERO)."""
    import os

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf):
            pytest.skip(f"{sf} absent")
        vals = sorted(
            r.c
            for r in load(spark, sf, "events")
            .filter(F.col("value").isNotNull())
            .select(F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"))
            .collect()
        )
        n = len(vals)
        rows = qs["exact_percentiles_two_phase"](spark, sf).collect()
        assert [r.pct for r in rows] == [50, 95, 99]
        for r in rows:
            k = (r.pct * n + 99) // 100  # ceil(p*n/100), 1-indexed
            assert r.value_cents == vals[k - 1], (
                f"sf={sf} p{r.pct}: got {r.value_cents}, true {vals[k - 1]}"
            )
        assert rows[0].value_cents <= rows[1].value_cents <= rows[2].value_cents


def test_anomalous_hours_matches_float_three_sigma(spark, qs):
    """anomalous_hours_3sigma (r10): the exact-integer gate must decide
    identically to the straightforward float mean/population-sigma test
    (strict inequality both sides; non-vacuous — the fixture has flags)."""
    rows = qs["anomalous_hours_3sigma"](spark, "/root/testdata/sf0.001").collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    n_flagged = 0
    for series in by_type.values():
        xs = [r.value_cents for r in series]
        n = len(xs)
        mu = sum(xs) / n
        var = sum((x - mu) ** 2 for x in xs) / n
        for r in series:
            want = (r.value_cents - mu) ** 2 > 9 * var
            assert r.is_anomaly == want, (r.event_type, r.bucket)
            assert r.is_high == (r.value_cents > mu)
            n_flagged += r.is_anomaly
    assert n_flagged > 0, "fixture produced no anomalies — test is vacuous"


def test_countmin_never_underestimates(spark, qs):
    """countmin_frequency_estimates (r10): the CM guarantee — estimate >=
    truth ALWAYS (min over rows of nonnegative-collision counters), and
    the overestimate stays within a generous eN-style bound (w=512)."""
    rows = qs["countmin_frequency_estimates"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    total = (
        load(spark, "/root/testdata/sf0.001", "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .count()
    )
    for r in rows:
        assert r.cm_est >= r.exact_cnt, (r.token, r.cm_est, r.exact_cnt)
        assert r.cm_est - r.exact_cnt <= max(2, total // 64), (
            r.token,
            r.cm_est,
            r.exact_cnt,
            total,
        )


def test_correlation_matrix_matches_numpy(spark, qs):
    """event_type_correlation_matrix (r10): the exact-integer-moments
    Pearson readout must match numpy.corrcoef on the same 0-filled dense
    hourly series to the 4dp rounding, with |corr| <= 1 throughout."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    rows = qs["event_type_correlation_matrix"](spark, sf).collect()
    assert rows
    hourly = (
        load(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.expr("CAST(ROUND(SUM(value) * 100) AS BIGINT)").alias("x"))
        .collect()
    )
    hours = sorted({r.h for r in hourly})
    import datetime as dt

    h0, h1 = hours[0], hours[-1]
    grid = []
    t = h0
    while t <= h1:
        grid.append(t)
        t = t + dt.timedelta(hours=1)
    obs = {(r.event_type, r.h): r.x for r in hourly}
    types = sorted({r.event_type for r in hourly})
    series = {
        ty: np.array([obs.get((ty, h), 0) for h in grid], dtype=np.float64)
        for ty in types
    }
    for r in rows:
        assert r.n_hours == len(grid)
        want = np.corrcoef(series[r.type_a], series[r.type_b])[0, 1]
        assert abs(r.corr - want) <= 2e-4, (r.type_a, r.type_b, r.corr, want)
        assert -1.0 <= r.corr <= 1.0


def test_anomalous_hours_mad_matches_pure_python(spark, qs):
    """anomalous_hours_mad (r14): replay the median/MAD/flag logic in
    pure Python over the SAME cents values the registered 3-sigma twin
    emits (already oracle-checked — this pins the robust gate's logic,
    not the float sum), and pin the robustness contrast: flag sets may
    legitimately differ from 3-sigma, but med/mad and every verdict must
    match the replay exactly."""
    from collections import defaultdict

    base = qs["anomalous_hours_3sigma"](spark, "/root/testdata/sf0.001").collect()
    series = defaultdict(list)
    for r in base:
        series[r.event_type].append((r.bucket, r.value_cents))

    def lower_median(vals):
        v = sorted(vals)
        return v[(len(v) + 1) // 2 - 1]

    expected = {}
    for t, pts in series.items():
        med = lower_median([x for _, x in pts])
        mad = lower_median([abs(x - med) for _, x in pts])
        for b, x in pts:
            expected[(t, b)] = (x, med, mad, abs(x - med) > 3 * mad, x > med)
    rows = qs["anomalous_hours_mad"](spark, "/root/testdata/sf0.001").collect()
    got = {
        (r.event_type, r.bucket): (
            r.value_cents, r.med_cents, r.mad_cents, r.is_anomaly, r.is_high
        )
        for r in rows
    }
    assert got == expected and expected
    assert any(v[3] for v in got.values()), "fixture must produce >= 1 flag"


def test_anomalous_hours_mad_zero_mad_branch(spark, tmp_path):
    """The MAD=0 degenerate branch pinned on BOTH engines (VERDICT r14
    item 4 — the one-fixture-per-branch discipline): more than half of a
    type's hourly totals sit exactly at the median, so MAD=0 and EVERY
    off-median hour flags. A second type with nonzero MAD rides along so
    the fixture exercises both arms in one run."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    # "flat": 5 of 7 hours at 200 cents -> lower median 200, MAD 0;
    # the 100- and 250-cent hours are the every-off-median-hour flags.
    flat = [2.0, 2.0, 1.0, 2.0, 2.5, 2.0, 2.0]
    # "vary": all-distinct totals -> MAD > 0 (the ordinary arm).
    vary = [1.0, 3.0, 7.0, 2.0, 9.0, 4.0, 5.0]
    rows = {
        "event_id": list(range(1, 15)),
        "ts": [t0 + dt.timedelta(hours=h) for h in range(7)] * 2,
        "user_id": [1] * 14,
        "event_type": ["flat"] * 7 + ["vary"] * 7,
        "value": flat + vary,
        "props": ["{}"] * 14,
    }
    table = pa.table(rows).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    q = REGISTRY["anomalous_hours_mad"]
    got = sorted(
        (r.event_type, r.bucket, r.value_cents, r.med_cents, r.mad_cents,
         bool(r.is_anomaly), bool(r.is_high))
        for r in q.fn(spark, str(tmp_path)).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    duck = sorted(
        (t, b, int(x), int(m), int(a), bool(f), bool(h))
        for t, b, x, m, a, f, h in con.execute(q.oracle).fetchall()
    )
    assert got == duck, "Spark and DuckDB must agree through the MAD=0 arm"

    flat_rows = [r for r in got if r[0] == "flat"]
    assert all(r[4] == 0 for r in flat_rows), "flat type must hit MAD=0"
    # every off-median hour flags, every on-median hour does not
    assert sorted(r[5] for r in flat_rows) == [False] * 5 + [True] * 2
    for r in flat_rows:
        assert r[5] == (r[2] != r[3])
    vary_rows = [r for r in got if r[0] == "vary"]
    assert all(r[4] > 0 for r in vary_rows), "vary type must keep MAD>0"


def test_countmin_rows_hash_independently_and_identically_on_both_engines(spark, sf_dir):
    """Every Count-Min row is its own hash, the same on Spark and DuckDB.
    The oracle check cannot see this: at fixture scale the top tokens'
    estimates equal their exact counts even when all rows share one hash
    (as they did while the DuckDB md5 fragment's lambda variable captured
    the row column ``i``). Over the whole vocabulary, 4 independent
    512-bucket rows put a token in one bucket on every row with
    probability 512⁻³ — so any such token means the rows collapsed."""
    import duckdb
    import pyarrow as pa

    from my_favorite_etl_pipeline_spark.plans.relational_ext2 import (
        _CM_D,
        _cm_bucket,
        _cm_bucket_sql,
    )

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    on_spark = {
        r.token: tuple(r.b)
        for r in vocab.select(
            "token", F.array(*[_cm_bucket(i) for i in range(_CM_D)]).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    con.register("vocab", pa.table({"token": list(on_spark)}))
    on_duck: dict[str, tuple] = {}
    for token, b in con.execute(
        f"""SELECT token, {_cm_bucket_sql("token")} AS b
            FROM vocab CROSS JOIN (SELECT UNNEST(range({_CM_D})) AS i)
            ORDER BY token, i"""
    ).fetchall():
        on_duck[token] = on_duck.get(token, ()) + (b,)
    assert on_spark
    assert on_duck == on_spark
    collapsed = [t for t, b in on_spark.items() if len(set(b)) == 1]
    assert not collapsed, collapsed[:5]
