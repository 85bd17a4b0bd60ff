"""Ground-truth tests for the r12 curation operators (plans/llm_ext12.py):
character-level near-dup, matryoshka truncation audit, shard manifests, and
the packing histogram. Each test recomputes the operator's contract from the
raw fixture with an INDEPENDENT method (pure Python), the pattern the
image-dHash and token-budget ops established."""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import pyarrow.parquet as pq

import my_favorite_etl_pipeline_spark as engine
from tests.conftest import SF_DIR


def _banded_levenshtein(a: str, b: str, tau: int) -> int:
    """Exact edit distance if ≤ tau else tau+1 — O(tau·len) diagonal band."""
    if abs(len(a) - len(b)) > tau:
        return tau + 1
    if len(a) > len(b):
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j in range(1, len(b) + 1):
        cur = [j] + [0] * len(a)
        lo, hi = max(1, j - tau), min(len(a), j + tau)
        if lo > 1:
            cur[lo - 1] = tau + 1
        for i in range(lo, hi + 1):
            cur[i] = min(
                prev[i] + 1,
                cur[i - 1] + 1,
                prev[i - 1] + (a[i - 1] != b[j - 1]),
            )
        if min(cur[lo : hi + 1]) > tau:
            return tau + 1
        prev = cur
    return prev[len(a)] if prev[len(a)] <= tau else tau + 1


def test_edit_distance_near_dups_matches_bruteforce(spark):
    """The funnel (band blocking + count filter + threshold verify) must
    return EXACTLY the brute-force all-en-pairs answer — i.e. the blocking
    and the Ukkonen count bound lose no qualifying pair."""
    docs = [
        d
        for d in pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
        if d["lang"] == "en"
    ]
    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            dist = _banded_levenshtein(a["text"], b["text"], 5)
            if dist <= 5:
                lo, hi = sorted((a["doc_id"], b["doc_id"]))
                expected[(lo, hi)] = dist
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in engine.queries()["edit_distance_near_dups"](spark, SF_DIR).collect()
    }
    assert got == expected
    assert expected, "fixture must contain at least one near-dup pair"


def test_edit_distance_plan_has_no_cartesian(spark):
    """Both blocking arms must run as hash equi-joins on the band key —
    a cartesian/nested-loop product here means the blocking key fell out
    of the join condition and the funnel went all-pairs."""
    plan = (
        engine.queries()["edit_distance_near_dups"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_matryoshka_plan_broadcasts_the_panel(spark):
    """The query panel must reach the corpus as a broadcast (map-only
    scoring pass) — a shuffle join here repartitions the corpus per panel."""
    plan = (
        engine.queries()["matryoshka_prefix_recall"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _quantize(vec):
    return [math.floor(float(x) * 10_000) for x in vec]


def _int_cos(qa, sa, qb, sb):
    if sa < 2 or sb < 2:
        return 0
    d = sum(x * y for x, y in zip(qa, qb))
    return ((d + 2 * sa * sb) * 10_000) // (sa * sb) - 20_000


def test_matryoshka_prefix_recall_matches_pure_python(spark):
    """Every output row replays from the raw parquet: quantize, exact
    isqrt norms (full AND prefix — independently), guarded integer cosine,
    two top-10 panels, overlap + floors."""
    rows = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet")).to_pylist()
    qv = {}
    for r in rows:
        q = _quantize(r["embedding"])
        qp = q[:32]
        qv[r["vec_id"]] = (q, math.isqrt(sum(x * x for x in q)), qp,
                           math.isqrt(sum(x * x for x in qp)))
    expected = {}
    for qid in sorted(v for v in qv if v % 100 == 7):
        q, s, qp, sp = qv[qid]
        full = sorted(
            ((-_int_cos(q, s, c[0], c[1]), cid) for cid, c in qv.items() if cid != qid),
        )[:10]
        pre = sorted(
            ((-_int_cos(qp, sp, c[2], c[3]), cid) for cid, c in qv.items() if cid != qid),
        )[:10]
        fset = {cid for _, cid in full}
        pset = {cid for _, cid in pre}
        n_common = len(fset & pset)
        expected[qid] = (
            n_common,
            # the REAL denominator rule (actual full-panel size, ADVICE
            # r12/r13): on this fixture len(full) == 10 so it equals the
            # old n_common*1000 shortcut, but the replay must state the
            # rule, not the special case — the short-panel regime is
            # exercised by test_matryoshka_short_panel_* below
            n_common * 10_000 // len(full),
            -max(sc for sc, _ in full),
            -max(sc for sc, _ in pre),
        )
    got = {
        r.query_id: (r.n_common, r.recall_x1e4, r.full_floor, r.prefix_floor)
        for r in engine.queries()["matryoshka_prefix_recall"](spark, SF_DIR).collect()
    }
    assert got == expected
    assert expected, "query panel must be non-empty on the fixture"


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_shard_manifest_checksums_matches_pure_python(spark):
    """Shard membership must equal training_shard_assignment's bucket rule
    and every digest must equal the pure-Python order-insensitive sum."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    agg = {}
    for d in docs:
        key = hashlib.md5(f"{d['doc_id']}:shuffle:42".encode()).hexdigest()
        shard = ("0123456789abcdef".index(key[0])) % 8
        h = _md5_32(f"{d['doc_id']}:{d['text']}")
        cur = agg.setdefault(shard, [0, 0, None, None, 0])
        cur[0] += 1
        cur[1] += d["n_chars"]
        cur[2] = d["doc_id"] if cur[2] is None else min(cur[2], d["doc_id"])
        cur[3] = d["doc_id"] if cur[3] is None else max(cur[3], d["doc_id"])
        cur[4] += h
    got = {
        r.shard: [r.n_docs, r.n_chars_total, r.min_doc_id, r.max_doc_id,
                  r.content_digest]
        for r in engine.queries()["shard_manifest_checksums"](spark, SF_DIR).collect()
    }
    assert got == agg
    assert len(agg) == 8, "every shard must be populated on the fixture"


def test_shard_manifest_digest_moves_on_any_content_change():
    """One flipped character in one document must move its shard's digest
    (the manifest's whole point)."""
    base = _md5_32("7:hello world")
    flipped = _md5_32("7:hello worle")
    assert base != flipped


def test_contamination_span_profile_matches_pure_python(spark):
    """Every profile row replays from the raw parquet: positional 13-grams,
    the md5 eval slice, matched-position islands."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()

    def is_bench(doc_id: int) -> bool:
        return hashlib.md5(str(doc_id).encode()).hexdigest()[0] == "0"

    bench_grams = set()
    for d in docs:
        if not is_bench(d["doc_id"]):
            continue
        t = d["text"].split(" ")
        for i in range(len(t) - 12):
            bench_grams.add(" ".join(t[i : i + 13]))
    expected = {}
    for d in docs:
        if is_bench(d["doc_id"]):
            continue
        t = d["text"].split(" ")
        hits = sorted(
            i for i in range(len(t) - 12) if " ".join(t[i : i + 13]) in bench_grams
        )
        if not hits:
            continue
        runs, cur = [], 1
        for prev, nxt in zip(hits, hits[1:]):
            if nxt == prev + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expected[d["doc_id"]] = (len(runs), sum(runs), max(runs) + 12)
    got = {
        r.doc_id: (r.n_spans, r.n_hit_positions, r.longest_span_tokens)
        for r in engine.queries()["contamination_span_profile"](spark, SF_DIR).collect()
    }
    assert got == expected
    assert expected, "fixture must contain contaminated docs"


def test_contamination_span_profile_consistent_with_boolean_flag(spark):
    """The profiled doc set must equal contamination_13gram's flag set —
    same event universe, two readouts."""
    flagged = {
        r.doc_id
        for r in engine.queries()["contamination_13gram"](spark, SF_DIR).collect()
    }
    profiled = {
        r.doc_id
        for r in engine.queries()["contamination_span_profile"](spark, SF_DIR).collect()
    }
    assert profiled == flagged


def test_ann_cell_size_report_invariants(spark):
    """Cells partition the corpus exactly; pair_work is the within-cell
    join size; the auto-k target bounds the mean cell size."""
    rows = engine.queries()["ann_cell_size_report"](spark, SF_DIR).collect()
    n_vecs = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet")).num_rows
    assert sum(r.cell_size for r in rows) == n_vecs
    assert all(r.pair_work == r.cell_size * (r.cell_size - 1) for r in rows)
    assert all(r.cell_size >= 1 for r in rows)
    k = max(4, -(-n_vecs // 64))
    assert len(rows) <= k
    # Σ pair_work is the candidate count the SemDeDup join actually runs
    assert sum(r.pair_work for r in rows) < n_vecs * 4 * 64  # linear-in-n bound


def test_pack_docs_histogram_matches_pure_python(spark):
    """The histogram replays from the raw parquet via the packing rule:
    per source in doc_id order, bin = floor(tokens-before / 1024)."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    by_source: dict[str, list] = {}
    for d in docs:
        by_source.setdefault(d["source"], []).append(d)
    bin_sizes: Counter = Counter()
    for source, items in by_source.items():
        cum = 0
        per_bin: Counter = Counter()
        for d in sorted(items, key=lambda x: x["doc_id"]):
            n = len(d["text"].split(" "))
            per_bin[cum // 1024] += 1
            cum += n
        bin_sizes.update(per_bin.values())
    got = {
        r.docs_in_pack: r.n_packs
        for r in engine.queries()["pack_docs_histogram"](spark, SF_DIR).collect()
    }
    assert got == dict(bin_sizes)
    assert len(got) > 1, "histogram must have non-trivial support"


def test_epoch_repeat_plan_consistent_with_buckets(spark):
    """Every row must carry the registered CCNet bucket, the fixed
    tercile→repeat mapping, and the exact token arithmetic."""
    plan = {
        r.doc_id: (r.ppl_bucket, r.n_tokens, r.n_repeats, r.effective_tokens)
        for r in engine.queries()["epoch_repeat_plan"](spark, SF_DIR).collect()
    }
    buckets = {
        r.doc_id: r.ppl_bucket
        for r in engine.queries()["perplexity_buckets_ccnet"](spark, SF_DIR).collect()
    }
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    ntok = {d["doc_id"]: len(d["text"].split(" ")) for d in docs}
    rep_of = {"head": 4, "middle": 2, "tail": 1}
    assert set(plan) == set(buckets)
    for doc_id, (bucket, n, rep, eff) in plan.items():
        assert bucket == buckets[doc_id]
        assert n == ntok[doc_id]
        assert rep == rep_of[bucket]
        assert eff == n * rep
    assert {b for b, *_ in plan.values()} == {"head", "middle", "tail"}


def test_semantic_packing_is_more_coherent_than_id_order(spark):
    """The point of the operator: cluster-ordered packing must produce
    bins spanning no more clusters ON AVERAGE than doc_id-ordered packing
    of the same corpus (strictly fewer on any non-degenerate fixture),
    while partitioning exactly the same documents and tokens."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.operators.similarity import nearest_centroid
    from my_favorite_etl_pipeline_spark.functions import text as TX
    from my_favorite_etl_pipeline_spark.sources.tables import load

    sem = engine.queries()["semantic_packing_order"](spark, SF_DIR).collect()

    emb = load(spark, SF_DIR, "embeddings")
    assign = nearest_centroid(emb, k=8).select(
        F.col("vec_id").alias("doc_id"), F.col("cluster").cast("long").alias("cluster")
    )
    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "source", TX.token_count("text").cast("long").alias("n_tokens")
    )
    tk = docs.join(assign, "doc_id")
    w = Window.partitionBy("source").orderBy("doc_id")
    baseline = (
        tk.withColumn(
            "seq_id",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 1024.0).cast("long"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .collect()
    )
    # identical partition of the corpus (docs and tokens conserved)
    assert sum(r.n_docs for r in sem) == sum(r.n_docs for r in baseline)
    assert sum(r.seq_tokens for r in sem) == sum(r.seq_tokens for r in baseline)
    # coherence: fewer clusters per bin on average, strictly on this fixture
    mean_sem = sum(r.n_clusters for r in sem) / len(sem)
    mean_base = sum(r.n_clusters for r in baseline) / len(baseline)
    assert mean_sem < mean_base


# ---------------------------------------------------------------------------
# epoch_repeat_shard_assignment (r13): the repeats × shard-shuffle seam


def test_repeat_shard_assignment_conserves_the_plan(spark):
    """Output rows == Σ n_repeats, and every doc appears exactly
    n_repeats times with copies 1..n_repeats — the virtual→physical
    expansion loses and invents nothing."""
    qs = engine.queries()
    plan = {
        r.doc_id: r.n_repeats
        for r in qs["epoch_repeat_plan"](spark, SF_DIR).collect()
    }
    rows = qs["epoch_repeat_shard_assignment"](spark, SF_DIR).collect()
    assert len(rows) == sum(plan.values())
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.copy)
    assert set(by_doc) == set(plan)
    for doc_id, copies in by_doc.items():
        assert sorted(copies) == list(range(1, plan[doc_id] + 1)), doc_id


def test_repeat_shard_assignment_scatters_copies_and_fills_shards(spark):
    """The copy index is inside the md5 shuffle key, so a repeated doc's
    copies are independent draws: most multi-copy docs must span ≥2
    shards (a trainer must not replay one doc back-to-back), every shard
    must be populated, and positions must be a contiguous 1..|shard|
    ranking."""
    from my_favorite_etl_pipeline_spark.plans.assembly import _MAN_SHARDS

    rows = engine.queries()["epoch_repeat_shard_assignment"](
        spark, SF_DIR
    ).collect()
    by_doc: dict[int, set[int]] = {}
    copies: dict[int, int] = {}
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.shard)
        copies[r.doc_id] = copies.get(r.doc_id, 0) + 1
        by_shard.setdefault(r.shard, []).append(r.pos)
    repeated = {d: s for d, s in by_doc.items() if copies[d] > 1}
    spread = sum(1 for s in repeated.values() if len(s) >= 2)
    assert spread / len(repeated) >= 0.8, f"{spread}/{len(repeated)} spread"
    assert set(by_shard) == set(range(_MAN_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_repeat_shard_assignment_seed_space_is_disjoint(spark):
    """Copy 1 must NOT inherit the unrepeated corpus's placement: the
    epoch seed-space is distinct from training_shard_assignment's, so the
    two shard maps disagree on a large fraction of docs (identical maps
    would mean the repeat stream replays the base stream's order)."""
    qs = engine.queries()
    base = {
        r.doc_id: r.shard
        for r in qs["training_shard_assignment"](spark, SF_DIR).collect()
    }
    rep = {
        r.doc_id: r.shard
        for r in qs["epoch_repeat_shard_assignment"](spark, SF_DIR)
        .filter("copy = 1")
        .collect()
    }
    same = sum(1 for d, s in rep.items() if base.get(d) == s)
    # independent 8-bucket draws agree ~1/8 of the time
    assert same / len(rep) < 0.5, f"{same}/{len(rep)} agree"


# ---------------------------------------------------------------------------
# semantic_pack_shard_assignment (r13): pack-then-shard — bins stay atomic


def test_pack_shard_bins_are_atomic_and_ordered(spark):
    """Every (source, seq_id) bin must land in ONE shard at CONTIGUOUS
    positions with its docs still in the packing's (cluster, doc_id)
    order, and per-shard positions must rank 1..|shard|."""
    from my_favorite_etl_pipeline_spark.plans.assembly import _MAN_SHARDS, semantic_packed_frame

    rows = engine.queries()["semantic_pack_shard_assignment"](
        spark, SF_DIR
    ).collect()
    order = {
        r.doc_id: (r.cluster, r.doc_id)
        for r in semantic_packed_frame(spark, SF_DIR).collect()
    }
    bins: dict[tuple, list] = {}
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        bins.setdefault((r.source, r.seq_id), []).append((r.shard, r.pos, r.doc_id))
    for members in bins.values():
        shards = {s for s, _, _ in members}
        assert len(shards) == 1, members  # atomicity
        poss = sorted(p for _, p, _ in members)
        assert poss == list(range(poss[0], poss[0] + len(poss))), members
        in_pos_order = [d for _, p, d in sorted(members, key=lambda m: m[1])]
        assert in_pos_order == sorted(
            in_pos_order, key=order.__getitem__
        ), members  # packing order preserved inside the bin
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(_MAN_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_pack_shard_replays_the_registered_bins(spark):
    """The seam's bins must BE semantic_packing_order's bins: per-bin doc
    counts identical (shared frame + shared oracle CTE text — this test
    pins the Spark side of that contract)."""
    qs = engine.queries()
    packed = {
        (r.source, r.seq_id): r.n_docs
        for r in qs["semantic_packing_order"](spark, SF_DIR).collect()
    }
    seam: dict[tuple, int] = {}
    for r in qs["semantic_pack_shard_assignment"](spark, SF_DIR).collect():
        k = (r.source, r.seq_id)
        seam[k] = seam.get(k, 0) + 1
    assert seam == packed


# ---------------------------------------------------------------------------
# matryoshka SHORT-PANEL regime (ADVICE r13 #1): on a corpus smaller than
# K+1 the full panel has n-1 < 10 members and the recall denominator is the
# ACTUAL panel size — the one regime where the r12 denominator fix changes
# the value. 10 vectors (ids 0..9, query panel = {7}) give a 9-member panel:
# both top-10 panels then contain ALL 9 candidates, so the actual-panel rule
# reads 10000 while both the old n_common*1000 shortcut and a constant-K
# division read 9000 — the fixture separates all three rules, and a
# Spark-`div`/DuckDB-`//` disagreement on the short-panel arm would fail the
# row-for-row compare (the test_hnsw_small_corpus one-fixture-per-branch
# discipline).

_MAT_TINY_N = 10


@__import__("pytest").fixture(scope="module")
def matryoshka_tiny_dir(spark, tmp_path_factory) -> str:
    import random

    root = str(tmp_path_factory.mktemp("matryoshka_tiny"))
    rng = random.Random(20260818)
    rows = []
    for i in range(_MAT_TINY_N):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [float(x / n) for x in v], i % 8))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(root, "embeddings.parquet"))
    return root


def test_matryoshka_short_panel_spark_oracle_identical(spark, matryoshka_tiny_dir):
    import duckdb

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    q = REGISTRY["matryoshka_prefix_recall"]
    got = q.fn(spark, matryoshka_tiny_dir).collect()
    assert [r.query_id for r in got] == [7], "query panel must be exactly {7}"
    spark_rows = sorted(tuple(r) for r in got)

    con = duckdb.connect()
    glob = os.path.join(matryoshka_tiny_dir, "embeddings.parquet", "*.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')")
    duck_rows = sorted(tuple(int(x) for x in row) for row in con.execute(q.oracle).fetchall())
    assert spark_rows == duck_rows


def test_matryoshka_short_panel_uses_actual_panel_size(spark, matryoshka_tiny_dir):
    """The denominator must be the 9-member ACTUAL panel: with every
    candidate in both panels, recall is exactly 10000 — the old constant-K
    rules would read 9000 (a both-engines-identical compare above cannot
    see a shared spec error; this pins the VALUE)."""
    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["matryoshka_prefix_recall"].fn(spark, matryoshka_tiny_dir).collect()
    (r,) = rows
    assert r.n_common == _MAT_TINY_N - 1 == 9
    assert r.recall_x1e4 == 10_000
