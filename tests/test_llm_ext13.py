"""Ground-truth tests for the r14 selection operator
(plans/llm_ext13.py): greedy max-coverage replayed in pure Python, the
zero-gain branch on a dedicated fixture (the one-fixture-per-branch
discipline), and the plan shape."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark.plans.llm_ext13 import _COV_N, _COV_ROUNDS
from tests.conftest import SF_DIR


def _greedy_python(texts: dict[int, str], rounds: int):
    """Independent replay: distinct 13-grams per doc, greedy argmax of
    new-gram count, ties on lowest id, zero-gain docs stay eligible."""
    grams = {}
    for doc_id, text in texts.items():
        t = text.split(" ")
        grams[doc_id] = {
            " ".join(t[i : i + _COV_N]) for i in range(len(t) - _COV_N + 1)
        }
    covered: set[str] = set()
    selected: set[int] = set()
    out = []
    for r in range(1, rounds + 1):
        best = max(
            (d for d in texts if d not in selected),
            key=lambda d: (len(grams[d] - covered), -d),
        )
        gain = len(grams[best] - covered)
        covered |= grams[best]
        selected.add(best)
        out.append((r, best, gain, len(covered)))
    return out


def test_greedy_coverage_matches_pure_python(spark):
    texts = {
        d["doc_id"]: d["text"]
        for d in pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    }
    expected = _greedy_python(texts, _COV_ROUNDS)
    got = [
        (r.rank, r.doc_id, r.gain, r.covered_total)
        for r in engine.queries()["greedy_gram_coverage_select"](spark, SF_DIR).collect()
    ]
    assert got == expected
    # non-degenerate on the fixture: the first pick must actually cover
    assert expected[0][2] > 0


def test_greedy_coverage_gains_are_non_increasing(spark):
    """Submodularity of coverage ⇒ greedy marginal gains never increase —
    a violated ordering means the covered set leaked between rounds."""
    rows = engine.queries()["greedy_gram_coverage_select"](spark, SF_DIR).collect()
    gains = [r.gain for r in sorted(rows, key=lambda r: r.rank)]
    assert all(a >= b for a, b in zip(gains, gains[1:])), gains
    totals = [r.covered_total for r in sorted(rows, key=lambda r: r.rank)]
    assert totals == [sum(gains[: i + 1]) for i in range(len(gains))]


# ---------------------------------------------------------------------------
# zero-gain branch: a corpus where NO document reaches the gram width.
# Every pick must fall through COALESCE(gain, 0) identically on both
# engines: ranks 1..5 = the 5 lowest doc_ids, gain 0, covered_total 0.


@pytest.fixture(scope="module")
def zero_gram_dir(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("cov_zero"))
    rows = [
        (i, f"short text number {i}", "en", "web", 20) for i in (3, 1, 8, 5, 11, 2, 9)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(os.path.join(root, "documents.parquet"))
    return root


def test_zero_gain_branch_spark_oracle_identical(spark, zero_gram_dir):
    import duckdb

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    q = REGISTRY["greedy_gram_coverage_select"]
    got = sorted(tuple(r) for r in q.fn(spark, zero_gram_dir).collect())
    assert got == [(r, d, 0, 0) for r, d in zip(range(1, 6), [1, 2, 3, 5, 8])]

    con = duckdb.connect()
    glob = os.path.join(zero_gram_dir, "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    duck = sorted(
        tuple(int(x) for x in row) for row in con.execute(q.oracle).fetchall()
    )
    assert got == duck


def test_greedy_coverage_plan_has_no_cartesian(spark):
    """Every round is equi-key work: the new-gram anti-join and the gains
    join must never degrade to a cartesian/nested-loop product. The
    selection runs at CONSTRUCTION (driver-walked rounds, the
    exact_percentiles precedent), so assert over the per-round frames'
    physical plans via the registered query's output — the output frame
    is a local createDataFrame, so instead re-run one round's shapes."""
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.functions import text as TX
    from my_favorite_etl_pipeline_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    dg = docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), n=_COV_N)).alias("g")
    ).distinct()
    covered = dg.limit(50).select("g")
    new = dg.join(covered, "g", "left_anti")
    gains = docs.select("doc_id").join(
        new.groupBy("doc_id").agg(F.count("g").alias("gain")), "doc_id", "left"
    )
    plan = gains._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# batch greedy (greedy_coverage_select_batched)


def _batched_python(texts: dict[int, str], rounds: int, b: int):
    """Independent replay of BATCH greedy: top-b docs by gain vs the
    covered set as of the round start, ties lowest id, zero-gain eligible."""
    grams = {}
    for doc_id, text in texts.items():
        t = text.split(" ")
        grams[doc_id] = {
            " ".join(t[i : i + _COV_N]) for i in range(len(t) - _COV_N + 1)
        }
    covered: set[str] = set()
    selected: set[int] = set()
    out = []
    for r in range(1, rounds + 1):
        ranked = sorted(
            (d for d in texts if d not in selected),
            key=lambda d: (-len(grams[d] - covered), d),
        )[:b]
        gains = [(d, len(grams[d] - covered)) for d in ranked]
        for d, _ in gains:
            covered |= grams[d]
            selected.add(d)
        out.extend(
            (r, i + 1, d, g, None) for i, (d, g) in enumerate(gains)
        )
        out = [
            (rr, rk, d, g, len(covered) if rr == r else tot)
            for rr, rk, d, g, tot in out
        ]
    return out


def test_batched_coverage_matches_pure_python(spark):
    from my_favorite_etl_pipeline_spark.plans.llm_ext13 import _COVB_B, _COVB_ROUNDS

    texts = {
        d["doc_id"]: d["text"]
        for d in pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    }
    expected = _batched_python(texts, _COVB_ROUNDS, _COVB_B)
    got = [
        (r.round, r.rank_in_round, r.doc_id, r.gain, r.covered_total)
        for r in sorted(
            engine.queries()["greedy_coverage_select_batched"](spark, SF_DIR).collect(),
            key=lambda r: (r.round, r.rank_in_round),
        )
    ]
    assert got == expected


def test_batch_of_one_is_the_exact_greedy(spark):
    """batch=1 through the SHARED body must reproduce the flagship row
    for row — the tier is a parameter choice, not a reimplementation."""
    from my_favorite_etl_pipeline_spark.plans.llm_ext13 import (
        _COV_ROUNDS,
        _greedy_select,
    )

    flag = [
        (r.rank, r.doc_id, r.gain, r.covered_total)
        for r in engine.queries()["greedy_gram_coverage_select"](spark, SF_DIR).collect()
    ]
    b1 = [
        (rnd, doc_id, gain, total)
        for rnd, _rk, doc_id, gain, total in _greedy_select(
            spark, SF_DIR, rounds=_COV_ROUNDS, batch=1
        )
    ]
    assert flag == b1


def test_batched_redundancy_readout_is_consistent(spark):
    """Within each round, the covered_total increase can never exceed the
    sum of nominal gains (grams only overlap away), and the shortfall is
    exactly the within-batch redundancy the entry exists to expose."""
    rows = sorted(
        engine.queries()["greedy_coverage_select_batched"](spark, SF_DIR).collect(),
        key=lambda r: (r.round, r.rank_in_round),
    )
    prev_total = 0
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r.round, []).append(r)
    for rnd in sorted(by_round):
        batch = by_round[rnd]
        total = batch[0].covered_total
        assert all(b.covered_total == total for b in batch)
        added = total - prev_total
        nominal = sum(b.gain for b in batch)
        assert 0 <= added <= nominal, (rnd, added, nominal)
        gains = [b.gain for b in batch]
        assert gains == sorted(gains, reverse=True)
        prev_total = total


# ---------------------------------------------------------------------------
# duplicate-id input (r14 review): both engines must treat a duplicated
# doc_id as ONE candidate carrying the union of its grams — an undeduped
# id list would multiply oracle gains by the multiplicity while Spark
# kept per-row gains, and batch > 1 could pick the same id twice.


@pytest.fixture(scope="module")
def dup_id_dir(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("cov_dup"))
    long_a = " ".join(f"alpha{i}" for i in range(20))
    long_b = " ".join(f"beta{i}" for i in range(16))
    rows = [
        (1, long_a, "en", "web", 100),
        (1, long_b, "en", "web", 100),  # duplicate id, different text
        (2, long_a, "en", "web", 100),  # exact dup of id 1's first text
        (3, " ".join(f"gamma{i}" for i in range(14)), "en", "web", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(os.path.join(root, "documents.parquet"))
    return root


@pytest.mark.parametrize(
    "entry", ["greedy_gram_coverage_select", "greedy_coverage_select_batched"]
)
def test_duplicate_ids_collapse_identically(spark, dup_id_dir, entry):
    import duckdb

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    q = REGISTRY[entry]
    got = sorted(tuple(r) for r in q.fn(spark, dup_id_dir).collect())
    ids_picked = [row[-3] for row in got]
    assert len(ids_picked) == len(set(ids_picked)), "an id was picked twice"

    con = duckdb.connect()
    glob = os.path.join(dup_id_dir, "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    duck = sorted(
        tuple(int(x) for x in row) for row in con.execute(q.oracle).fetchall()
    )
    assert got == duck
    # id 1 must carry the UNION of its two texts' grams: its gain when
    # picked first is 8 (20-token alpha) + 4 (16-token beta) grams
    first = min(got)
    assert first[-3] == 1 and first[-2] == 12, got


@pytest.mark.parametrize(
    "entry",
    [
        "fuzzy_decontaminate_minhash",
        "stream_fuzzy_decontaminate",
        # r15: the containment screen shares the same count-agg shape and
        # the same assert-not-collapse contract
        "stream_containment_screen",
    ],
)
def test_fuzzy_decon_raises_on_duplicate_ids(spark, dup_id_dir, entry):
    """ADVICE r14: the fuzzy pair's duplicate-id contract is ASSERT, not
    collapse (a union collapse would cost the production path a
    full-corpus doc_id shuffle of shingle arrays) — a duplicated doc_id
    must fail LOUDLY on BOTH engines rather than letting per-row shingle
    arrays (Spark) and exploded postings (oracle) inflate differently."""
    import duckdb

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    q = REGISTRY[entry]
    with pytest.raises(ValueError, match="duplicate doc_id"):
        q.fn(spark, dup_id_dir)

    con = duckdb.connect()
    glob = os.path.join(dup_id_dir, "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    with pytest.raises(duckdb.Error, match="duplicate doc_id"):
        con.execute(q.oracle).fetchall()


def test_lpa_labels_durable_commits_once_and_matches_fresh(spark):
    """The r15 durable promotion: the committed label table must equal a
    fresh propagation exactly, and a second consumer must READ the
    snapshot (same version, no rebuild) — the `_knn_refined_tables`
    contract applied to the LPA frame."""
    from my_favorite_etl_pipeline_spark import artifacts
    from my_favorite_etl_pipeline_spark.plans import llm_ext13 as m
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    fresh = sorted((r.node, r.lab) for r in m.lpa_labels(spark, SF_DIR).collect())
    d1 = sorted(
        (r.node, r.lab) for r in m.lpa_labels_durable(spark, SF_DIR).collect()
    )
    assert d1 == fresh and fresh

    base = artifacts.memoized_commit(
        spark, "lpa_labels", SF_DIR, build=lambda commit: pytest.fail("rebuilt")
    )["labels"].root
    v = VersionedMart(base).current_version()
    d2 = sorted(
        (r.node, r.lab) for r in m.lpa_labels_durable(spark, SF_DIR).collect()
    )
    assert d2 == fresh
    assert VersionedMart(base).current_version() == v, "second call rebuilt"


# ---------------------------------------------------------------------------
# ivf_recall_report


def test_ivf_recall_report_matches_its_arms(spark):
    """The report's n_common must equal the overlap of (a) a numpy exact
    top-10 replay (same 4dp rounding + id tie-break as the engine) and
    (b) the REGISTERED ivf batch entry's rows — so the report is pinned
    against an arm it does not share code with."""
    import numpy as np

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    ids = np.array(t["vec_id"])
    V = np.array([np.array(x) for x in t["embedding"].to_pylist()], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def exact10(qid):
        q = Vn[list(ids).index(qid)]
        s = np.round(Vn @ q, 4)
        order = sorted(range(len(ids)), key=lambda j: (-s[j], ids[j]))[:10]
        return {int(ids[j]) for j in order}

    ivf = {}
    for r in engine.queries()["embedding_topk_ivf_batch"](spark, SF_DIR).collect():
        ivf.setdefault(r.query_id, set()).add(r.vec_id)
    report = {
        r.query_id: (r.n_common, r.recall_x1e4)
        for r in engine.queries()["ivf_recall_report"](spark, SF_DIR).collect()
    }
    assert set(report) == set(ivf) and report
    for qid, (n_common, recall) in report.items():
        expected = len(exact10(qid) & ivf[qid])
        assert n_common == expected, (qid, n_common, expected)
        assert recall == n_common * 10_000 // 10
        assert 0 <= recall <= 10_000


# ---------------------------------------------------------------------------
# curriculum_shard_order


def test_curriculum_keeps_shard_membership_and_reorders(spark):
    """Shard membership must be byte-identical to the base shuffle's
    (same md5 seed-space), positions contiguous per shard, the
    within-shard order monotone in the score — and the order must
    actually DIFFER from the base shuffle's (else the curriculum did
    nothing)."""
    qs = engine.queries()
    cur = qs["curriculum_shard_order"](spark, SF_DIR).collect()
    base = qs["training_shard_assignment"](spark, SF_DIR).collect()

    assert {r.doc_id: r.shard for r in cur} == {r.doc_id: r.shard for r in base}

    by_shard: dict[int, list] = {}
    for r in cur:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1)), shard
        scores = [(r.unigram_nlp, r.doc_id) for r in rows]
        assert scores == sorted(scores), f"shard {shard} not easy-to-hard"

    cur_order = {(r.shard, r.pos): r.doc_id for r in cur}
    base_order = {(r.shard, r.pos): r.doc_id for r in base}
    assert cur_order != base_order, "curriculum must change the in-shard order"


def test_curriculum_score_is_the_shared_ccnet_score(spark):
    """One scoring definition across the family: the entry's score must
    equal ccnet_bucketed's for every doc (the epoch_repeat_plan rule)."""
    from my_favorite_etl_pipeline_spark.plans.llm_ext5 import ccnet_bucketed

    want = {r.doc_id: r.unigram_nlp for r in ccnet_bucketed(spark, SF_DIR).collect()}
    got = {
        r.doc_id: r.unigram_nlp
        for r in engine.queries()["curriculum_shard_order"](spark, SF_DIR).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# fuzzy_decontaminate_minhash


def test_fuzzy_decontaminate_matches_exact_python(spark):
    """Independent replay: exact 3-gram shingle sets, exact cross
    Jaccard as integer fractions (c/(na+nb-c) >= 1/2 ⟺ 2c >= na+nb-c,
    no float in the threshold decision), per-doc match counts. The LSH
    funnel must lose NO qualifying pair — same contract the oracle
    enforces cross-engine."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()

    def is_bench(doc_id: int) -> bool:
        import hashlib

        return hashlib.md5(str(doc_id).encode()).hexdigest()[0] == "0"

    def sh3(text: str) -> set:
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    train = {d["doc_id"]: sh3(d["text"]) for d in docs if not is_bench(d["doc_id"])}
    bench = {d["doc_id"]: sh3(d["text"]) for d in docs if is_bench(d["doc_id"])}
    assert bench, "fixture must have a non-empty bench slice"
    expected: dict[int, list] = {}
    for tid, ts in train.items():
        for bid, bs in bench.items():
            c = len(ts & bs)
            if c and 2 * c >= len(ts) + len(bs) - c:  # jaccard >= 0.5, exact
                j = c / (len(ts) + len(bs) - c)
                expected.setdefault(tid, []).append(j)
    got = {
        r.doc_id: (r.n_bench_matches, r.max_jaccard)
        for r in engine.queries()["fuzzy_decontaminate_minhash"](spark, SF_DIR).collect()
    }
    assert set(got) == set(expected) and expected
    for tid, js in expected.items():
        n, mx = got[tid]
        assert n == len(js), (tid, n, len(js))
        assert abs(mx - max(js)) < 1e-3, (tid, mx, max(js))
    assert not (set(got) & set(bench)), "bench docs must never be flagged as train"


# ---------------------------------------------------------------------------
# stream_fuzzy_decontaminate


def test_stream_fuzzy_decon_pairs_match_exact_python(spark):
    """The streaming arm must emit EXACTLY the qualifying (train, bench)
    pairs of the exact all-pairs replay (posting-list candidates have
    recall 1 by construction — any missing pair is an engine bug, not an
    LSH probability), and its per-doc rollup must equal the batch twin's
    answer (two candidate strategies, one result)."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()

    def is_bench(doc_id: int) -> bool:
        import hashlib

        return hashlib.md5(str(doc_id).encode()).hexdigest()[0] == "0"

    def sh3(text: str) -> set:
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    train = {d["doc_id"]: sh3(d["text"]) for d in docs if not is_bench(d["doc_id"])}
    bench = {d["doc_id"]: sh3(d["text"]) for d in docs if is_bench(d["doc_id"])}
    expected = {}
    for tid, ts in train.items():
        for bid, bs in bench.items():
            c = len(ts & bs)
            if c and 2 * c >= len(ts) + len(bs) - c:  # jaccard >= 0.5, exact
                expected[(tid, bid)] = c / (len(ts) + len(bs) - c)
    rows = engine.queries()["stream_fuzzy_decontaminate"](spark, SF_DIR).collect()
    got = {(r.doc_id, r.bench_id): r.jaccard for r in rows}
    assert set(got) == set(expected) and expected
    for k, j in expected.items():
        assert abs(got[k] - j) < 1e-3, (k, got[k], j)
    batch = {
        r.doc_id: (r.n_bench_matches, r.max_jaccard)
        for r in engine.queries()["fuzzy_decontaminate_minhash"](spark, SF_DIR).collect()
    }
    rollup = {}
    for (tid, _bid), j in got.items():
        n, mx = rollup.get(tid, (0, 0.0))
        rollup[tid] = (n + 1, max(mx, j))
    assert rollup == batch


# ---------------------------------------------------------------------------
# doremi_domain_weights


def test_doremi_domain_weights_match_exact_python(spark):
    """Full-pipeline replay in pure Python: corpus unigram frequencies,
    per-doc CCNet score (rounded 4dp — the shared scorer's contract),
    micro-unit conversion, per-source floor-mean loss, clipped excess,
    and every multiplicative-weights round in exact ints. Every output
    value must match exactly (integers end-to-end past the scorer).
    Plus the invariants: weights stay normalized to 1e6 ppm within
    floor-division slack, and the max-excess domain holds the max final
    weight (the minimax direction of the update)."""
    import math
    from collections import Counter, defaultdict

    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    freq = Counter(w for d in docs for w in d["text"].split(" "))
    tot = sum(freq.values())
    micro = {}
    for d in docs:
        toks = d["text"].split(" ")
        s = round(sum(-math.log(freq[w] / tot) for w in toks) / len(toks), 4)
        micro[d["doc_id"]] = round(s * 10000)
    by_src = defaultdict(list)
    for d in docs:
        by_src[d["source"]].append(micro[d["doc_id"]])
    l0 = sum(micro.values()) // len(micro)
    loss = {s: sum(v) // len(v) for s, v in by_src.items()}
    excess = {s: max(v - l0, 0) for s, v in loss.items()}
    srcs = sorted(by_src)
    w = {s: 1_000_000 // len(srcs) for s in srcs}
    acc = {s: 0 for s in srcs}
    for _ in range(4):
        u = {s: w[s] * (10_000 + excess[s]) for s in srcs}
        su = sum(u.values())
        w = {s: u[s] * 1_000_000 // su for s in srcs}
        for s in srcs:
            acc[s] += w[s]
    rows = engine.queries()["doremi_domain_weights"](spark, SF_DIR).collect()
    assert [r.source for r in rows] == srcs
    for r in rows:
        assert r.n_docs == len(by_src[r.source])
        assert r.loss_micro == loss[r.source], (r.source, r.loss_micro)
        assert r.excess_micro == excess[r.source]
        assert r.w_final_ppm == w[r.source]
        assert r.w_avg_ppm == acc[r.source] // 4
    total = sum(r.w_final_ppm for r in rows)
    assert 1_000_000 - len(srcs) <= total <= 1_000_000
    hot = max(rows, key=lambda r: r.excess_micro)
    assert hot.w_final_ppm == max(r.w_final_ppm for r in rows)


# ---------------------------------------------------------------------------
# knn_graph_lpa_communities


def test_lpa_communities_match_pure_python_propagation(spark):
    """Replay the 3 synchronous vote rounds in pure Python over the
    REGISTERED base edge list (knn_graph_topk — itself oracle-checked, so
    the graph is pinned elsewhere; this test pins the PROPAGATION logic:
    undirected + self vote, most-frequent label, ties to smallest)."""
    from collections import Counter, defaultdict

    edges = [
        (r.src_id, r.nbr_id)
        for r in engine.queries()["knn_graph_topk"](spark, SF_DIR).collect()
    ]
    und = defaultdict(set)
    for a, b in edges:
        und[a].add(b)
        und[b].add(a)
    # every vector is a node — isolated vectors are singleton communities
    all_ids = pq.read_table(
        os.path.join(SF_DIR, "embeddings.parquet"), columns=["vec_id"]
    ).column("vec_id").to_pylist()
    for n in all_ids:
        und.setdefault(n, set())
    lab = {n: n for n in und}
    for _ in range(3):
        new = {}
        for n, nbrs in und.items():
            votes = Counter(lab[m] for m in nbrs)
            votes[lab[n]] += 1  # self vote
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lab = new
    sizes = Counter(lab.values())
    rows = engine.queries()["knn_graph_lpa_communities"](spark, SF_DIR).collect()
    got = {r.vec_id: (r.community, r.community_size) for r in rows}
    assert got == {n: (l, sizes[l]) for n, l in lab.items()}
    # non-vacuous: propagation actually merged labels (communities exist)
    assert len(sizes) < len(und)
    assert max(sizes.values()) > 1


# ---------------------------------------------------------------------------
# wordpiece_train_merges


def test_wordpiece_train_matches_pure_python(spark):
    """Full trainer replay in pure Python: char-init vocab, weighted
    unigram/pair counts per round, the 1e12-quantized likelihood argmax
    with (score DESC, lhs, rhs) ties, left-to-right non-overlapping merge
    application. All five output columns must match exactly."""
    from collections import Counter

    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    wc = Counter(w for d in docs for w in d["text"].split(" ") if w != "")
    seqs = {w: list(w) + ["</w>"] for w in wc}
    expected = []
    for r in range(1, 9):
        ug: Counter = Counter()
        pc: Counter = Counter()
        for w, cnt in wc.items():
            t = seqs[w]
            for s in t:
                ug[s] += cnt
            for i in range(len(t) - 1):
                pc[(t[i], t[i + 1])] += cnt
        scored = [
            (c * 10**12 // (ug[a] * ug[b]), a, b, c) for (a, b), c in pc.items()
        ]
        score, a, b, c = sorted(scored, key=lambda x: (-x[0], x[1], x[2]))[0]
        expected.append((r, a, b, c, score))
        for w in seqs:
            t, out, i = seqs[w], [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            seqs[w] = out
    rows = engine.queries()["wordpiece_train_merges"](spark, SF_DIR).collect()
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count, r.score_x1e12) for r in rows]
    assert got == expected


# ---------------------------------------------------------------------------
# community_capped_select


def test_community_capped_select_composes_the_registered_parts(spark):
    """The kept set must be EXACTLY the per-community top-4 (lowest
    unigram_nlp, ties → lowest doc_id) computed from the two REGISTERED
    frames it composes — the community assignment and the CCNet scores —
    with ranks contiguous from 1 and never exceeding the community
    size."""
    from collections import defaultdict

    comm = {
        r.vec_id: r.community
        for r in engine.queries()["knn_graph_lpa_communities"](spark, SF_DIR).collect()
    }
    nlp = {
        r.doc_id: r.unigram_nlp
        for r in engine.queries()["perplexity_buckets_ccnet"](spark, SF_DIR).collect()
    }
    by_comm = defaultdict(list)
    for node, c in comm.items():
        if node in nlp:
            by_comm[c].append((nlp[node], node))
    expected = {}
    for c, members in by_comm.items():
        for rk, (s, node) in enumerate(sorted(members)[:4], start=1):
            expected[(c, node)] = (rk, s)
    rows = engine.queries()["community_capped_select"](spark, SF_DIR).collect()
    got = {(r.community, r.doc_id): (r.rank_in_community, r.unigram_nlp) for r in rows}
    assert got == expected and expected
    # a community larger than the cap actually got truncated (non-vacuous)
    assert any(len(m) > 4 for m in by_comm.values())


# ---------------------------------------------------------------------------
# filter_ablation_matrix


def test_filter_ablation_matrix_matches_pure_python(spark):
    """Replay the four Gopher rules in pure Python (4dp-rounded metrics,
    same thresholds) and count pairwise co-rejections; the matrix must
    match exactly, carry all 10 unordered pairs (zero-filled), and its
    diagonal must equal the registered flags entry's per-rule rejection
    counts (one rule set, two consumers)."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    stop = {"a", "the", "and", "of", "to", "in"}
    fails = {}
    for d in docs:
        t = d["text"].split(" ")
        n = len(t)
        mean_len = round(sum(len(w) for w in t) / n, 4)
        n_stop = sum(w in stop for w in t)
        alpha = round(sum(any(c.isalpha() for c in w) for w in t) / n, 4)
        f = set()
        if not (50 <= n <= 100000):
            f.add("words")
        if not (3 <= mean_len <= 10):
            f.add("wordlen")
        if not (n_stop >= 2):
            f.add("stopwords")
        if not (alpha >= 0.8):
            f.add("alpha")
        fails[d["doc_id"]] = f
    names = sorted(["words", "wordlen", "stopwords", "alpha"])
    expected = {}
    for x in names:
        for y in names:
            if x <= y:
                expected[(x, y)] = sum(
                    1 for f in fails.values() if x in f and y in f
                )
    rows = engine.queries()["filter_ablation_matrix"](spark, SF_DIR).collect()
    got = {(r.rule_a, r.rule_b): r.n_both_fail for r in rows}
    assert got == expected and len(got) == 10
    flags = engine.queries()["gopher_quality_flags"](spark, SF_DIR).collect()
    n_fail_any = sum(1 for r in flags if not r["pass"])
    assert n_fail_any == len([f for f in fails.values() if f])
