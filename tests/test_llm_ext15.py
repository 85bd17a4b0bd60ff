"""Ground-truth tests for the r15 containment/contrastive operators
(plans/llm_ext15.py) — pure-Python replays sharing no code with either
engine, plus the funnel-recall proof for the asymmetric prefix cut."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark.plans.dedup import _CONT_DEN, _CONT_NUM
from my_favorite_etl_pipeline_spark.plans.retrieval import _HN_DUP_T, _HN_K, _HN_QMOD, _HN_QREM
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def qs():
    return engine.queries()


def _shingle_sets(path):
    t = pq.read_table(f"{path}/documents.parquet", columns=["doc_id", "text"])
    out = {}
    for d, tx in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w = tx.split(" ")
        out[d] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    return out


def test_containment_matches_bruteforce_python(spark, qs):
    """All-pairs containment in pure Python == the prefix-funneled entry:
    this IS the 100%-recall theorem check (a funnel-lost pair would be a
    missing row)."""
    sh = _shingle_sets(SF_DIR)
    expected = {}
    for a, sa in sh.items():
        if not sa:
            continue
        for b, sb in sh.items():
            if a == b:
                continue
            c = len(sa & sb)
            if c * _CONT_DEN >= len(sa) * _CONT_NUM:
                expected[(a, b)] = (len(sa), c, c * 10000 // len(sa))

    rows = qs["containment_overlap_pairs"](spark, SF_DIR).collect()
    got = {
        (r.doc_id, r.container_id): (r.n_shingles, r.n_shared, r.containment_bp)
        for r in rows
    }
    assert got == expected
    assert expected  # the fixture corpus must contain qualifying pairs


def test_containment_asymmetric_quote_fixture(spark):
    """The direction the entry EXISTS for, pinned on a constructed
    corpus (the synthetic fixtures contain only mutual near-dup twins,
    never a quote-inside-host pair — measured across all three SFs): doc
    1 is a verbatim 15-token chunk of the 120-token doc 2, so C(1,2) = 1
    but J(1,2) ≈ 0.11 — below every registered Jaccard threshold. The
    containment funnel must emit (1, 2) and must NOT emit (2, 1)."""
    from pyspark.sql import Row

    from my_favorite_etl_pipeline_spark.operators.dedup import containment_pairs

    host_words = [f"w{i}" for i in range(120)]
    quote = " ".join(host_words[40:55])
    other = " ".join(f"x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=quote),
            Row(doc_id=2, text=" ".join(host_words)),
            Row(doc_id=3, text=other),
        ]
    )
    rows = containment_pairs(docs).collect()
    got = {(r.doc_id, r.container_id): r for r in rows}
    assert (1, 2) in got and (2, 1) not in got
    r = got[(1, 2)]
    assert r.n_shingles == 13  # 15 tokens -> 13 distinct 3-gram shingles
    assert r.n_shared == 13 and r.containment_bp == 10000
    # the quoted doc is NOT a Jaccard near-dup of its host at any
    # registered threshold: J = 13 / (13 + 118 - 13) < 0.5
    assert 13 / 118 < 0.5


def test_hard_negatives_match_bruteforce_python(spark, qs):
    """Replay the panel scoring, the dup split, and the top-k in pure
    Python over the raw embedding parquet (integer-quantized cosine, the
    graph family's arithmetic)."""
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    q = {
        v: [math.floor(float(x) * 10000) for x in e]
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    }
    s = {v: math.isqrt(sum(x * x for x in qv)) for v, qv in q.items()}

    def cos(a, b):
        if s[a] < 2 or s[b] < 2:
            return 0
        d = sum(x * y for x, y in zip(q[a], q[b]))
        return (d + 2 * s[a] * s[b]) * 10000 // (s[a] * s[b]) - 20000

    panel = [v for v in q if v % _HN_QMOD == _HN_QREM]
    assert panel  # fixture must seat a panel
    expected = {}
    for p in panel:
        scored = [(cos(p, c), c) for c in q if c != p]
        negs = sorted(
            ((sc, c) for sc, c in scored if sc < _HN_DUP_T),
            key=lambda x: (-x[0], x[1]),
        )[:_HN_K]
        nd = sum(1 for sc, _ in scored if sc >= _HN_DUP_T)
        for rk, (sc, c) in enumerate(negs, start=1):
            expected[(p, c)] = (rk, sc, nd)

    rows = qs["hard_negative_pairs"](spark, SF_DIR).collect()
    got = {
        (r.query_id, r.negative_id): (r.rank, r.score_x1e4, r.n_dups_excluded)
        for r in rows
    }
    assert got == expected
    # the exclusion arm must FIRE somewhere or the dup split is vacuous
    assert any(nd > 0 for _, _, nd in expected.values())


def test_lsh_recall_report_matches_pure_python(spark, qs):
    """Full report replay: md5-permutation signatures, tuple banding,
    exact qualifying pairs, per-band and union coverage — no shared code
    with either engine."""
    import hashlib

    from my_favorite_etl_pipeline_spark.plans.retrieval import (
        _LSH_BAND_ROWS,
        _LSH_PERMS,
        _LSH_RPT_DEN,
        _LSH_RPT_NUM,
    )

    sh = _shingle_sets(SF_DIR)
    n_bands = _LSH_PERMS // _LSH_BAND_ROWS

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    exact = set()
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a >= b or not sa or not sb:
                continue
            c = len(sa & sb)
            if (_LSH_RPT_DEN + _LSH_RPT_NUM) * c >= _LSH_RPT_NUM * (
                len(sa) + len(sb)
            ):
                exact.add((a, b))

    sig = {
        d: [
            min(md5_32(f"{g}#{i}") for g in gs) if gs else None
            for i in range(_LSH_PERMS)
        ]
        for d, gs in sh.items()
    }
    per_band_cand = {b: set() for b in range(n_bands)}
    docs = sorted(sh)
    from collections import defaultdict

    for b in range(n_bands):
        buckets = defaultdict(list)
        for d in docs:
            if sh[d]:
                key = (sig[d][2 * b], sig[d][2 * b + 1])
                buckets[key].append(d)
        for ids in buckets.values():
            for i, x in enumerate(ids):
                for y in ids[i + 1 :]:
                    per_band_cand[b].add((min(x, y), max(x, y)))
    union_cand = set().union(*per_band_cand.values())

    rows = {r.band_idx: r for r in qs["lsh_recall_report"](spark, SF_DIR).collect()}
    assert set(rows) == set(range(n_bands)) | {-1}
    tot = len(exact)
    assert tot > 0  # the fixture must contain qualifying pairs
    for b in range(n_bands):
        r = rows[b]
        assert r.n_candidate_pairs == len(per_band_cand[b]), b
        assert r.n_qualifying_hit == len(per_band_cand[b] & exact), b
        assert r.n_qualifying_total == tot
        assert r.recall_bp == len(per_band_cand[b] & exact) * 10000 // tot
    u = rows[-1]
    assert u.n_candidate_pairs == len(union_cand)
    assert u.n_qualifying_hit == len(union_cand & exact)
    # the banding geometry is tuned for J >= 0.9 but must still catch
    # nearly every 0.5-threshold pair on this corpus (P(candidate|J=0.5)
    # = 1-(1-J^2)^16 ~ 0.99); a large miss means the signature or
    # banding drifted
    assert u.recall_bp >= 9000


def test_ann_ranking_report_matches_composed_metrics(spark, qs):
    """The metric tail replayed in pure Python over (a) the REGISTERED
    serving entry's own output (embedding_topk_ivf_batch — same panel,
    k, and probes) and (b) an independent exact arm (numpy cosine, 4dp)
    — the composition-testing discipline: the report must describe
    exactly the serving pipeline it audits."""
    from my_favorite_etl_pipeline_spark.plans.retrieval import _ARR_DISC, _ARR_K

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    vecs = {
        v: [float(x) for x in e]
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    }

    def cos4(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(num / (na * nb), 4)

    served = {}
    for r in qs["embedding_topk_ivf_batch"](spark, SF_DIR).collect():
        served.setdefault(r.query_id, {})[r.vec_id] = r.rank

    panel = sorted(served)
    assert panel == sorted(v for v in vecs if v % 100 == 0)
    expected = {}
    for p in panel:
        ranked = sorted(
            ((cos4(vecs[p], vecs[c]), c) for c in vecs),
            key=lambda x: (-x[0], x[1]),
        )[:_ARR_K]
        re = {c: i + 1 for i, (_, c) in enumerate(ranked)}
        idcg = sum((_ARR_K - r + 1) * _ARR_DISC[r - 1] for r in re.values())
        hits = [(rs, re[c]) for c, rs in served[p].items() if c in re]
        dcg = sum((_ARR_K - e + 1) * _ARR_DISC[s - 1] for s, e in hits)
        first = min((s for s, _ in hits), default=None)
        expected[p] = (
            first,
            1_000_000 // first if first else 0,
            dcg,
            dcg * 10000 // idcg,
        )

    rows = qs["ann_ranking_report"](spark, SF_DIR).collect()
    got = {
        r.query_id: (r.first_hit_rank, r.mrr_x1e6, r.dcg_micro, r.ndcg_bp)
        for r in rows
    }
    assert got == expected
    # non-vacuous: a probe-3 IVF on this corpus must MISS something the
    # exact arm ranks (ndcg < 10000 somewhere), else the report measures
    # nothing the recall floors don't already pin
    assert any(v[3] < 10000 for v in expected.values())


def test_benford_audit_matches_pure_python(spark, qs):
    from my_favorite_etl_pipeline_spark.plans.relational_ext import _BENFORD_EXP_PPM

    t = pq.read_table(f"{SF_DIR}/orders.parquet", columns=["o_totalprice"])
    digits = [
        int(str(int(math.floor(v)))[0])
        for v in t["o_totalprice"].to_pylist()
        if v >= 1
    ]
    tot = len(digits)
    rows = {r.digit: r for r in qs["benford_amount_audit"](spark, SF_DIR).collect()}
    assert set(rows) == set(range(1, 10))
    for d in range(1, 10):
        n = sum(1 for x in digits if x == d)
        r = rows[d]
        assert r.n_obs == n
        assert r.obs_ppm == n * 1_000_000 // tot
        assert r.exp_ppm == _BENFORD_EXP_PPM[d - 1]
        assert r.dev_ppm == r.obs_ppm - r.exp_ppm
    # the audit must MEASURE something on this corpus: band-uniform
    # synthetic prices are non-Benford by construction
    assert any(abs(rows[d].dev_ppm) > 10_000 for d in range(1, 10))


def test_stream_containment_screen_matches_pure_python(spark, qs):
    """Cross-split containment replay: odd (arriving) vs even (lake)."""
    sh = _shingle_sets(SF_DIR)
    expected = {}
    for a, sa in sh.items():
        if a % 2 == 0 or not sa:
            continue
        for b, sb in sh.items():
            if b % 2 == 1:
                continue
            c = len(sa & sb)
            if c * 5 >= len(sa) * 4:
                expected[(a, b)] = (len(sa), c, c * 10000 // len(sa))
    rows = qs["stream_containment_screen"](spark, SF_DIR).collect()
    got = {
        (r.doc_id, r.ref_id): (r.n_shingles, r.n_shared, r.containment_bp)
        for r in rows
    }
    assert got == expected
    assert expected  # fixture must fire the screen


def test_stream_containment_screen_asymmetric_direction(spark, tmp_path):
    """The quote-inside-host asymmetry through the STREAMING arm, on a
    constructed corpus written as a real parquet source: the arriving
    quote (odd id) of a lake host (even id) must flag; an arriving host
    whose quote sits in the lake must NOT (C = 13/118 < 4/5)."""
    import pyarrow as pa

    from my_favorite_etl_pipeline_spark.streaming.windows import (
        stream_containment_screen,
    )

    host = " ".join(f"w{i}" for i in range(120))
    quote = " ".join(f"w{i}" for i in range(40, 55))
    host2 = " ".join(f"y{i}" for i in range(120))
    quote2 = " ".join(f"y{i}" for i in range(40, 55))
    tbl = pa.table(
        {
            "doc_id": [1, 2, 3, 4],
            # 1 = arriving quote, 2 = lake host  -> must flag (1, 2)
            # 3 = arriving host, 4 = lake quote  -> must NOT flag (3, 4)
            "text": [quote, host, host2, quote2],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = stream_containment_screen(spark, str(tmp_path)).collect()
    got = {(r.doc_id, r.ref_id) for r in rows}
    assert (1, 2) in got and (3, 4) not in got
    r = next(x for x in rows if (x.doc_id, x.ref_id) == (1, 2))
    assert r.n_shingles == 13 and r.n_shared == 13 and r.containment_bp == 10000


def test_weighted_sample_es_matches_pure_python(spark, qs):
    """Replay the whole draw — corpus unigram-NLP score, md5 uniform,
    ES key, top-N — in pure Python; also pin the WEIGHTING direction
    (conditioned on equal luck, lower-surprise docs must rank higher)."""
    import hashlib
    from collections import Counter

    from my_favorite_etl_pipeline_spark.plans.assembly import _ES_SEED, _ES_TOP

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        d: tx.split(" ")
        for d, tx in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
    }
    freq = Counter(w for ws in toks.values() for w in ws)
    tot = sum(freq.values())
    s = {
        d: round(sum(-math.log(freq[w] / tot) for w in ws) / len(ws), 4)
        for d, ws in toks.items()
        if ws
    }

    def u(d):
        h = int(
            hashlib.md5(f"es-sample|{d}|{_ES_SEED}".encode()).hexdigest()[:8],
            16,
        )
        return (h + 0.5) / 4294967296.0

    keyed = sorted(
        ((round(math.log(u(d)) * sv, 4), d) for d, sv in s.items()),
        key=lambda x: (-x[0], x[1]),
    )[:_ES_TOP]

    rows = qs["weighted_sample_es_topn"](spark, SF_DIR).collect()
    assert len(rows) == _ES_TOP
    for rk, (k, d) in enumerate(keyed, start=1):
        r = rows[rk - 1]
        assert (r.rank, r.doc_id) == (rk, d), rk
        assert abs(r.es_key - k) < 5e-4, rk
        assert abs(r.unigram_nlp - s[d]) < 5e-4, rk
    # weighting direction: among sampled docs the mean surprise must sit
    # BELOW the corpus mean (low-perplexity docs are upweighted)
    sampled = {r.doc_id for r in rows}
    m_in = sum(s[d] for d in sampled) / len(sampled)
    m_all = sum(s.values()) / len(s)
    assert m_in < m_all


def test_fk_orphan_audit_fixture_clean_and_detection_arm(spark, qs):
    """The registered audit must read 0 orphans on the referentially
    intact fixture; the DETECTION arm is pinned on a constructed corpus
    (orphans + NULL FKs — NULLs are completeness, not referential)."""
    from pyspark.sql import Row

    from my_favorite_etl_pipeline_spark.operators.dq import fk_orphan_counts
    from my_favorite_etl_pipeline_spark.plans.relational_ext import _FK_EDGES

    rows = qs["fk_orphan_audit"](spark, SF_DIR).collect()
    assert len(rows) == len(_FK_EDGES)
    assert all(r.n_orphans == 0 and r.orphan_ppm == 0 for r in rows)
    assert all(r.n_child_rows > 0 for r in rows)

    child = spark.createDataFrame(
        [Row(k=1), Row(k=2), Row(k=99), Row(k=None), Row(k=98)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    r = fk_orphan_counts(child, "k", parent, "pk", "c", "p").collect()[0]
    assert (r.n_child_rows, r.n_orphans) == (5, 2)  # 99, 98; NULL excluded
    assert r.orphan_ppm == 2 * 1_000_000 // 5


def test_containment_drops_match_pure_python(spark, qs):
    """The drop rollup replayed over the brute-force pair set: best
    container by (containment DESC, lowest id), container counts, and
    consistency with the REGISTERED pairs entry."""
    sh = _shingle_sets(SF_DIR)
    pairs = {}
    for a, sa in sh.items():
        if not sa:
            continue
        for b, sb in sh.items():
            if a == b:
                continue
            c = len(sa & sb)
            if c * _CONT_DEN >= len(sa) * _CONT_NUM:
                pairs.setdefault(a, []).append((c * 10000 // len(sa), b))
    expected = {
        a: (
            min(b for bp, b in lst if (bp, -b) == max((bp, -b) for bp, b in lst)),
            max(bp for bp, _ in lst),
            len(lst),
        )
        for a, lst in pairs.items()
    }
    rows = qs["containment_dedup_drops"](spark, SF_DIR).collect()
    got = {
        r.doc_id: (r.best_container, r.containment_bp, r.n_containers)
        for r in rows
    }
    assert got == expected
    assert expected  # the fixture must produce drops
    # consistency with the registered pairs entry: drops == distinct
    # contained doc ids
    pair_rows = qs["containment_overlap_pairs"](spark, SF_DIR).collect()
    assert set(got) == {r.doc_id for r in pair_rows}
