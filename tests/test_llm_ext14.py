"""Ground-truth tests for the r15 breadth operators (plans/llm_ext14.py):
k-core peel, gram novelty, and the UniMax water-fill — each replayed in
pure Python against the registered entry (the oracle harness checks the
SQL twin; these pin the logic against an implementation that shares no
code with either engine)."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark.plans.assembly import _UMX_B_DEN, _UMX_B_NUM, _UMX_EPOCHS
from my_favorite_etl_pipeline_spark.plans.graph import _KCORE_K, _KCORE_ROUNDS
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def qs():
    return engine.queries()


def test_kcore_matches_pure_python_peel(spark, qs):
    """Replay the peel over the SAME undirected edges the entry consumes
    (the shared `_und_frame`), in pure Python sets."""
    from my_favorite_etl_pipeline_spark.plans.graph import _und_frame

    assign, und = _und_frame(spark, SF_DIR)
    edges = [(r.node, r.nbr) for r in und.collect()]
    nodes = {r.vec_id for r in assign.select("vec_id").collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)

    alive = set(nodes)
    survived = {n: _KCORE_ROUNDS for n in nodes}
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = {n: len(adj[n] & alive) for n in alive}
        nxt = {n for n in alive if deg[n] >= _KCORE_K}
        for n in alive - nxt:
            survived[n] = rnd - 1
        alive = nxt

    rows = qs["knn_graph_kcore"](spark, SF_DIR).collect()
    assert {r.vec_id for r in rows} == nodes
    for r in rows:
        assert r.degree == len(adj[r.vec_id]), r.vec_id
        assert r.rounds_survived == survived[r.vec_id], r.vec_id
        assert r.in_core == (survived[r.vec_id] == _KCORE_ROUNDS)
    # the peel must actually peel something AND keep a core, or the
    # fixture proves nothing
    assert any(not r.in_core for r in rows)
    assert any(r.in_core for r in rows)
    # every round of the trajectory must peel someone (the K=4 knob was
    # MEASURED to cascade for >= 3 rounds at every SF; a round that peels
    # nothing has converged and the remaining rounds are vacuous)
    by_round = Counter(r.rounds_survived for r in rows if not r.in_core)
    assert all(by_round[i] > 0 for i in range(_KCORE_ROUNDS)), by_round
    # fixed-rounds contract (NOT the converged k-core property): an
    # in-core node had >= K neighbors among the PREVIOUS round's
    # survivors — exactly what the replay asserts row by row above


def test_triangles_matches_pure_python(spark, qs):
    """Replay per-node triangle counts and the clustering coefficient
    over the SAME undirected edges the entry consumes."""
    from my_favorite_etl_pipeline_spark.plans.graph import _und_frame

    assign, und = _und_frame(spark, SF_DIR)
    nodes = {r.vec_id for r in assign.select("vec_id").collect()}
    adj = defaultdict(set)
    for r in und.collect():
        adj[r.node].add(r.nbr)

    rows = qs["knn_graph_triangles"](spark, SF_DIR).collect()
    assert {r.vec_id for r in rows} == nodes
    for r in rows:
        nbrs = adj[r.vec_id]
        tri = sum(
            1 for v in nbrs for w in nbrs if v < w and w in adj[v]
        )
        assert r.degree == len(nbrs), r.vec_id
        assert r.triangles == tri, r.vec_id
        if r.degree >= 2:
            assert r.clustering_bp == tri * 20000 // (
                r.degree * (r.degree - 1)
            ), r.vec_id
        else:
            assert r.clustering_bp is None, r.vec_id
    # non-vacuous: the graph must contain closed AND open neighborhoods
    assert any(r.triangles > 0 for r in rows)
    assert any(r.triangles == 0 and r.degree >= 2 for r in rows)


def test_gram_novelty_matches_pure_python(spark, qs):
    """Replay gram df + per-doc unique share from the raw parquet."""
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    grams = {}
    for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w = text.split(" ")
        grams[doc_id] = {" ".join(w[i : i + 13]) for i in range(len(w) - 12)}
    df = Counter(g for gs in grams.values() for g in gs)
    expected = {
        d: (len(gs), sum(1 for g in gs if df[g] == 1))
        for d, gs in grams.items()
        if gs
    }
    rows = qs["gram_novelty_scores"](spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_grams, r.n_unique, r.novelty_bp) for r in rows}
    assert set(got) == set(expected)
    for d, (ng, nu) in expected.items():
        assert got[d] == (ng, nu, nu * 10000 // ng), d
    # non-vacuous: the corpus must contain both novel and duplicated grams
    assert any(nu > 0 for _, nu in expected.values())
    assert any(nu < ng for ng, nu in expected.values())


def _unimax_python(tokens_by_lang: dict[str, int]):
    """Independent closed-form replay (and its iterative cross-check)."""
    total = sum(tokens_by_lang.values())
    budget = total * _UMX_B_NUM // _UMX_B_DEN
    order = sorted(tokens_by_lang, key=lambda l: (_UMX_EPOCHS * tokens_by_lang[l], l))
    n = len(order)
    alloc = {}
    remaining, left = budget, n
    final_level = None
    for lang in order:
        cap = _UMX_EPOCHS * tokens_by_lang[lang]
        level = remaining // left
        if final_level is None and cap > level:
            final_level = level
        if final_level is None:
            alloc[lang] = cap
            remaining -= cap
            left -= 1
        else:
            alloc[lang] = final_level
    return alloc, budget


def test_unimax_all_capped_branch(spark, qs, monkeypatch):
    """Pin the rstar = n+1 fallback (budget >= sum of caps): EVERY
    language must come back capped, not an annihilated empty frame
    (mid-r15 review — the filter-join form returned 0 rows here while
    the oracle kept each language at its cap). The Spark arm reads the
    budget knob from the module global at call time, so monkeypatching
    _UMX_B_NUM = 2*_UMX_EPOCHS + 1 drives budget strictly above the
    total epoch-cap mass at any corpus shape."""
    import my_favorite_etl_pipeline_spark.plans.assembly as m

    monkeypatch.setattr(m, "_UMX_B_NUM", 2 * _UMX_EPOCHS * _UMX_B_DEN + 1)
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["lang", "text"])
    tk = Counter()
    for lang, text in zip(t["lang"].to_pylist(), t["text"].to_pylist()):
        tk[lang] += len(text.split(" "))

    rows = qs["unimax_language_budget"](spark, SF_DIR).collect()
    assert sorted(r.lang for r in rows) == sorted(tk)  # nobody vanishes
    for r in rows:
        assert r.alloc_tokens == r.cap_tokens == _UMX_EPOCHS * tk[r.lang]
        assert r.epochs_bp == _UMX_EPOCHS * 10000


def test_unimax_matches_pure_python_waterfill(spark, qs):
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["lang", "text"])
    tk = Counter()
    nd = Counter()
    for lang, text in zip(t["lang"].to_pylist(), t["text"].to_pylist()):
        tk[lang] += len(text.split(" "))
        nd[lang] += 1
    alloc, budget = _unimax_python(dict(tk))

    rows = qs["unimax_language_budget"](spark, SF_DIR).collect()
    assert sorted(r.lang for r in rows) == sorted(tk)
    for r in rows:
        assert r.n_docs == nd[r.lang]
        assert r.lang_tokens == tk[r.lang]
        assert r.cap_tokens == _UMX_EPOCHS * tk[r.lang]
        assert r.alloc_tokens == alloc[r.lang], r.lang
        assert r.epochs_bp == alloc[r.lang] * 10000 // tk[r.lang]
        assert r.alloc_tokens <= r.cap_tokens  # never above the epoch cap
    # conservation: the fill spends the budget up to the final floor-
    # division remainder (< number of uncapped languages)
    spent = sum(r.alloc_tokens for r in rows)
    uncapped = sum(1 for r in rows if r.alloc_tokens < r.cap_tokens)
    if uncapped:
        assert 0 <= budget - spent < uncapped
        # both arms must fire or the fixture proves nothing
        assert uncapped < len(rows)
    else:
        assert spent <= budget
