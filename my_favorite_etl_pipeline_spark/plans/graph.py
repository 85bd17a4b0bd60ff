"""kNN-graph plans: construction, search and graph analytics.

- construction: exact per-cell kNN (fixed and auto k), NN-Descent
  refinement and its high-quality variant, all scored with the integer
  quantized-cosine contract so DuckDB replays every edge;
- search: one query-keyed beam search over the committed graph; the
  single-query, batched, durable and two/three-layer HNSW-routed entries
  differ only in their query set and entry points;
- analytics on the undirected graph: PageRank, label propagation,
  k-core and triangle counts.

The graph and its LPA labels are committed once per process through
``artifacts.memoized_commit`` and read back as tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..caching import tracked_persist
from ..functions.exprs import duck_md5_32, spark_md5_32
from ..functions.vectors import AUTO_K_SQL, DUCK_QASSIGN, duck_hash_assign, duck_int_cos
from ..registry import register
from ..sources.tables import load


# ---------------------------------------------------------------------------
# knn_graph_topk

_KNN_K = 3  # neighbors per node

_KNN_SEEDS = 5  # deterministic random seed edges per node (NN-Descent init)

_KNN_W = 24  # working-list width between rounds (> K keeps exploratory edges)

_KNN_ROUNDS = 4  # refinement rounds (r13: 3→4 per the measured payoff curve in
# BASELINE.md — sf0.1 edge recall 0.690→0.796 for ~+20% build; flip armed on
# the family's r12 all-green driver row, VERDICT r12 item 2)

_KNN_CAP = 24  # per-node fan-out cap in the two-hop join. (W, CAP) flipped
# 16→24 JOINTLY in r14 per the measured payoff surface (BASELINE.md r13,
# "NN-Descent width/cap payoff curve"):
# W alone bought +0.003 (fan-out-bound at CAP=16), CAP alone +0.066
# (list-bound at W=16), but (24, 24) jointly reads 0.958 sf0.1 edge recall
# (+0.162 over the (16, 16) 0.796) for ~+43% build — a better trade than a
# fifth round (+0.04). CAP was previously DERIVED as 2*(_KNN_K+_KNN_SEEDS);
# it is now an explicit constant so the two-hop fan-out no longer silently
# re-binds if K/SEEDS ever change (the probe's own closing note).


def _knn_base_cte(k_sql: str = "8", keyword: str = "WITH") -> str:
    """Shared oracle prefix: the SemDeDup assignment
    (``functions.vectors.duck_hash_assign``, so the families cannot drift)
    + the integer-quantized vector table ``qassign`` + the within-cell pair
    scoring + the base top-K edge list ``e0(src_id, nbr_id, cos_sim,
    rnk)``. ``k_sql``: cell count expression — "8" for the fixed-k
    flagship, ``AUTO_K_SQL`` for the scale-safe auto-k twin; ``keyword``
    threads ``WITH RECURSIVE`` through for recursive compositions. All
    scores are the pure-integer quantized cosine, so no IEEE float reaches
    a hashed value."""
    return f"""
    {duck_hash_assign(1, k_sql, keyword)},
    {DUCK_QASSIGN},
    p AS (
      SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
             {duck_int_cos("a.q", "a.s", "b.q", "b.s")} AS cos_sim
      FROM qassign a JOIN qassign b
        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
    ),
    e0 AS (SELECT src_id, nbr_id, cos_sim,
                  ROW_NUMBER() OVER (PARTITION BY src_id
                                     ORDER BY cos_sim DESC, nbr_id) AS rnk
           FROM p)"""


def _knn_oracle(k_sql: str = "8") -> str:
    return f"""
    {_knn_base_cte(k_sql)}
    SELECT src_id, CAST(rnk AS INT) AS rank, nbr_id, cos_sim / 10000.0 AS cos_sim
    FROM e0 WHERE rnk <= {_KNN_K} ORDER BY src_id, rank
    """


def _knn_round_cte(i: int, cap: int, w: int) -> str:
    """One NN-Descent round as CTEs: working list ``wk{i-1}`` -> ``wk{i}``.
    Undirected adjacency -> deterministic top-``cap`` fan-out -> two-hop
    candidates -> exact re-score against the assignment's vectors -> merge
    with the working list -> top-``w`` per source."""
    prev = f"wk{i - 1}"
    return f"""
    und{i} AS (
      SELECT DISTINCT node, nbr, cos_sim FROM (
        SELECT src_id AS node, nbr_id AS nbr, cos_sim FROM {prev}
        UNION ALL
        SELECT nbr_id AS node, src_id AS nbr, cos_sim FROM {prev})
    ),
    undc{i} AS MATERIALIZED (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos_sim DESC, nbr) AS rn
        FROM und{i})
      WHERE rn <= {cap}
    ),
    cand{i} AS (
      SELECT DISTINCT ha.node AS src_id, hb.nbr AS nbr_id
      FROM undc{i} ha JOIN undc{i} hb ON ha.nbr = hb.node
      WHERE ha.node <> hb.nbr
    ),
    resc{i} AS (
      SELECT c.src_id, c.nbr_id,
             {duck_int_cos("x.q", "x.s", "y.q", "y.s")} AS cos_sim
      FROM cand{i} c
      JOIN qassign x ON x.vec_id = c.src_id
      JOIN qassign y ON y.vec_id = c.nbr_id
    ),
    m{i} AS (SELECT DISTINCT src_id, nbr_id, cos_sim FROM (
               SELECT * FROM {prev} UNION ALL SELECT * FROM resc{i})),
    wk{i} AS MATERIALIZED (
      SELECT src_id, nbr_id, cos_sim FROM (
        SELECT src_id, nbr_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY cos_sim DESC, nbr_id) AS rn
        FROM m{i})
      WHERE rn <= {w}
    )"""


def _knn_refined_cte(
    n_rounds: int = _KNN_ROUNDS, w: int = _KNN_W, cap: int = _KNN_CAP
) -> str:
    """Shared oracle prefix through ``wk{n_rounds}`` — assignment +
    base edges + deterministic random seeds + the NN-Descent round blocks.
    Consumed by the refined-graph oracle (final top-K re-rank) AND the
    graph-search oracle (search over the W-wide working graph), so the
    graph that is searched is provably the graph that was built; the r14 quality-tier twin replays the SAME text at (w, cap) =
    (32, 32) — one generator, every tier."""
    seed_md5 = duck_md5_32(
        "'knn|' || CAST(a.vec_id AS VARCHAR) || '|' || CAST(rr.r AS VARCHAR)"
    )
    rounds = "".join(
        "," + _knn_round_cte(i, cap, w) for i in range(1, n_rounds + 1)
    )
    return f"""
    {_knn_base_cte()},
    eb AS (SELECT src_id, nbr_id, cos_sim FROM e0 WHERE rnk <= {_KNN_K}),
    seeds AS (
      SELECT a.vec_id AS src_id,
             (a.vec_id + 1 + (({seed_md5}) % (nn.n - 1))) % nn.n AS nbr_id
      FROM qassign a
      CROSS JOIN (SELECT COUNT(*) AS n FROM embeddings) nn
      CROSS JOIN (SELECT UNNEST(range(1, {_KNN_SEEDS} + 1)) AS r) rr
    ),
    sesc AS (
      SELECT s.src_id, s.nbr_id,
             {duck_int_cos("x.q", "x.s", "y.q", "y.s")} AS cos_sim
      FROM seeds s
      JOIN qassign x ON x.vec_id = s.src_id
      JOIN qassign y ON y.vec_id = s.nbr_id
    ),
    wk0 AS MATERIALIZED (
      SELECT src_id, nbr_id, cos_sim FROM (
        SELECT src_id, nbr_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY cos_sim DESC, nbr_id) AS rn
        FROM (SELECT DISTINCT src_id, nbr_id, cos_sim FROM (
                SELECT * FROM eb UNION ALL SELECT * FROM sesc)))
      WHERE rn <= {w}
    ){rounds}"""


def _knn_nn_descent_oracle() -> str:
    """NN-Descent replayed in SQL (see _knn_refined_cte) + the final
    top-K re-rank."""
    return f"""
    {_knn_refined_cte()}
    SELECT src_id, CAST(rn AS INT) AS rank, nbr_id,
           cos_sim / 10000.0 AS cos_sim FROM (
      SELECT src_id, nbr_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY cos_sim DESC, nbr_id) AS rn
      FROM wk{_KNN_ROUNDS})
    WHERE rn <= {_KNN_K} ORDER BY src_id, rank
    """


@register("knn_graph_topk", oracle=_knn_oracle())
def q_knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ — approximate k-NN graph construction: the top-{_KNN_K}
    directed neighbor edges per vector, candidates restricted to the
    vector's nearest-centroid cell (the SemDeDup assignment, shared
    machinery AND shared oracle CTE — ``functions.vectors.duck_hash_assign``,
    so the two families cannot drift). The k-NN graph is the input every
    graph-based corpus tool wants: NN-Descent refinement, graph-clustering
    topic discovery, connected-component semantic dedup, HNSW layer
    seeding.

    Plan at 100 TB: assignment is the O(n·k_cells) broadcast + max_by
    aggregate; the candidate join is the within-cell Σ|cell|² equi-shuffle
    (never all-pairs); per-source top-{_KNN_K} runs as ONE
    collect_list+sort_array+slice aggregate — map-side combinable,
    {_KNN_K}-bounded output per node, no per-vector window (the semdedup
    assign_top idiom). Boundary neighbors (in a different cell) are the
    recall tradeoff — production refines with one or two NN-Descent
    rounds over the edge list, each round the same bounded join shape.
    """
    _, edges = _knn_base_edges(spark, sf_dir)
    return edges.withColumn("cos_sim", F.col("cos_sim") / 10000.0).orderBy(
        "src_id", "rank"
    )


def _knn_base_edges(spark: SparkSession, sf_dir: str, k=8):
    """Shared Spark-side base graph: returns ``(assign, edges)`` — the
    nearest-centroid assignment carrying the INTEGER-quantized vectors
    (``quantize_vectors``: __q = FLOOR(v·10⁴), __s = exact isqrt norm)
    and the ranked within-cell top-K edge list. ``cos_sim`` is the
    pure-integer quantized-cosine ten-thousandth throughout the graph
    family (``int_cos_x1e4`` / ``score_id_pairs`` — r11, no IEEE float
    upstream of any hashed value); registered queries divide by 10⁴ at
    the boundary. ``k`` may be ``"auto"`` (resolve_cell_count — the
    scale-safe twin)."""
    from ..operators.similarity import (
        int_cos_x1e4,
        knn_topk_edges,
        nearest_centroid,
        quantize_vectors,
    )

    emb = load(spark, sf_dir, "embeddings")
    # assign feeds BOTH sides of the within-cell self-join — persist it so
    # the centroid build + nearest-cell max_by + exact-isqrt quantization
    # runs once, not twice (r15-opt; same contract as prefix_filter_pairs'
    # posting persist)
    assign = tracked_persist(quantize_vectors(nearest_centroid(emb, k=k)))
    a = assign.select(
        F.col("vec_id").alias("src_id"),
        F.col("cluster"),
        F.col("__q").alias("aq"),
        F.col("__s").alias("asn"),
    )
    b = assign.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("cluster"),
        F.col("__q").alias("bq"),
        F.col("__s").alias("bsn"),
    )
    cos = int_cos_x1e4(F.col("aq"), F.col("asn"), F.col("bq"), F.col("bsn"))
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select("src_id", "nbr_id", cos.alias("cos_sim"))
    )
    return assign, knn_topk_edges(pairs, _KNN_K)


@register("knn_graph_topk_auto_k", oracle=_knn_oracle(k_sql=AUTO_K_SQL))
def q_knn_graph_topk_auto_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r10) — the kNN-graph base build with the AUTO cell count, the
    scale-safe benched plan (VERDICT r9 item 5): cells pinned at the
    64-vector target via ``resolve_cell_count`` makes the within-cell pair
    join O(n·64) — linear in n — where the registered k=8 flagship (kept
    as the oracle-replay baseline) runs ~625-vector cells at sf0.1 and
    grows quadratically past it. Same machinery, same oracle template;
    the oracle derives the identical count in SQL (``AUTO_K_SQL``).
    Recall-vs-exact floors for this twin are pinned at two scales in
    tests/test_recall_scales.py (smaller cells trade recall for pruning —
    the measured, documented SemDeDup tradeoff).
    """
    _, edges = _knn_base_edges(spark, sf_dir, k="auto")
    return edges.withColumn("cos_sim", F.col("cos_sim") / 10000.0).orderBy(
        "src_id", "rank"
    )


@register("knn_graph_nn_descent", oracle=_knn_nn_descent_oracle())
def q_knn_graph_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r9) — the kNN graph after NN-Descent refinement (Dong et al.
    2011, "Efficient K-Nearest Neighbor Graph Construction for Generic
    Similarity Measures"): the within-cell base graph is widened with
    {_KNN_SEEDS} deterministic pseudo-random seed edges per node (the
    paper's random init made replayable: portable-md5 of (node, seed#)
    mapped to (i + 1 + h mod (n-1)) mod n, never self), then {_KNN_ROUNDS}
    rounds expand neighbors-of-neighbors over the undirected working list
    (top-{_KNN_W} per node between rounds, fan-out capped at {_KNN_CAP} —
    the paper's rho*K sampling, deterministic), exact-score candidates,
    and merge; the final answer is the usual top-{_KNN_K}.

    WHY the seeds are load-bearing, not decoration (r9 measurement): all
    base edges live INSIDE a centroid cell, so neighbors-of-neighbors of
    a cell-restricted graph never leave the cell and one unseeded round
    moved recall by exactly 0.000 at both scales. Seeded + 2 rounds:
    0.24→0.81 (sf0.01), 0.26→0.50 (sf0.1) edge recall vs exact kNN —
    floor-pinned in tests/test_recall_scales.py, recorded in BASELINE.md.
    The sf0.1 gap is the documented convergence story: NN-Descent needs
    ~O(log n) rounds, and _KNN_ROUNDS is a knob — each round is the same
    bounded join shape, cost strictly linear in rounds.

    Plan at 100 TB: nothing is corpus-quadratic — the working list is
    ≤ n·{_KNN_W} rows, the capped two-hop join emits ≤ n·{_KNN_CAP}²
    candidate rows per round (linear in n; hub nodes are exactly what the
    cap bounds), scoring is two equi-joins on near-uniform id keys, and
    every merge is one row_number-free collect_list aggregate. Full
    oracle: seeds + both rounds replay in SQL over the SHARED assignment
    and base-edge CTEs (_knn_round_cte), so base and refined graphs
    cannot drift.
    """
    from ..operators.similarity import knn_topk_edges

    _, work = _knn_refined_tables(spark, sf_dir)
    return (
        knn_topk_edges(work.select("src_id", "nbr_id", "cos_sim"), _KNN_K)
        .withColumn("cos_sim", F.col("cos_sim") / 10000.0)
        .orderBy("src_id", "rank")
    )

# the near-exact tier from the r13 payoff surface: (32, 32) measured 0.994
# sf0.1 edge recall for ~2× the serving tier's build (probe table in
# BASELINE.md r13). Registered so the probe's top row is a DRIVER-CHECKABLE
# choice, not a footnote (VERDICT r13 item 6).
_KNN_HQ_W = 32

_KNN_HQ_CAP = 32


def _knn_hq_oracle() -> str:
    """The quality-tier twin of _knn_nn_descent_oracle: the IDENTICAL
    generated CTE text at (w, cap) = ({_KNN_HQ_W}, {_KNN_HQ_CAP}) — one
    generator for every tier, so the tiers cannot drift structurally."""
    return f"""
    {_knn_refined_cte(w=_KNN_HQ_W, cap=_KNN_HQ_CAP)}
    SELECT src_id, CAST(rn AS INT) AS rank, nbr_id,
           cos_sim / 10000.0 AS cos_sim FROM (
      SELECT src_id, nbr_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY cos_sim DESC, nbr_id) AS rn
      FROM wk{_KNN_ROUNDS})
    WHERE rn <= {_KNN_K} ORDER BY src_id, rank
    """


@register("knn_graph_nn_descent_hq", oracle=_knn_hq_oracle())
def q_knn_graph_nn_descent_hq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r14) — the NEAR-EXACT quality tier of the NN-Descent build:
    the same seeded 4-round refinement as knn_graph_nn_descent but with
    (W, CAP) = ({_KNN_HQ_W}, {_KNN_HQ_CAP}), the top row of the r13
    width/cap payoff surface (0.994 sf0.1 edge recall vs the serving
    tier's 0.958, 85.4 s vs 61.3 s build — the r13 payoff-curve table in
    BASELINE.md). A platform picks this tier when the graph IS
    the product (offline semantic-dedup audits, eval-set neighborhood
    maps) and the serving tier when the graph feeds a beam search that
    re-ranks anyway.

    Same machinery end to end: _knn_refined_work with (w, cap) overrides
    on the Spark side, the SAME generated round-CTE text at (32, 32) on
    the oracle side — a parameter choice, not a reimplementation, so the
    scale posture is the serving tier's (every round ≤ n·CAP² candidate
    rows, linear in n) with a 4× constant. Built inline (not memoized):
    the durable committed snapshot stays the serving tier's; this entry
    is the measurement-grade rebuild.
    """
    from ..operators.similarity import knn_topk_edges

    _, work = _knn_refined_work(spark, sf_dir, w=_KNN_HQ_W, cap=_KNN_HQ_CAP)
    return (
        knn_topk_edges(work.select("src_id", "nbr_id", "cos_sim"), _KNN_K)
        .withColumn("cos_sim", F.col("cos_sim") / 10000.0)
        .orderBy("src_id", "rank")
    )


def _knn_refined_tables(spark: SparkSession, sf_dir: str):
    """``(assign, work)`` read back from :class:`VersionedMart` COMMITS —
    the durable production posture, PROMOTED to the default r12 (VERDICT
    r11 item 4): the NN-Descent graph is built ONCE per (corpus,
    partitioning), committed through the M4 atomic manifest swap, and
    EVERY consumer — the top-K readout (`knn_graph_nn_descent`), the flat
    and durable searches, the HNSW router — serves from the committed
    snapshot. What `graph_ann_search_durable` adds on top is the
    cross-process restart semantics (fresh mart handles over a
    `materialize_knn_graph` root, pinned in tests/test_graph_durable.py).
    Memo, key and lock rules: :mod:`..artifacts`; the build is
    deterministic (integer scores, id tie-breaks) and parquet round-trips
    the integer contract columns exactly.
    """
    marts = _knn_graph_marts(spark, sf_dir)
    return marts["assign"].read(spark), marts["edges"].read(spark)


def _knn_graph_marts(spark: SparkSession, sf_dir: str):
    """The refined graph's ``assign``, ``edges`` and ``gund`` marts,
    committed once."""

    def build(commit) -> None:
        assign, work = _knn_refined_work(spark, sf_dir)
        # the search side needs only the integer contract columns
        # (quantized vector + exact integer norm); __v/__n stay out
        # of the durable table — no float ever rides to serving
        commit("assign", assign.select("vec_id", "cluster", "__q", "__s"))
        edges = commit("edges", work.select("src_id", "nbr_id", "cos_sim"))
        # the UNDIRECTED adjacency the beam search expands — the
        # symmetrize + distinct is deterministic from the edge table, so
        # it belongs in the build, not in every search call (r16-opt:
        # rebuilding + persisting it per search measured ~0.9 s/call of
        # the serving floor)
        commit("gund", _undirected(edges))

    return artifacts.memoized_commit(spark, "knn_graph", sf_dir, build=build)


def _knn_seed_scores(spark: SparkSession, sf_dir: str):
    """``(assign, base, sesc)`` — the deterministic NN-Descent seed edges
    with their quantized-integer scores (the Spark twin of the oracle's
    ``seeds``/``sesc`` CTEs). Factored out (r11) so a seed-stage
    probe replays EXACTLY the seed stage the refined build consumes — a divergence there separates scoring/seeding drift
    from round-iteration drift (VERDICT r10 item 1)."""
    from ..operators.similarity import score_id_pairs

    assign, base = _knn_base_edges(spark, sf_dir)
    n = load(spark, sf_dir, "embeddings").count()
    seed_ids = assign.select(F.col("vec_id").alias("src_id")).select(
        "src_id",
        F.explode(F.array(*[F.lit(r) for r in range(1, _KNN_SEEDS + 1)])).alias("r"),
    )
    h = spark_md5_32(F.concat_ws("|", F.lit("knn"), F.col("src_id"), F.col("r")))
    seeds = seed_ids.select(
        "src_id",
        ((F.col("src_id") + 1 + F.pmod(h, F.lit(n - 1))) % F.lit(n)).alias("cand_id"),
    )
    return assign, base, score_id_pairs(seeds, assign)


def _knn_refined_work(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = _KNN_ROUNDS,
    w: int = _KNN_W,
    cap: int = _KNN_CAP,
):
    """Shared Spark-side refined graph: ``(assign, work)`` where ``work``
    is the W-wide working edge list after seeding + ``n_rounds``
    NN-Descent rounds (the Spark twin of the oracle's ``wk{n}`` CTE).
    ``(w, cap)`` default to the registered serving tier; the r14
    quality-tier entry passes (32, 32)."""
    from ..operators.similarity import knn_topk_edges, nn_descent_round

    assign, base, sesc = _knn_seed_scores(spark, sf_dir)
    work = knn_topk_edges(
        base.select("src_id", "nbr_id", "cos_sim").unionAll(sesc).distinct(), w
    )
    for _ in range(n_rounds):
        work = nn_descent_round(
            work.select("src_id", "nbr_id", "cos_sim"),
            assign,
            k=w,
            reverse_cap=cap,
        )
        # Truncate lineage between rounds: each round's plan references its
        # input FOUR times (undirected self-union ×2, candidate self-join,
        # merge union), so an unbroken chain grows ~4^rounds copies of the
        # base subtree — measured ~600 MB of retained Catalyst objects at
        # 2 rounds, OOMing a small driver before any data moved. The edge
        # list is data-sized (n·W rows) so it canNOT collect to the driver
        # like kmeans centroids; localCheckpoint materializes it on the
        # executors (production: a reliable checkpoint dir / a table write
        # between rounds — same shape, durable). Values are unchanged:
        # every round is deterministic (rounded scores, id tie-breaks).
        work = work.localCheckpoint()
    return assign, work


# ---------------------------------------------------------------------------
# Beam search over the committed graph. One query-keyed walk serves every
# search entry: a single query is a batch of one (query_id = its vec_id),
# and the HNSW routers only choose each query's layer-0 entries.

_GS_K = 20  # final answer size of the single-query entries (the embedding_topk_* size)

_GB_K = 10  # results per query of the batched entries (the embedding_topk_ivf_batch size)

_GS_BEAM = 32  # beam width: nodes expanded per hop

_GS_HOPS = 4  # search hops

_GS_ENTRIES = 4  # deterministic entry points

_HN_MOD = 8  # 1-in-8 nodes promoted to the upper layer (portable md5)

_HN_K = 3  # upper-layer neighbors per node

_HN_HOPS = 2  # upper-layer hops (the router is shallow by design)

_HN_BEAM = 8  # upper-layer beam

_HN_FAN = 4  # upper results that seed the layer below

# The serving batch, one predicate text for both engines: every
# vec_id % 100 == 0 (the embedding_topk_ivf_batch convention — 5 at sf0.01,
# 20 at sf0.1). The single-query entries search vec 0 (the embedding_topk_*
# convention).
_BATCH_QUERIES = "vec_id % 100 = 0"


def _undirected(edges: DataFrame) -> DataFrame:
    """The undirected adjacency ``(node, nbr)`` of a directed
    ``(src_id, nbr_id)`` edge table: both directions, de-duplicated.
    SQL twin: :func:`_undirected_sql`."""
    return (
        edges.select(F.col("src_id").alias("node"), F.col("nbr_id").alias("nbr"))
        .unionAll(edges.select(F.col("nbr_id").alias("node"), F.col("src_id").alias("nbr")))
        .distinct()
    )


def _undirected_sql(edges: str) -> str:
    """SQL twin of :func:`_undirected` over the edge table named ``edges``."""
    return f"""SELECT DISTINCT node, nbr FROM (
      SELECT src_id AS node, nbr_id AS nbr FROM {edges}
      UNION ALL
      SELECT nbr_id AS node, src_id AS nbr FROM {edges})"""


def _per_query_top_sql(chain: str, n: int) -> str:
    """Each query's top-``n`` rows of the visited table ``chain`` (score
    desc, id asc) with their rank ``rn``."""
    return f"""SELECT query_id, vec_id, cos_sim, rn FROM (
        SELECT query_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM {chain})
      WHERE rn <= {n}"""


def _gs_hop_cte(i: int, graph: str, pfx: str, beam: int) -> str:
    """One beam hop as CTEs: visited ``{pfx}{i-1}`` -> ``{pfx}{i}``, keyed
    by query_id. The beam is each query's top-``beam`` of ALL visited
    nodes; its neighbors in ``graph`` are scored against their own query
    (``qb``) and merged in."""
    prev = f"{pfx}{i - 1}"
    return f""",
    {pfx}bm{i} AS (SELECT query_id, vec_id FROM ({_per_query_top_sql(prev, beam)})),
    {pfx}{i} AS MATERIALIZED (
      SELECT DISTINCT query_id, vec_id, cos_sim FROM (
        SELECT query_id, vec_id, cos_sim FROM {prev}
        UNION ALL
        SELECT b.query_id, u.nbr AS vec_id,
               {duck_int_cos("x.q", "x.s", "qb.qv", "qb.qn")} AS cos_sim
        FROM {pfx}bm{i} b
        JOIN {graph} u ON u.node = b.vec_id
        JOIN qassign x ON x.vec_id = u.nbr
        JOIN qb ON qb.query_id = b.query_id)
    )"""


def _walk_sql(pfx: str, entries: str, graph: str, hops: int, beam: int) -> str:
    """One layer's walk as CTEs: the ``(query_id, vec_id)`` entry query
    ``entries`` as ``{pfx}ent``, its scores as ``{pfx}0``, then ``hops``
    hops over ``graph`` ending at ``{pfx}{hops}``."""
    chain = "".join(_gs_hop_cte(i, graph, pfx, beam) for i in range(1, hops + 1))
    return f""",
    {pfx}ent AS ({entries}),
    {pfx}0 AS MATERIALIZED (
      SELECT DISTINCT e.query_id, x.vec_id,
             {duck_int_cos("x.q", "x.s", "qb.qv", "qb.qn")} AS cos_sim
      FROM {pfx}ent e JOIN qassign x ON x.vec_id = e.vec_id
      JOIN qb ON qb.query_id = e.query_id
    ){chain}"""


def _rank_strided_sql(nodes: str) -> str:
    """Every query entering at ranks 1, 1+c//4, 1+2c//4, 1+3c//4 of the
    id-ordered ``nodes`` — the twin of :func:`_rank_strided`."""
    return f"""SELECT qb.query_id, s.vec_id FROM (
        SELECT vec_id FROM (
          SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM {nodes})
        CROSS JOIN (SELECT COUNT(*) AS c FROM {nodes})
        WHERE rn IN (1, 1 + c // 4, 1 + (2 * c) // 4, 1 + (3 * c) // 4)) s
      CROSS JOIN qb"""


def _routed_entries_sql(lvl: int, top: int) -> str:
    """Entries of layer ``lvl`` (0 = the base graph) under a router whose
    top layer is ``top`` — the twin of :func:`_route`: rank strides at the
    top layer; below it, each query's top-{_HN_FAN} of the layer above,
    or rank strides over this layer when the layer above promoted
    nothing."""
    nodes = f"hu{lvl}" if lvl else "qassign"
    if lvl == top:
        return _rank_strided_sql(nodes)
    fan_in = _per_query_top_sql(f"h{lvl + 1}v{_HN_HOPS}", _HN_FAN)
    return f"""SELECT query_id, vec_id FROM ({fan_in})
      UNION ALL
      {_rank_strided_sql(nodes)}
      WHERE NOT EXISTS (SELECT 1 FROM hu{lvl + 1})"""


def _hn_layer_sql(lvl: int) -> str:
    """The upper-layer build at level ``lvl`` as CTE text — the twin of
    :func:`_hn_layer`: promoted node set ``hu{lvl}`` (md5 % {_HN_MOD}^lvl),
    within-cell scored pairs, top-{_HN_K} directed edges, undirected
    adjacency ``hg{lvl}``."""
    mod = _HN_MOD**lvl
    return f""",
    hu{lvl} AS (SELECT * FROM qassign WHERE ({duck_md5_32('CAST(vec_id AS VARCHAR)')}) % {mod} = 0),
    hp{lvl} AS (
      SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
             {duck_int_cos("a.q", "a.s", "b.q", "b.s")} AS cos_sim
      FROM hu{lvl} a JOIN hu{lvl} b
        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
    ),
    he{lvl} AS (
      SELECT src_id, nbr_id FROM (
        SELECT src_id, nbr_id,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY cos_sim DESC, nbr_id) AS rn
        FROM hp{lvl}) WHERE rn <= {_HN_K}
    ),
    hg{lvl} AS MATERIALIZED ({_undirected_sql(f"he{lvl}")})"""


def _search_oracle(query: int | None, levels: int) -> str:
    """The search replayed in SQL over the SHARED refined-graph prefix, so
    the searched graph is definitionally the built graph — the twin of
    :func:`_search`. The queries ``qb`` are vector ``query`` (top-{_GS_K}
    as ``(vec_id, cos_sim)``) or, for None, the serving batch (top-{_GB_K}
    per query as ``(query_id, rank, vec_id, cos_sim)``); with ``levels``
    > 1 every query is routed down the ``levels - 1`` upper layers (each
    its own build and walk) to its layer-0 entries, with ``levels`` = 1 it
    enters at the fixed ``n // {_GS_ENTRIES}`` strides."""
    if query is None:
        pred, k, cols = _BATCH_QUERIES, _GB_K, "query_id, rank, vec_id, cos_sim"
    else:
        pred, k, cols = f"vec_id = {query}", _GS_K, "vec_id, cos_sim"
    top = levels - 1
    layers = "".join(
        _hn_layer_sql(lvl)
        + _walk_sql(f"h{lvl}v", _routed_entries_sql(lvl, top), f"hg{lvl}", _HN_HOPS, _HN_BEAM)
        for lvl in range(top, 0, -1)
    )
    entries = _routed_entries_sql(0, top) if top else f"""
      SELECT qb.query_id, (nn.n // {_GS_ENTRIES}) * g.g AS vec_id
      FROM (SELECT COUNT(*) AS n FROM embeddings) nn
      CROSS JOIN (SELECT UNNEST(range({_GS_ENTRIES})) AS g) g
      CROSS JOIN qb"""
    return f"""
    {_knn_refined_cte()},
    gund AS MATERIALIZED ({_undirected_sql(f"wk{_KNN_ROUNDS}")}),
    qb AS (SELECT vec_id AS query_id, q AS qv, s AS qn FROM qassign
           WHERE {pred}){layers}{_walk_sql("gv", entries, "gund", _GS_HOPS, _GS_BEAM)}
    SELECT {cols} FROM (
      SELECT query_id, CAST(rn AS INT) AS rank, vec_id, cos_sim / 10000.0 AS cos_sim
      FROM ({_per_query_top_sql(f"gv{_GS_HOPS}", k)}))
    ORDER BY query_id, rank
    """


def _per_query_top(
    visited: dict[tuple[int, int], int], n: int
) -> list[tuple[int, int, int, int]]:
    """``(query_id, rank, vec_id, score)`` for each query's top-``n``
    visited nodes, score desc then id asc (the SQL twin's order)."""
    by_q: dict[int, list[tuple[int, int]]] = {}
    for (qid, vid), s in visited.items():
        by_q.setdefault(qid, []).append((-s, vid))
    return [
        (qid, rank, vid, -neg)
        for qid in sorted(by_q)
        for rank, (neg, vid) in enumerate(sorted(by_q[qid])[:n], start=1)
    ]


def graph_beam_search(
    spark: SparkSession,
    assign: DataFrame,
    gund: DataFrame,
    qvec: dict[int, tuple[list[int], int]],
    entries: DataFrame,
    *,
    hops: int = _GS_HOPS,
    beam: int = _GS_BEAM,
    k: int = _GS_K,
) -> DataFrame:
    """Beam-search every query of ``qvec`` ``{query_id: (qv, qn)}`` over
    the undirected adjacency ``gund`` ``(node, nbr)``, starting from the
    ``(query_id, vec_id)`` ``entries``: ``hops`` hops, each expanding
    every query's top-``beam`` visited nodes. Returns each query's
    top-``k`` visited nodes as ``(query_id, rank, vec_id, cos_sim)``,
    scored by the pure-integer quantized cosine against ``assign``.

    The search state is held on the driver: B·(entries + hops·beam·2W)
    (query, node, score) triples, bounded by batch size and search
    parameters, never by corpus size. Each hop is ONE distributed job for
    the whole batch: the ≤ B·beam beam table is broadcast against the
    edge table and the neighbors are fetched and scored. The queries are
    scored as a literal ``query_id -> (qv, qn)`` map, so no score job
    re-derives the query subplan (scoring one query against literals
    measured 3.06 → 2.64 s at sf0.1 over a per-hop broadcast query join).
    The map holds B·dim longs and is analysed in every score plan; it was
    measured for batches of up to 20 64-dim queries. Measured and not
    taken: a single lazy plan over all hops (5.4 s vs 3.4 s warm at sf0.1
    — each hop's window and distinct add shuffle stages that cost more
    than the collects they save), a broadcast hint on the neighbor id set
    (an extra build job per hop), and driver-side dedup instead of the
    per-hop distinct.
    """
    from ..operators.similarity import int_cos_x1e4

    pairs = ", ".join(
        f"{qid}L, named_struct('qv', array({', '.join(f'{x}L' for x in qv)}), 'qn', {qn}L)"
        for qid, (qv, qn) in qvec.items()
    )
    q = F.expr(
        f"CAST(map({pairs}) AS map<bigint, struct<qv: array<bigint>, qn: bigint>>)"
    )[F.col("query_id")]

    def score(ids: DataFrame) -> dict[tuple[int, int], int]:
        rows = (
            ids.join(assign, "vec_id")
            .select(
                "query_id",
                "vec_id",
                int_cos_x1e4(F.col("__q"), F.col("__s"), q["qv"], q["qn"]).alias("cos_sim"),
            )
            .collect()
        )
        return {(r.query_id, r.vec_id): r.cos_sim for r in rows}

    visited = score(entries)
    for _ in range(hops):
        beam_df = spark.createDataFrame(
            [(qid, vid) for qid, _, vid, _ in _per_query_top(visited, beam)],
            "query_id long, node long",
        )
        nbrs = (
            F.broadcast(beam_df)
            .join(gund, "node")
            .select("query_id", F.col("nbr").alias("vec_id"))
            .distinct()
        )
        visited.update(score(nbrs))
    return spark.createDataFrame(
        [(qid, rank, vid, s / 10000.0) for qid, rank, vid, s in _per_query_top(visited, k)],
        "query_id long, rank int, vec_id long, cos_sim double",
    )


def _every_query_at(qids: DataFrame, ids: list[int]) -> DataFrame:
    """Entries ``(query_id, vec_id)``: every query of ``qids`` enters at
    ``ids``."""
    return qids.select(
        "query_id", F.explode(F.array(*[F.lit(i).cast("long") for i in ids])).alias("vec_id")
    )


def _hn_layer(assign: DataFrame, mod: int):
    """``(nodes, edges)`` of the upper layer at promotion modulus ``mod``:
    the within-cell top-{_HN_K} graph among md5-promoted nodes, the SAME
    bounded join shape as the base graph on a 1/mod slice."""
    from ..operators.similarity import int_cos_x1e4, knn_topk_edges

    up = assign.filter(
        F.pmod(spark_md5_32(F.col("vec_id").cast("string")), F.lit(mod)) == 0
    )
    a = up.select(
        F.col("vec_id").alias("src_id"), "cluster",
        F.col("__q").alias("aq"), F.col("__s").alias("asn"),
    )
    b = up.select(
        F.col("vec_id").alias("nbr_id"), "cluster",
        F.col("__q").alias("bq"), F.col("__s").alias("bsn"),
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select(
            "src_id", "nbr_id",
            int_cos_x1e4(F.col("aq"), F.col("asn"), F.col("bq"), F.col("bsn"))
            .alias("cos_sim"),
        )
    )
    return up, knn_topk_edges(pairs, _HN_K).select("src_id", "nbr_id", "cos_sim")


def _rank_strided(nodes: DataFrame, qids: DataFrame) -> DataFrame | None:
    """Every query of ``qids`` entering at ranks 1, 1+c//4, 1+2c//4,
    1+3c//4 of the id-ordered ``nodes`` (deterministic; the ≤ 4-id
    collect is parameter-sized driver traffic), or None when ``nodes`` is
    empty. One collect: ``c`` is ``count(*) over ()``, as in the twin."""
    from pyspark.sql import Window

    ids = [
        r.vec_id
        for r in nodes.select(
            "vec_id",
            F.row_number().over(Window.orderBy("vec_id")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
        )
        .filter(F.col("rn").isin(*[F.expr(f"1 + ({k} * c) div 4") for k in range(4)]))
        .collect()
    ]
    return _every_query_at(qids, ids) if ids else None


def _route(
    spark: SparkSession,
    assign: DataFrame,
    qvec: dict[int, tuple[list[int], int]],
    qids: DataFrame,
    levels: int,
) -> DataFrame:
    """Layer-0 entries ``(query_id, vec_id)`` from an HNSW router with
    ``levels - 1`` upper layers (Malkov & Yashunin 2018's hierarchy,
    md5-deterministic: layer ℓ keeps the nodes with md5 % {_HN_MOD}^ℓ = 0,
    so the layers nest). The top layer is entered at rank strides; each
    layer's walk ({_HN_HOPS} hops, beam {_HN_BEAM}) hands its top-{_HN_FAN}
    per query to the layer below. An EMPTY layer (corpora ≲ {_HN_MOD}^ℓ
    vectors) hands nothing, so the layer below is entered at its own
    rank strides, down to layer 0 — the search returns a full top-k on
    any non-empty corpus. Twin: :func:`_routed_entries_sql`."""
    entries = None
    for lvl in range(levels - 1, 0, -1):
        up, edges = _hn_layer(assign, _HN_MOD**lvl)
        if entries is None:
            entries = _rank_strided(up, qids)
        if entries is not None:
            entries = graph_beam_search(
                spark, assign, tracked_persist(_undirected(edges)), qvec, entries,
                hops=_HN_HOPS, beam=_HN_BEAM, k=_HN_FAN,
            ).select("query_id", "vec_id")
    return entries if entries is not None else _rank_strided(assign, qids)


def _search(
    spark: SparkSession,
    sf_dir: str,
    assign: DataFrame,
    gund: DataFrame,
    query: int | None,
    levels: int,
) -> DataFrame:
    """Every registered search over ``(assign, gund)``: vector ``query``
    (top-{_GS_K} as ``(vec_id, cos_sim)``) or, for None, the serving batch
    (top-{_GB_K} per query, keyed), entering at the fixed
    ``n // {_GS_ENTRIES}`` strides (``levels`` = 1) or where the
    ``levels``-layer router puts each query. Twin: :func:`_search_oracle`.
    Raises ``ValueError`` when assign has no vector ``query``.
    """
    pred = _BATCH_QUERIES if query is None else F.col("vec_id") == query
    qvec = {
        qid: (qv, qn)
        for qid, qv, qn in assign.filter(pred).select("vec_id", "__q", "__s").collect()
    }
    if query is not None and query not in qvec:
        raise ValueError(f"query vector {query} missing from assign")
    qids = spark.createDataFrame([(qid,) for qid in qvec], "query_id long")
    if levels > 1:
        entries = _route(spark, assign, qvec, qids, levels)
    else:
        stride = load(spark, sf_dir, "embeddings").count() // _GS_ENTRIES
        entries = _every_query_at(qids, [stride * g for g in range(_GS_ENTRIES)])
    if query is None:
        return graph_beam_search(spark, assign, gund, qvec, entries, k=_GB_K)
    return graph_beam_search(spark, assign, gund, qvec, entries).select("vec_id", "cos_sim")


def _committed_search(spark: SparkSession, sf_dir: str, query: int | None, levels: int):
    """:func:`_search` over the committed refined graph (:func:`_knn_graph_marts`)."""
    marts = _knn_graph_marts(spark, sf_dir)
    return _search(
        spark, sf_dir, marts["assign"].read(spark), marts["gund"].read(spark), query, levels
    )


@register("graph_ann_search_topk", oracle=_search_oracle(0, 1))
def q_graph_ann_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r9) — graph-based ANN SEARCH over the NN-Descent graph: the
    query-time half of the HNSW/NSG family (Malkov & Yashunin 2018 layer-0
    search; Fu et al. 2019 NSG). From {_GS_ENTRIES} deterministic entry
    points, run {_GS_HOPS} best-first hops with beam {_GS_BEAM}: each hop
    expands the current beam's undirected neighbors in the W={_KNN_W}
    working graph, scores them against the query (vec_id 0, the
    embedding_topk_* convention), and merges into the visited set; the
    answer is the visited top-{_GS_K}. Completes the graph story:
    build (knn_graph_topk) → refine (knn_graph_nn_descent) → SEARCH.

    Plan at 100 TB: the graph is a committed table (built once per
    corpus and partitioning, shared with knn_graph_nn_descent). Search
    cost is independent of corpus size: ≤ BEAM × (2W) candidate rows per
    hop, each hop one equi-join of a {_GS_BEAM}-row beam against the edge
    table (broadcast the beam) plus one id-join to fetch vectors —
    O(BEAM·W·HOPS) score evaluations total vs the brute-force O(n).
    Deterministic: integer scores, id tie-breaks, fixed entries at
    n//{_GS_ENTRIES} strides. Recall vs brute-force top-{_GS_K} is
    floor-pinned at two scales in tests/test_recall_scales.py.
    """
    return _committed_search(spark, sf_dir, 0, 1)


# ---------------------------------------------------------------------------
# knn_graph_pagerank — centrality over the near-dup graph

_PR_ROUNDS = 3  # power-iteration rounds (a knob; each round is one join+agg)


def _pr_round_cte(i: int) -> str:
    """One power-iteration round as a CTE: ``pr{i-1}`` -> ``pr{i}``.
    Everything is BIGINT micro-units: contrib = s // outdeg (floor of
    nonnegatives — Spark DIV and DuckDB // agree there), then
    new = 150000 + (85 * Σ contrib) // 100, i.e. damping 0.85 with the
    teleport mass 0.15 in the same fixed-point unit."""
    return f""",
    pr{i} AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS s
      FROM nodesg n
      LEFT JOIN (
        SELECT e.nbr_id AS node, p.s // o.d AS contrib
        FROM ed e JOIN pr{i - 1} p ON e.src_id = p.node
                  JOIN odeg o ON e.src_id = o.src_id
      ) c ON c.node = n.node
      GROUP BY n.node
    )"""


def _pagerank_cte(recursive: bool = False) -> str:
    """The PageRank trajectory as a reusable CTE chain ending at
    ``pr{_PR_ROUNDS}`` (factored r11 for the canonical-selection
    composition). ``recursive=True`` opens the block with ``WITH
    RECURSIVE`` for compositions that append a recursive CTE after it
    (ADVICE r11: a threaded parameter, not substring surgery on generated
    SQL)."""
    rounds = "".join(_pr_round_cte(i) for i in range(1, _PR_ROUNDS + 1))
    return f"""
    {_knn_base_cte(keyword="WITH RECURSIVE" if recursive else "WITH")},
    ed AS (SELECT src_id, nbr_id FROM e0 WHERE rnk <= {_KNN_K}),
    odeg AS (SELECT src_id, COUNT(*) AS d FROM ed GROUP BY 1),
    nodesg AS (SELECT DISTINCT src_id AS node FROM ed),
    pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodesg){rounds}"""


def _pagerank_oracle() -> str:
    return f"""
    {_pagerank_cte()}
    SELECT node AS vec_id, s AS pagerank_x1e6 FROM pr{_PR_ROUNDS} ORDER BY vec_id
    """


@register("knn_graph_pagerank", oracle=_pagerank_oracle())
def q_knn_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r10) — PageRank (Page et al. 1999) power iteration over the
    directed top-{_KNN_K} base kNN graph: the graph-centrality signal a
    curation pipeline uses to pick the CANONICAL document inside a
    near-duplicate neighborhood (keep the most-linked-to exemplar, drop
    satellites) and to weight representative sampling — the same "rank
    inside the similarity graph" idea the dedup literature uses for
    cluster-representative selection. Emits every graph node with its
    3-round score so downstream keep/drop joins need no re-run.

    Determinism contract: integer micro-unit scores end-to-end — uniform
    init 10⁶, per-edge contribution s // outdeg, damped update
    150000 + (85·Σcontrib) // 100. Both engines floor nonnegative integer
    division identically, so every round replays EXACTLY in the oracle's
    generated per-round CTEs (the NN-Descent/BPE trajectory precedent) —
    no float summation order anywhere.

    Plan at 100 TB: per round exactly one equi-join of the (n·K)-row edge
    list against the n-row score table on near-uniform id keys plus one
    hash agg — the classic Pregel-on-DataFrames shape with no driver-side
    state at all (scores stay distributed; nothing is collected). Edges
    and the node list are consumed every round, so they are persisted
    once (CACHE OWNERSHIP contract); rounds is a knob, cost strictly
    linear in it. Every node in the edge list has out-degree ≥ 1 by
    construction (each is a `src` of its own top-{_KNN_K} list), so the
    dangling-mass term is structurally zero.
    """
    return pagerank_scores(spark, sf_dir).orderBy("vec_id")


def pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, pagerank_x1e6)`` — the exact-integer PageRank scores
    over the base kNN graph (the body of ``knn_graph_pagerank``, factored
    r11 so the canonical-selection composition ``dedup_canonical_pagerank``
    consumes the identical trajectory)."""
    from ..caching import tracked_persist

    _, edges = _knn_base_edges(spark, sf_dir)
    ed = tracked_persist(edges.select("src_id", "nbr_id"))
    odeg = ed.groupBy("src_id").agg(F.count(F.lit(1)).alias("d"))
    nodes = tracked_persist(ed.select(F.col("src_id").alias("node")).distinct())
    pr = nodes.select("node", F.lit(1_000_000).cast("long").alias("s"))
    for _ in range(_PR_ROUNDS):
        contrib = (
            ed.join(pr, ed.src_id == pr.node)
            .join(odeg, "src_id")
            .select(F.col("nbr_id").alias("node"), F.expr("s DIV d").alias("contrib"))
        )
        summed = contrib.groupBy("node").agg(F.sum("contrib").alias("sc"))
        pr = nodes.join(summed, "node", "left").select(
            "node",
            F.expr("CAST(150000 + (85 * COALESCE(sc, 0)) DIV 100 AS BIGINT)").alias("s"),
        )
    return pr.select(
        F.col("node").alias("vec_id"), F.col("s").alias("pagerank_x1e6")
    )


# ---------------------------------------------------------------------------
# graph_ann_search_durable — the graph family's production posture made real

def materialize_knn_graph(spark: SparkSession, sf_dir: str, root: str, version: str = "v1"):
    """Commit the refined NN-Descent graph as two DURABLE
    manifest-committed tables under ``root`` — ``assign/`` (vectors +
    norms + cell) and ``edges/`` (the W-wide working edge list) — via
    :class:`~..sources.mart.VersionedMart` (M4: write-new-version-then-
    atomic-manifest-swap, snapshot history, vacuum). This is the
    build-once half of the serving contract the r9 graph search only
    documented: a deployment runs this per corpus version (graph build =
    the expensive O(n) job), then serves arbitrarily many
    :func:`graph_beam_search` queries against the committed snapshot —
    including from OTHER sessions/processes, which the per-process
    :mod:`..artifacts` root cannot offer. Returns the two marts.
    """
    from ..sources.mart import VersionedMart

    assign, edges = _knn_refined_tables(spark, sf_dir)
    am = VersionedMart(os.path.join(root, "assign"))
    em = VersionedMart(os.path.join(root, "edges"))
    am.commit(assign, version)
    em.commit(edges, version)
    return am, em


@register("graph_ann_search_durable", oracle=_search_oracle(0, 1))
def q_graph_ann_search_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r10) — the graph ANN search in its PRODUCTION posture: the
    NN-Descent graph is committed once as durable versioned tables
    (:func:`materialize_knn_graph` — manifest-swap atomic commit,
    readable across sessions) and the beam search runs against the
    COMMITTED snapshot read back through the mart, never against session
    state. Same oracle as ``graph_ann_search_topk``: the searched graph
    is definitionally the built graph, and the shared :func:`_search`
    body guarantees the two postures cannot drift in search semantics —
    what this entry adds to the contract is the durable round-trip
    (build → commit → read-back → search) on the oracle-checked path.
    Restart/versioning semantics (fresh mart handle, no rebuild, history)
    are pinned in tests/test_graph_durable.py.

    The marts live under the per-process :mod:`..artifacts` root here
    (fixture stand-in); production points ``materialize_knn_graph`` at a
    real warehouse path — the commit protocol is identical.
    """

    am, em = artifacts.memoized(
        spark, "knn_graph_durable", sf_dir,
        build=lambda: materialize_knn_graph(
            spark, sf_dir, artifacts.directory(spark, "knn_graph_durable", sf_dir)
        ),
    )
    # read with the committed tables' schemas: no schema-inference job
    assign, edges = _knn_refined_tables(spark, sf_dir)
    gund = tracked_persist(_undirected(em.read(spark, schema=edges.schema)))
    return _search(spark, sf_dir, am.read(spark, schema=assign.schema), gund, 0, 1)


# ---------------------------------------------------------------------------
# graph_ann_search_batch — the serving shape: many queries, one plan (r12)


@register("graph_ann_search_batch", oracle=_search_oracle(None, 1))
def q_graph_ann_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r12) — graph ANN search in its SERVING shape: every query with
    vec_id % 100 == 0 beam-searched over the committed NN-Descent graph
    with ONE distributed job per hop FOR THE WHOLE BATCH. Same entries,
    hops, beam, and integer score contract as ``graph_ann_search_topk``
    (the same walk; that entry is this one with a batch of one);
    top-{_GB_K} per query.

    Plan at 100 TB: the per-query driver loop amortizes — B queries cost
    {_GS_HOPS} hop jobs total, not {_GS_HOPS}·B, and per-hop work is
    ≤ B·{_GS_BEAM}·2W candidate rows (corpus-independent, the HNSW search
    invariant per query). Batch size is the knob that trades driver
    memory for job amortization; a serving tier shards the query stream
    into batches sized to that bound.
    """
    return _committed_search(spark, sf_dir, None, 1)


# ---------------------------------------------------------------------------
# hnsw_two_layer_search — hierarchical routing over the graph family (r11)


@register("hnsw_two_layer_search", oracle=_search_oracle(0, 2))
def q_hnsw_two_layer_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r11) — HNSW-style TWO-LAYER routed ANN search (Malkov &
    Yashunin 2018's hierarchy, md5-deterministic instead of random level
    draws): 1-in-{_HN_MOD} nodes promote to a sparse upper layer with its
    own within-cell top-{_HN_K} graph; the query first routes {_HN_HOPS}
    beam-{_HN_BEAM} hops across the upper layer from rank-strided
    entries, then the top-{_HN_FAN} routed nodes seed the standard
    layer-0 beam search over the NN-Descent graph. Versus the flat
    search's FIXED strided entries, the router places the layer-0 entry
    points near the query before the expensive walk starts — the reason
    HNSW's hop count is logarithmic in corpus size.

    Plan at 100 TB: the upper layer is n/{_HN_MOD} nodes and its build is
    the SAME bounded within-cell join as the base graph on 1/{_HN_MOD} of
    the rows; search state stays driver-sized (the HNSW invariant) with
    one distributed job per hop. Recall@20 vs exact brute force is
    floor-pinned at two scales alongside the flat search. An empty upper
    layer degrades to rank-strided layer-0 entries (:func:`_route`),
    fixture-tested in tests/test_hnsw_small_corpus.py.
    """
    return _committed_search(spark, sf_dir, 0, 2)


@register("hnsw_three_layer_search", oracle=_search_oracle(0, 3))
def q_hnsw_three_layer_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r12) — the HNSW hierarchy taken to THREE layers, exercising
    the promotion rule's recursion: layer 2 keeps 1-in-{_HN_MOD}² nodes
    (md5 % {_HN_MOD}² = 0 — a strict subset of layer 1's 1-in-{_HN_MOD},
    the nested-level invariant real HNSW gets from geometric level
    draws), builds its own within-cell top-{_HN_K} graph, and routes the
    query with rank-strided entries; its top-{_HN_FAN} results become
    layer 1's entries, layer 1's top-{_HN_FAN} seed the layer-0 walk.
    Adding a layer is one more level of the same router, not new
    machinery.

    Plan at 100 TB: layer ℓ holds n/{_HN_MOD}^ℓ nodes, so the upper
    builds cost a geometric series dominated by layer 1 (~1/{_HN_MOD} of
    the base build); hop count per layer is constant — corpus growth is
    absorbed by ADDING layers (log_{_HN_MOD} n of them). Measured
    recall@20 1.0 @ sf0.01 / 0.95 @ sf0.1 vs the two-layer router's
    1.0 / 0.85 (floors pinned in tests/test_recall_scales.py). Empty
    layers cascade (:func:`_route`), pinned by the 50- and 16-vector
    fixture tests (tests/test_hnsw_small_corpus.py), each proving
    Spark ≡ DuckDB through its fallback branch.
    """
    return _committed_search(spark, sf_dir, 0, 3)


# ---------------------------------------------------------------------------
# hnsw_batch_routed_search — the router × the batch: the true serving shape


@register("hnsw_batch_routed_search", oracle=_search_oracle(None, 2))
def q_hnsw_batch_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r12) — the TRUE serving shape: the query batch (vec_id % 100
    == 0) routed through the HNSW upper layer PER QUERY, then
    beam-searched over layer 0 from each query's own routed entries.
    ``graph_ann_search_batch`` amortizes jobs but enters every query at
    the same fixed strides; this entry gives each query the router's
    entry points at batch cost: upper routing adds {_HN_HOPS} hop jobs
    for the WHOLE batch (the layer-1 graph is 1/{_HN_MOD} of the
    corpus), and layer 0 runs the same batched walk.

    Plan at 100 TB: per batch, {_HN_HOPS} + {_GS_HOPS} hop jobs TOTAL
    regardless of batch size B; per-hop candidate volume ≤ B·beam·2W
    rows; the router's per-query entries are what keep layer-0 hop
    counts flat as the corpus grows (the HNSW argument at serving batch
    size).
    """
    return _committed_search(spark, sf_dir, None, 2)


# ---------------------------------------------------------------------------
# knn_graph_lpa_communities — label propagation over the near-dup graph

_LPA_ROUNDS = 3  # synchronous vote rounds (a knob; one join+agg each)


def _lpa_round_cte(i: int) -> str:
    """One synchronous label-propagation round as a CTE:
    ``lp{i-1}`` → ``lp{i}``. Each node adopts the most frequent label
    among its undirected neighbors PLUS itself (the self-vote damps the
    2-cycle oscillation synchronous LPA is known for), ties → smallest
    label — pure integer counts and ids, so both engines pick
    identically."""
    return f""",
    v{i} AS (
      SELECT u.node, l.lab FROM und u JOIN lp{i - 1} l ON u.nbr = l.node
      UNION ALL
      SELECT node, lab FROM lp{i - 1}
    ),
    lp{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY COUNT(*) DESC, lab) AS rk
        FROM v{i} GROUP BY node, lab)
      WHERE rk = 1
    )"""


def _und_ctes() -> str:
    """The undirected base-kNN edge table ``und(node, nbr)`` (plus the
    shared ``qassign`` vector table it rides in on) — factored (r15) so
    label propagation and the k-core peel share ONE
    undirected-graph definition."""

    return f"""
    {_knn_base_cte()},
    ed AS (SELECT src_id, nbr_id FROM e0 WHERE rnk <= {_KNN_K}),
    und AS ({_undirected_sql("ed")})"""


def _lpa_cte_chain() -> str:
    """The full LPA trajectory as a reusable CTE chain ending at
    ``lp{_LPA_ROUNDS}(node, lab)`` — factored (late r14) so the
    community-capped selection composes the IDENTICAL clustering (the
    `_pagerank_cte` precedent)."""
    rounds = "".join(_lpa_round_cte(i) for i in range(1, _LPA_ROUNDS + 1))
    return f"""{_und_ctes()},
    lp0 AS (SELECT vec_id AS node, vec_id AS lab FROM qassign){rounds}"""


def _lpa_oracle() -> str:
    return f"""
    {_lpa_cte_chain()}
    SELECT l.node AS vec_id, l.lab AS community,
           s.n AS community_size
    FROM lp{_LPA_ROUNDS} l
    JOIN (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n
          FROM lp{_LPA_ROUNDS} GROUP BY lab) s ON s.lab = l.lab
    ORDER BY vec_id
    """


@register("knn_graph_lpa_communities", oracle=_lpa_oracle())
def q_knn_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (late r14) — label-propagation COMMUNITY DETECTION (Raghavan
    et al. 2007) over the undirected base kNN graph: the graph family's
    mesoscale readout between connected components (too coarse — one
    giant component swallows distinct topics) and SemDeDup cells (fixed
    count, geometry-only). Communities over the near-dup graph are the
    "topic islands" a curation run reads to audit mixture coverage and
    to cap per-community sampling. Emits (vec_id, community,
    community_size) after {_LPA_ROUNDS} synchronous rounds.

    Determinism contract: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors and itself
    (the self-vote damps synchronous LPA's classic 2-cycle oscillation),
    ties → smallest label. Votes are integer counts of integer labels —
    nothing float anywhere — so every round replays exactly in the
    oracle's generated per-round CTEs (the PageRank/NN-Descent
    trajectory precedent).

    Plan at 100 TB: the Pregel-on-DataFrames shape — per round ONE
    equi-join of the undirected edge list against the n-row label table
    + one (node, label) hash agg + one per-node top-1 window on the
    agg output (grouped-top-1, not a global sort). Edges persist once
    (CACHE OWNERSHIP); labels stay distributed, zero driver state;
    rounds is a knob, cost linear in it. Since r15 the label frame is a
    VersionedMart-committed table (`lpa_labels_durable`) every community
    consumer serves — built once per (corpus, partitioning), never
    recomputed per consumer.
    """
    lp = lpa_labels_durable(spark, sf_dir)
    sizes = lp.groupBy("lab").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    return (
        lp.join(sizes, "lab")
        .select(
            F.col("node").alias("vec_id"),
            F.col("lab").alias("community"),
            "community_size",
        )
        .orderBy("vec_id")
    )


def _und_frame(spark: SparkSession, sf_dir: str):
    """``(assign, und)`` — the Spark twin of ``_und_ctes``: the full
    vector assignment plus the persisted undirected base-kNN edge table,
    shared by label propagation and the k-core peel."""
    assign, edges = _knn_base_edges(spark, sf_dir)
    return assign, tracked_persist(_undirected(edges))


def lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED shared label frame ``(node, lab)`` after
    ``_LPA_ROUNDS`` rounds — the Spark twin of ``_lpa_cte_chain``,
    consumed by the registered community query and the community-capped
    selection (one propagation definition, two consumers)."""
    from pyspark.sql import Window

    assign, und = _und_frame(spark, sf_dir)
    # seed from EVERY vector, not just edge endpoints: an isolated vector
    # (alone in its cell — no kNN edge) is its own singleton community
    # under LPA semantics, and must stay eligible for the capped
    # selection (r14 review)
    lp = assign.select(F.col("vec_id").alias("node"), F.col("vec_id").alias("lab"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            und.join(lp.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "lab")
            .unionAll(lp.select("node", "lab"))
        )
        cnt = votes.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab"))
        lp = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lab")
        )
    return lp


def lpa_labels_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, lab)`` read back from a :class:`VersionedMart` COMMIT —
    the durable promotion (VERDICT r14 plan audit: "at production scale
    the LPA labels would be a committed table rather than recomputed per
    consumer", the `_knn_refined_tables` precedent). The propagation
    runs ONCE per (corpus, partitioning), commits through the M4 atomic
    manifest swap, and every consumer — the registered community
    readout, the community-capped selection, and the funnel's
    community-cap stage — serves the committed snapshot. Memo, key and
    lock rules: :mod:`..artifacts`; the propagation is deterministic
    (integer label votes, smallest-label ties) and parquet round-trips
    the two BIGINT columns exactly."""
    return artifacts.memoized_commit(
        spark, "lpa_labels", sf_dir,
        build=lambda commit: commit("labels", lpa_labels(spark, sf_dir)),
    )["labels"].read(spark)


# ---------------------------------------------------------------------------
# knn_graph_kcore — the graph-density tier over the shared undirected graph

_KCORE_K = 4  # minimum surviving degree (measured: the base graph's
# undirected degrees sit at 3–9 with median 4, so K=4 peels ~45% in
# round 1 and leaves a small dense core — both arms fire at every SF;
# K=3 peels nothing (min degree 3), K=5 empties the graph)

_KCORE_ROUNDS = 3  # peel rounds (a knob; one join + agg each)


def _kcore_oracle() -> str:
    """Replays every peel round as generated CTEs over the SHARED
    undirected-graph text (_und_ctes — the same ``und`` LPA
    propagates over): alive set ``a{i}`` = nodes of ``a{i-1}`` whose
    degree WITHIN ``a{i-1}`` is >= K. Pure integer counts and ids."""

    rounds = "".join(
        f""",
    d{i} AS (
      SELECT u.node, CAST(COUNT(*) AS BIGINT) AS c
      FROM und u
      JOIN a{i - 1} x ON u.node = x.node
      JOIN a{i - 1} y ON u.nbr = y.node
      GROUP BY u.node
    ),
    a{i} AS (SELECT node FROM d{i} WHERE c >= {_KCORE_K})"""
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    survive = "".join(
        f"""
             WHEN n.node NOT IN (SELECT node FROM a{i}) THEN {i - 1}"""
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    # _und_ctes opens with the shared _knn_base_cte, which already emits
    # the WITH keyword (the _lpa_cte_chain convention)
    return f"""
    {_und_ctes()},
    a0 AS (SELECT vec_id AS node FROM qassign),
    deg AS (
      SELECT a.node, CAST(COUNT(u.nbr) AS BIGINT) AS d
      FROM a0 a LEFT JOIN und u ON u.node = a.node GROUP BY a.node
    ){rounds}
    SELECT n.node AS vec_id, deg.d AS degree,
           CAST(CASE{survive}
             ELSE {_KCORE_ROUNDS} END AS INT) AS rounds_survived,
           n.node IN (SELECT node FROM a{_KCORE_ROUNDS}) AS in_core
    FROM a0 n JOIN deg ON deg.node = n.node
    ORDER BY vec_id
    """


@register("knn_graph_kcore", oracle=_kcore_oracle())
def q_knn_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r15) — k-core PEEL over the undirected base kNN graph
    (Seidman 1983; Batagelj & Zaversnik 2003): iteratively remove nodes
    with fewer than {_KCORE_K} surviving neighbors. The graph family's
    DENSITY tier — degree is too local (a hub of singletons reads
    dense), LPA partitions without measuring density; the k-core is the
    standard "mutually-dense region" readout, and over a NEAR-DUP graph
    dense cores are exactly the boilerplate/template/spam signature a
    curation run inspects before sampling (the near-dup analog of the
    Gopher repetition rules). Emits (vec_id, degree, rounds_survived,
    in_core) after {_KCORE_ROUNDS} peel rounds — the peel trajectory, so
    a reader sees HOW a node left, not just whether.

    Determinism contract: degrees are integer counts over integer-id
    edges; the alive sets are pure set operations — nothing to round,
    nothing order-dependent, so every round replays exactly in the
    oracle's generated CTEs (the LPA/PageRank trajectory precedent).

    Plan at 100 TB: the SHARED undirected edge table (one definition
    with LPA — `_und_frame`, persisted once) plus, per round, ONE
    self-equi-join of edges against the alive set on both endpoints +
    one per-node hash agg — the Pregel peel; alive sets stay
    distributed, zero driver state, rounds a fixed knob. Full coreness
    (peel to convergence) would wrap the same round body in an
    until-fixed-point loop with localCheckpoint truncation.
    """

    assign, und = _und_frame(spark, sf_dir)
    nodes = assign.select(F.col("vec_id").alias("node"))
    deg = (
        nodes.join(und, "node", "left")
        .groupBy("node")
        .agg(F.count("nbr").cast("long").alias("degree"))
    )
    alive = nodes
    flags = []
    for i in range(1, _KCORE_ROUNDS + 1):
        d = (
            und.join(alive.withColumnRenamed("node", "nbr"), "nbr")
            .join(alive, "node")
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # each alive set feeds the NEXT round's two joins AND its own
        # survival flag below: persist per round (the lpa_labels per-round
        # pattern) so round i's join lineage runs once, not once per later
        # consumer — O(rounds), not O(rounds²), as the knob grows
        alive = tracked_persist(d.filter(F.col("c") >= _KCORE_K).select("node"))
        flags.append(alive.select("node", F.lit(True).alias(f"__a{i}")))
    out = deg
    for i, fl in enumerate(flags, start=1):
        out = out.join(fl, "node", "left")
    surv = F.lit(_KCORE_ROUNDS)
    for i in range(_KCORE_ROUNDS, 0, -1):
        surv = F.when(F.col(f"__a{i}").isNull(), i - 1).otherwise(surv)
    return out.select(
        F.col("node").alias("vec_id"),
        "degree",
        surv.cast("int").alias("rounds_survived"),
        F.col(f"__a{_KCORE_ROUNDS}").isNotNull().alias("in_core"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# knn_graph_triangles — local clustering coefficient over the shared graph


def _triangles_oracle() -> str:
    """Wedge join + closing-edge join over the SHARED undirected graph
    CTE (_und_ctes — one graph definition, four consumers);
    the coefficient is 2·tri·10⁴ DIV deg·(deg−1) so both engines emit
    identical BIGINTs, NULL where deg < 2 leaves it undefined."""

    return f"""
    {_und_ctes()},
    deg AS (
      SELECT a.vec_id AS node, CAST(COUNT(u.nbr) AS BIGINT) AS d
      FROM qassign a LEFT JOIN und u ON u.node = a.vec_id GROUP BY a.vec_id
    ),
    tr AS (
      SELECT e1.node, CAST(COUNT(*) AS BIGINT) AS t
      FROM und e1
      JOIN und e2 ON e2.node = e1.node AND e1.nbr < e2.nbr
      JOIN und e3 ON e3.node = e1.nbr AND e3.nbr = e2.nbr
      GROUP BY e1.node
    )
    SELECT deg.node AS vec_id, deg.d AS degree,
           CAST(COALESCE(tr.t, 0) AS BIGINT) AS triangles,
           CASE WHEN deg.d >= 2
                THEN CAST(COALESCE(tr.t, 0) * 20000 // (deg.d * (deg.d - 1))
                          AS BIGINT)
           END AS clustering_bp
    FROM deg LEFT JOIN tr ON tr.node = deg.node
    ORDER BY vec_id
    """


@register("knn_graph_triangles", oracle=_triangles_oracle())
def q_knn_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r15) — per-node TRIANGLE count and local clustering
    coefficient (Watts & Strogatz 1998) over the shared undirected base
    kNN graph. Completes the graph family's density ladder: degree
    (volume), k-core (mutually-dense region membership — a SET), and now
    the clustering coefficient (HOW interlocked a node's neighborhood
    is — a per-node RATIO). Over a near-dup graph, high-coefficient
    nodes sit inside template/boilerplate cliques even when their degree
    is modest — the k-core flags the region, the coefficient ranks
    within it. Emits (vec_id, degree, triangles, clustering_bp) for
    every vector; clustering_bp = 2·tri·10⁴ DIV (deg·(deg−1)) in exact
    basis points, NULL where deg < 2 leaves the coefficient undefined
    (the correlation entry's zero-variance NULL precedent).

    Determinism contract: triangles are integer counts over integer-id
    edges; the coefficient is integer floor division — nothing floats,
    the whole readout value-hash-replays in the oracle's SQL.

    Plan at 100 TB: the SHARED persisted edge table (one definition with
    LPA and the k-core — ``_und_frame``), then ONE equi-self-join on the
    wedge apex (per-node volume ≤ C(2K, 2), K the kNN fan-out — bounded
    per node, linear in n) and ONE (v, w) equi-join against the edge
    table to close each wedge, both hash joins on integer keys; one
    per-node hash agg. No driver state, nothing quadratic in n.
    """

    assign, und = _und_frame(spark, sf_dir)
    nodes = assign.select(F.col("vec_id").alias("node"))
    deg = (
        nodes.join(und, "node", "left")
        .groupBy("node")
        .agg(F.count("nbr").cast("long").alias("degree"))
    )
    e1 = und.select(F.col("node").alias("u"), F.col("nbr").alias("v"))
    e2 = und.select(F.col("node").alias("u"), F.col("nbr").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = und.select(F.col("node").alias("v"), F.col("nbr").alias("w"))
    tri = (
        wedges.join(closing, ["v", "w"])
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .withColumnRenamed("u", "node")
    )
    out = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
    )
    cb = F.when(
        F.col("degree") >= 2,
        F.expr("triangles * 20000 DIV (degree * (degree - 1))"),
    ).cast("long")
    return out.select(
        F.col("node").alias("vec_id"),
        "degree",
        "triangles",
        cb.alias("clustering_bp"),
    ).orderBy("vec_id")
