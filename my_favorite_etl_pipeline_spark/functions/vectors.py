"""DuckDB twins of the centroid-cell operators in ``operators.similarity``.

Each fragment replays one Spark step: the fixed-point mean
(``fixed_point_means``), the nearest-cell assignment (``assign_cells``),
k-means training (``kmeans_iterate``), the query probe (``probe_cells``),
product quantization (``pq_codebook`` + ``pq_adc_topk``) and the integer
quantized cosine (``int_cos_x1e4``). Oracles embed them with an f-string
at import time, so each oracle stays one self-contained SQL string.

Every fragment after :data:`EN` reads its ``en(vec_id, label, v, n)``
CTE: the embedding widened to double and its norm.
"""

from __future__ import annotations

#: Σ floor(x·10⁷) is exact BIGINT arithmetic, so means and PQ distances
#: built from it agree on both engines and under any aggregation order
#: (``operators.similarity.CENTROID_SCALE`` / ``PQ_SCALE``)
_SCALE = 10000000


def _dot(a: str, b: str) -> str:
    return f"LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> {a}[i] * {b}[i]))"


def _norm(a: str) -> str:
    return f"SQRT({_dot(a, a)})"


def duck_mean(x: str) -> str:
    """Aggregate: the group mean of the double expression ``x`` as
    ``Σ floor(x·10⁷) / (count·10⁷)`` (``fixed_point_means``)."""
    return f"CAST(SUM(CAST(FLOOR({x} * {_SCALE}) AS BIGINT)) AS DOUBLE) / (COUNT(*) * {_SCALE}.0)"


EN = f"""en AS (
      SELECT vec_id, label, v, {_norm("v")} AS n
      FROM (SELECT vec_id, label, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings)
    )"""


def _cells(name: str, rows: str, key: str) -> str:
    """``{name}(cid, centroid)``: the fixed-point mean vector of the rows of
    ``rows`` (alias ``r``, a ``v`` column) per cell ``key``."""
    return f"""
    {name}_pd AS (
      SELECT {key} AS cid, d.dim, {duck_mean("r.v[d.dim + 1]")} AS mean_val
      FROM {rows} r CROSS JOIN (SELECT UNNEST(range(64)) AS dim) d
      GROUP BY 1, 2
    ),
    {name} AS (SELECT cid, LIST(mean_val ORDER BY dim) AS centroid FROM {name}_pd GROUP BY cid)"""


def _nearest(name: str, cells: str, top: int = 1) -> str:
    """``{name}(vec_id, v, n, cid, cos_c)``: every vector with its ``top``
    nearest cells of ``cells(cid, centroid)`` by cosine rounded to 4
    places, ties to the lower cid (``assign_cells``)."""
    return f"""
    {name} AS MATERIALIZED (
      SELECT vec_id, v, n, cid, cos_c FROM (
        SELECT en.vec_id, en.v, en.n, c.cid,
               ROUND({_dot("en.v", "c.centroid")} / (en.n * {_norm("c.centroid")}), 4) AS cos_c
        FROM en CROSS JOIN {cells} c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cid) <= {top}
    )"""


#: the cell count rule of ``operators.similarity.resolve_cell_count`` for
#: ``k="auto"`` (64-vector cells): auto-k oracles derive the count in SQL
AUTO_K_SQL = (
    "(SELECT GREATEST(4, LEAST(1048576, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)))"
    " FROM embeddings)"
)


def duck_hash_assign(top: int, k_sql: str = "8", keyword: str = "WITH") -> str:
    """``{keyword} en, …, assign(vec_id, v, n, cid, cos_c)``: the ``top``
    nearest of ``k_sql`` hash-bucket cells (``vec_id % k``) for every
    vector (``assign_cells`` over ``build_hash_centroids``). ``keyword``
    lets a composition open the block with ``WITH RECURSIVE``."""
    return f"""
    {keyword} {EN},
    {_cells("hcells", "en", f"r.vec_id % {k_sql}")},
    {_nearest("assign", "hcells", top)}"""


def duck_kmeans_cells(k: int, rounds: int) -> str:
    """CTEs after :data:`EN` ending in ``kcells(cid, centroid)``, the
    centroids of ``rounds`` Lloyd rounds from ``k`` hash-bucket cells, and
    ``kassign(vec_id, v, n, cid, cos_c)``, every vector's nearest of them
    (``kmeans_iterate`` + ``assign_cells``). A cell that loses every
    member keeps its previous centroid. The engine may stop early on a
    converged round; a converged round is the identity, so both agree."""
    parts = [_cells("c0", "en", f"r.vec_id % {k}")]
    for i in range(1, rounds + 1):
        parts += [
            _nearest(f"a{i}", f"c{i - 1}"),
            _cells(f"m{i}", f"a{i}", "r.cid"),
            f"""
    c{i} AS (SELECT p.cid, COALESCE(m.centroid, p.centroid) AS centroid
             FROM c{i - 1} p LEFT JOIN m{i} m ON p.cid = m.cid)""",
        ]
    parts.append(f"\n    kcells AS (SELECT cid, centroid FROM c{rounds})")
    parts.append(_nearest("kassign", "kcells"))
    return ",".join(parts)


def duck_probe(cells: str, members: str, query_pred: str, n_probe: int) -> str:
    """CTEs after :data:`EN`: ``qs(query_id, qv, qn)``, the vectors matching
    ``query_pred``; ``probe(query_id, cid)``, each query's ``n_probe``
    nearest cells of ``cells(cid, centroid)`` by UNROUNDED cosine, ties to
    the lower cid (``probe_cells``); and ``cand(query_id, vec_id,
    cos_sim)``, every vector of ``members(vec_id, cid, v, n)`` in a probed
    cell with its cosine to the query rounded to 4 places."""
    return f"""
    qs AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM en WHERE {query_pred}),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               {_dot("c.centroid", "q.qv")} / ({_norm("c.centroid")} * q.qn) AS c_sim
        FROM {cells} c CROSS JOIN qs q)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_sim DESC, cid) <= {n_probe}
    ),
    cand AS (
      SELECT q.query_id, m.vec_id, ROUND({_dot("m.v", "q.qv")} / (m.n * q.qn), 4) AS cos_sim
      FROM probe p
      JOIN {members} m ON m.cid = p.cid
      JOIN qs q ON q.query_id = p.query_id
    )"""


def duck_label_ivf(query_pred: str, n_probe: int = 3) -> str:
    """``WITH en, …, qs, probe, cand``: the IVF probe over the corpus's own
    ``label`` cells (``ivf_topk`` / ``ivf_topk_batch``)."""
    return f"""WITH {EN},
    {_cells("lcells", "en", "r.label")},
    lmembers AS (SELECT vec_id, label AS cid, v, n FROM en),
    {duck_probe("lcells", "lmembers", query_pred, n_probe)}"""


def _pq_dist(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR({_SCALE}.0 * LIST_SUM(LIST_TRANSFORM(range(1, 9),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))) AS BIGINT)"
    )


def _pq_codes(name: str, codebook: str, scan: str | None = None) -> str:
    """``{name}(vec_id, s, c)``: each subvector's nearest code of
    ``codebook(s, c, cv)`` by floor-scaled squared distance, ties to the
    smaller code; only vectors of ``scan(vec_id)`` when given."""
    join = f" JOIN {scan} USING (vec_id)" if scan else ""
    return f"""
    {name} AS (
      SELECT vec_id, s, c FROM (
        SELECT v.vec_id, v.s, b.c, {_pq_dist("v.vsub", "b.cv")} AS dfx
        FROM pq_vs v{join} JOIN {codebook} b ON v.s = b.s)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dfx, c) = 1
    )"""


def _pq_means(name: str, rows: str) -> str:
    """``{name}(s, c, cv)``: the fixed-point mean subvector per code of
    ``rows(s, c, vsub)``."""
    return f"""
    {name}_pd AS (
      SELECT r.s, r.c, d.i, {duck_mean("r.vsub[d.i + 1]")} AS mean_val
      FROM {rows} r CROSS JOIN (SELECT UNNEST(range(8)) AS i) d
      GROUP BY 1, 2, 3
    ),
    {name} AS (SELECT s, c, LIST(mean_val ORDER BY i) AS cv FROM {name}_pd GROUP BY s, c)"""


def duck_pq_topk(scan: str | None, shortlist: int) -> str:
    """CTEs after :data:`EN` and the closing SELECT: the top 10 of PQ-ADC
    retrieval for query vec 0 (``pq_codebook(kc=64, n_iter=1)`` +
    ``pq_adc_topk``). The codebook trains on every unit vector: 8 subspaces
    of 8 dims, 64 codes each, hash init ``vec_id % 64`` and one Lloyd
    round. Only vectors of ``scan(vec_id)`` (all when None) are encoded
    and scored against the query's ADC table; the ``shortlist`` best are
    re-ranked by exact cosine."""
    return f"""
    pq_vs AS (
      SELECT vec_id, sub.s, list_slice(u, sub.s * 8 + 1, sub.s * 8 + 8) AS vsub
      FROM (SELECT vec_id, LIST_TRANSFORM(v, x -> x / n) AS u FROM en)
      CROSS JOIN (SELECT CAST(UNNEST(range(8)) AS INT) AS s) sub
    ),
    {_pq_means("pq_cb0", "(SELECT s, CAST(vec_id % 64 AS INT) AS c, vsub FROM pq_vs)")},
    {_pq_codes("pq_a1", "pq_cb0")},
    {_pq_means("pq_m1", "(SELECT a.s, a.c, v.vsub FROM pq_a1 a JOIN pq_vs v USING (vec_id, s))")},
    pq_cb AS (SELECT b.s, b.c, COALESCE(m.cv, b.cv) AS cv
              FROM pq_cb0 b LEFT JOIN pq_m1 m ON b.s = m.s AND b.c = m.c),
    {_pq_codes("pq_enc", "pq_cb", scan)},
    pq_qtab AS (
      SELECT b.s, b.c,
             CAST(FLOOR({_SCALE}.0 * LIST_SUM(LIST_TRANSFORM(range(1, 9),
               i -> q.vsub[i] * b.cv[i]))) AS BIGINT) AS pfx
      FROM pq_cb b JOIN pq_vs q ON q.s = b.s AND q.vec_id = 0
    ),
    pq_sc AS (SELECT e.vec_id, SUM(t.pfx) AS adc
              FROM pq_enc e JOIN pq_qtab t ON e.s = t.s AND e.c = t.c GROUP BY 1),
    pq_short AS (SELECT vec_id FROM pq_sc ORDER BY adc DESC, vec_id LIMIT {shortlist}),
    pq_q AS (SELECT v AS qv, n AS qn FROM en WHERE vec_id = 0)
    SELECT vec_id, cos_sim FROM (
      SELECT e.vec_id, ROUND({_dot("e.v", "q.qv")} / (e.n * q.qn), 4) AS cos_sim
      FROM en e JOIN pq_short USING (vec_id) CROSS JOIN pq_q q
    ) ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


def duck_int_cos(qa: str, sa: str, qb: str, sb: str, dims: int = 64) -> str:
    """The quantized cosine in integer ten-thousandths (``int_cos_x1e4``):
    pure integer arithmetic on the FLOOR(v·10⁴) vectors ``qa``/``qb`` and
    their exact isqrt norms ``sa``/``sb`` over the first ``dims`` dims.
    The ``+2·sa·sb`` offset keeps the dividend nonnegative, where DuckDB's
    truncating ``//`` and Spark's pmod floor agree; it bounds the dividend
    only when both norms are ≥ 2, so smaller norms score 0 on both engines."""
    d = f"CAST(LIST_SUM(LIST_TRANSFORM(range(1, {dims + 1}), i -> {qa}[i] * {qb}[i])) AS BIGINT)"
    return (
        f"CAST(CASE WHEN {sa} < 2 OR {sb} < 2 THEN 0 ELSE "
        f"(({d} + 2 * {sa} * {sb}) * 10000) // ({sa} * {sb}) - 20000 END AS BIGINT)"
    )


# ``qassign(vec_id, cluster, q, s)``: the assignment's vectors quantized to
# FLOOR(v·10⁴) BIGINTs with EXACT integer norms (``quantize_vectors``):
# FLOOR(SQRT(double)) is within ±1 of ⌊√x⌋ for x < 2⁵³ because IEEE sqrt is
# correctly rounded, and one CASE step makes it exact on any engine.
DUCK_QASSIGN = """
    qassign AS MATERIALIZED (
      SELECT vec_id, cluster, q,
             CASE WHEN (s0 + 1) * (s0 + 1) <= n2 THEN s0 + 1
                  WHEN s0 * s0 > n2 THEN s0 - 1 ELSE s0 END AS s
      FROM (
        SELECT vec_id, cluster, q, n2,
               CAST(FLOOR(SQRT(CAST(n2 AS DOUBLE))) AS BIGINT) AS s0
        FROM (
          SELECT vec_id, cluster, q,
                 CAST(LIST_SUM(LIST_TRANSFORM(q, x -> x * x)) AS BIGINT) AS n2
          FROM (SELECT vec_id, cid AS cluster,
                       LIST_TRANSFORM(v, x -> CAST(FLOOR(x * 10000) AS BIGINT)) AS q
                FROM assign)))
    )"""
