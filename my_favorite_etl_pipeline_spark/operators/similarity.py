"""Similarity search over embedding columns ([EXT] X3, SURVEY.md §2.9).

Two tiers:
- brute-force cosine top-k: the correctness baseline. Dot products via
  zip_with/aggregate higher-order functions (JVM-side, no UDF, no Arrow
  hop); top-k via orderBy+limit = TakeOrdered (per-partition heap + driver
  merge of k rows — never a global sort).
- IVF (inverted-file) top-k: the scale path. Build centroids (one agg),
  probe the nearest ``n_probe`` cells, brute-force only inside them. At
  100 TB with √N cells this cuts the scan by ~√N; cells are a partition
  key so a probe touches only its partitions.

The centroid-cell family shares one fixed-point mean
(:func:`fixed_point_means`), one nearest-cell assignment
(:func:`assign_cells`) and one query probe (:func:`probe_cells`); the
k-means/PQ index is trained once and served as committed tables
(:func:`kmeans_index`). Corpora are ``(vec_id, embedding)`` frames (plus
``label`` for the label-cell IVF), query sets ``(query_id, embedding)``;
``functions.vectors`` holds the DuckDB twins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-scope: pandas_udf resolves string type hints here

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import tracked_persist
from .scaling import ensure_min_partitions


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _vectors(corpus: DataFrame) -> DataFrame:
    """``(vec_id, __v, __n)``: the double vector and its norm."""
    return corpus.select(
        "vec_id", _dbl(F.col("embedding")).alias("__v"), norm(F.col("embedding")).alias("__n")
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential order (oracle-stable)."""
    return F.aggregate(F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_QV_SCALE = 10_000  # fixed-point quantization scale for the graph family


def int_isqrt(n2: Column) -> Column:
    """EXACT integer square root of a nonnegative BIGINT column.

    ``FLOOR(SQRT(x))`` over a double is within ±1 of ⌊√x⌋ for any
    x < 2⁵³ (the double holds x exactly and IEEE 754 requires sqrt to be
    correctly rounded), so one CASE correction step makes it exact — and
    therefore identical on ANY engine, regardless of how its sqrt rounds.
    This is the keystone of the graph family's float-free hash contract
    (VERDICT r10 item 2): norms become exact integers, not IEEE doubles.
    """
    s0 = F.floor(F.sqrt(n2.cast("double"))).cast("long")
    return (
        F.when((s0 + 1) * (s0 + 1) <= n2, s0 + 1)
        .when(s0 * s0 > n2, s0 - 1)
        .otherwise(s0)
    )


def quantize_vectors(vectors: DataFrame, vec_col: str = "__v") -> DataFrame:
    """Append the integer-quantized vector ``__q = FLOOR(v·10⁴)`` (BIGINT
    array) and its EXACT integer norm ``__s = isqrt(Σ __q²)`` to a vector
    frame. Quantization happens ONCE at load; every downstream score,
    comparison, and tie-break in the graph family is pure integer
    arithmetic on these columns (VERDICT r10 item 2: no float dot, no
    float norm, no ROUND(double) anywhere upstream of a hashed value).

    float32 → double is exact, ·10⁴ is one correctly-rounded IEEE multiply
    of identical inputs, FLOOR is exact — so ``__q`` is bit-identical on
    Spark and DuckDB by construction, and everything derived from it is
    integer math both engines define identically (nonnegative floor
    division only; see :func:`int_cos_x1e4`).
    """
    q = F.transform(F.col(vec_col), lambda x: F.floor(x * _QV_SCALE).cast("long"))
    df = vectors.withColumn("__q", q)
    n2 = F.aggregate(
        F.col("__q"), F.lit(0).cast("long"), lambda s, x: s + x * x
    )
    return df.withColumn("__s", int_isqrt(n2))


def int_cos_x1e4(qa: Column, sa: Column, qb: Column, sb: Column) -> Column:
    """Quantized-cosine score in integer ten-thousandths, pure BIGINT:
    ``((Σ qaᵢ·qbᵢ + 2·sa·sb)·10⁴) div (sa·sb) − 2·10⁴``.

    The ``+2·sa·sb`` offset keeps the dividend nonnegative: exact isqrt
    gives Σq² ≤ s² + 2s per side, so Cauchy-Schwarz bounds |Σqa·qb| ≤
    √((sa²+2sa)(sb²+2sb)) = sa·sb·√((1+2/sa)(1+2/sb)) ≤ 2·sa·sb for
    sa,sb ≥ 2 (the radicand is ≤ 4 there, equality exactly at sa=sb=2)
    — which the guard below ENFORCES by routing sa < 2 OR sb < 2
    (vector magnitude < ~3·10⁻⁴, quantized norm 0 or 1) through the zero
    branch on both engines (ADVICE r11: with sa=sb=1 the dividend could go
    negative, exactly where the two division semantics split — Spark here
    FLOORS via the pmod identity, DuckDB ``//`` TRUNCATES toward zero).
    On nonnegative dividends floor and truncate coincide, so the guarded
    score is bit-identical by construction. Bounds: |q| ≤ 10⁴, so
    Σq² ≤ 64·10⁸ and the dividend ≤ ~2·10¹⁴ — comfortably BIGINT. The
    score approximates cos·10⁴ to within quantization error (~10⁻³
    absolute on the fixture's unit-scale vectors) — an ANN ranking key,
    exactly reproducible on both engines by construction.
    """
    d = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    den = sa * sb
    num = (d + 2 * den) * F.lit(_QV_SCALE).cast("long")
    # exact floor division of nonnegatives without F.expr: num − num%den is
    # exactly divisible by den, so the double division below is EXACT (the
    # quotient is an integer ≤ 3·10⁴ ≪ 2⁵³) — no rounding enters.
    quot = ((num - F.pmod(num, den)) / den).cast("long")
    return F.when(
        (sa < F.lit(2)) | (sb < F.lit(2)), F.lit(0).cast("long")
    ).otherwise(quot - 2 * _QV_SCALE)


def unit_vec(a: Column) -> Column:
    """vᵢ/‖v‖ — PQ operates on UNIT vectors so the ADC inner product
    approximates cosine directly (norm variance would otherwise bias the
    shortlist toward long vectors regardless of angle). Codegen's
    subexpression elimination evaluates the norm once per row."""
    return F.transform(_dbl(a), lambda x: x / norm(a))


def brute_force_topk(corpus: DataFrame, query: DataFrame, k: int = 20) -> DataFrame:
    """X3 baseline — exact cosine top-k of ``corpus`` against a 1-row query.

    The query side is broadcast (it is by definition tiny); the corpus is
    scanned once, map-only, then TakeOrdered(k). Ties broken by id for
    determinism.
    """
    q = F.broadcast(query.select(F.col("embedding").alias("__qvec")))
    sim = F.round(cosine(F.col("embedding"), F.col("__qvec")), 4)
    return (
        ensure_min_partitions(corpus).crossJoin(q)
        .select(F.col("vec_id"), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def brute_force_topk_pandas(corpus: DataFrame, query: DataFrame, k: int = 20) -> DataFrame:
    """X3 via Arrow-vectorized Pandas UDF — the same top-k, Python-side.

    The when-you-must-use-Python path (SURVEY §2.10): a scalar
    ``pandas_udf`` receives Arrow batches and computes all dot products with
    one numpy matmul per batch — ~10-100× faster than a row-at-a-time UDF.
    Exists as the template for UDFs that genuinely need Python (a model
    forward pass, a tokenizer); for plain cosine the zip_with version in
    :func:`brute_force_topk` stays JVM-side and wins.
    """
    from pyspark.sql.functions import pandas_udf

    qvec = np.array(query.select("embedding").head()[0], dtype=np.float64)
    qnorm = float(np.sqrt((qvec * qvec).sum()))

    @pandas_udf("double")
    def cos_sim(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        sims = (m @ qvec) / (np.sqrt((m * m).sum(axis=1)) * qnorm)
        return pd.Series(np.round(sims, 4))

    return (
        ensure_min_partitions(corpus)
        .select(F.col("vec_id"), cos_sim(F.col("embedding")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def all_pairs_cosine(corpus: DataFrame, threshold: float) -> DataFrame:
    """X2 (embedding) exact baseline — all pairs with cosine ≥ threshold.

    O(n²) self-join on ``id_a < id_b``; norms are precomputed per row so the
    join-side work is one dot product per pair. Fixture-scale ground truth
    for :func:`lsh_pairs_cosine` — never run this beyond ~10⁵ rows.
    """
    side = _vectors(ensure_min_partitions(corpus))
    a, b = side.alias("pa"), side.alias("pb")
    cos = F.round(
        dot(F.col("pa.__v"), F.col("pb.__v")) / (F.col("pa.__n") * F.col("pb.__n")), 4
    )
    return (
        a.join(b, F.col("pa.vec_id") < F.col("pb.vec_id"))
        .select(
            F.col("pa.vec_id").alias("id_a"),
            F.col("pb.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_pairs_cosine(
    corpus: DataFrame, threshold: float, n_bands: int = 16, band_bits: int = 4
) -> DataFrame:
    """X2 (embedding) scale path — banded sign-hyperplane LSH + verify.

    Signature = sign bits of the dimensions (axis-aligned hyperplanes —
    deterministic, no RNG state to ship), split into ``n_bands`` bands of
    ``band_bits`` bits (same band structure as MinHash LSH). Candidates =
    pairs sharing any band value; only they get the exact cosine verify.

    Recall at p = P(signs agree) = 1 - θ/π is ``1-(1-p^band_bits)^n_bands``
    (~0.96 for cos 0.4 with 16×4); tighten ``band_bits`` upward for higher
    thresholds, where the pruning is also much stronger. The band join is
    the only extra shuffle and skewed bands split under AQE.

    The band count is clamped PER ROW to ``floor(dim / band_bits)`` (min 1):
    with the old unclamped ``n_bands``, a vector shorter than
    ``n_bands*band_bits`` made every trailing band an empty slice hashing to
    the same value for all rows — silently collapsing the band join toward
    all-pairs O(n²). Clamping keeps the bucketing guarantee for arbitrary
    input dims; short vectors just get proportionally fewer bands (lower
    recall, never a candidate explosion).
    """
    n_usable = F.greatest(
        F.lit(1),
        F.least(F.lit(n_bands), F.floor(F.size(F.col("embedding")) / band_bits)),
    ).cast("int")
    bands = F.transform(
        F.sequence(F.lit(0), n_usable - 1),
        lambda b: F.aggregate(
            F.slice(_dbl(F.col("embedding")), b * band_bits + 1, band_bits),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x >= 0, 1).otherwise(0),
        ),
    )
    side = ensure_min_partitions(corpus).select(
        F.col("vec_id"),
        _dbl(F.col("embedding")).alias("__v"),
        norm(F.col("embedding")).alias("__n"),
        F.posexplode(bands).alias("__band_idx", "__band_val"),
    )
    a, b = side.alias("pa"), side.alias("pb")
    cos = F.round(
        dot(F.col("pa.__v"), F.col("pb.__v")) / (F.col("pa.__n") * F.col("pb.__n")), 4
    )
    return (
        a.join(
            b,
            (F.col("pa.__band_idx") == F.col("pb.__band_idx"))
            & (F.col("pa.__band_val") == F.col("pb.__band_val"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .select(
            F.col("pa.vec_id").alias("id_a"),
            F.col("pb.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .distinct()
        .filter(F.col("cos_sim") >= threshold)
    )


def build_ivf_centroids(corpus: DataFrame) -> DataFrame:
    """IVF coarse quantizer: ``(label, centroid)``, the mean vector of each
    ``label`` cell.

    posexplode → per-(cell, dim) mean → re-assemble ordered arrays. Two
    narrow aggregations; output is #cells rows (always broadcastable).
    A production build would k-means-iterate this; one mean step is the
    same dataflow shape. Fixed-point means (:func:`fixed_point_means`)
    make the centroids bit-identical across partitionings and against the
    DuckDB oracle.
    """
    return fixed_point_means(
        corpus.select("label", _dbl(F.col("embedding")).alias("__v")), ["label"], "__v"
    )


def probe_cells(cent: DataFrame, queries: DataFrame, n_probe: int) -> DataFrame:
    """``(query_id, cid, __qv, __qn)``: each query of ``queries(query_id,
    embedding)`` with its ``n_probe`` nearest cells of ``cent(cid,
    centroid)`` and its double vector and norm. Cells rank by UNROUNDED
    centroid cosine, ties to the lower cid. A single query is a batch of
    one. One row-number window over |Q|·cells scored rows: the centroid
    table is model-sized and broadcast."""
    q = queries.select(
        "query_id", _dbl(F.col("embedding")).alias("__qv"), norm(F.col("embedding")).alias("__qn")
    )
    csim = dot(F.col("centroid"), F.col("__qv")) / (norm(F.col("centroid")) * F.col("__qn"))
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("__csim").desc(), F.col("cid"))
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__csim", csim)
        .withColumn("__pr", rank)
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "cid", "__qv", "__qn")
    )


def _query_cosine() -> Column:
    """A probed row's ``embedding`` cosine to its query, rounded to 4."""
    return F.round(
        dot(F.col("embedding"), F.col("__qv")) / (norm(F.col("embedding")) * F.col("__qn")), 4
    ).alias("cos_sim")


def _top_of_one(cand: DataFrame, k: int) -> DataFrame:
    """The single-query cut over probed rows ``(vec_id, embedding, __qv,
    __qn)``: TakeOrdered(k) by (cos_sim DESC, vec_id)."""
    return (
        cand.select("vec_id", _query_cosine())
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def _one_query(query: DataFrame) -> DataFrame:
    return query.select(F.lit(0).cast("long").alias("query_id"), "embedding")


def _label_cells(corpus: DataFrame) -> DataFrame:
    return build_ivf_centroids(corpus).select(F.col("label").alias("cid"), "centroid")


def ivf_topk(corpus: DataFrame, query: DataFrame, k: int = 20, n_probe: int = 3) -> DataFrame:
    """X3 scale path — probe the ``n_probe`` nearest ``label`` cells only.

    Label centroids (broadcast) × query → nearest cells (:func:`probe_cells`);
    join the corpus on cell membership (partition pruning when the table is
    laid out by cell); exact cosine within. Approximate overall, exact
    within probed cells.
    """
    probe = probe_cells(_label_cells(corpus), _one_query(query), n_probe)
    cand = ensure_min_partitions(corpus).join(
        F.broadcast(probe), F.col("label") == F.col("cid")
    )
    return _top_of_one(cand, k)


def ivf_topk_batch(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_probe: int = 3
) -> DataFrame:
    """X3 serving shape — a whole query SET ``(query_id, embedding)``
    through the label-cell IVF index in ONE job (no per-query client loop).

    The batched plan is *different*, not a loop: centroids (O(cells),
    broadcast) cross the query set (O(|Q|), model-sized) into a per-query
    probe table; ONE corpus pass joins each probed cell's inverted list
    against every query probing it (the probe table broadcasts —
    |Q|·n_probe rows); the per-query top-k cut is
    :func:`retrieval.impact_truncate` — the same salted two-phase exact
    top-k that bounds posting lists, with the query id as the "term", so
    a popular cell never lands a corpus-sized candidate list on one
    reducer. Total cost: one corpus scan + |matches| dot products,
    amortized over all queries — vs |Q| scans for a looped client.

    ``cand_max`` (the salting trigger) is probed with one model-sized
    aggregate over cell counts at construction (the tfidf max-df probe
    precedent; registry LAZINESS note applies). At production scale the
    same number is free from table-level column stats.
    """
    from .retrieval import impact_truncate

    # |Q|·n_probe rows, consumed twice (the cand_max probe below and the
    # broadcast candidate join): persist so the centroid build + probe
    # ranking run once, not once per consumer
    probe = tracked_persist(probe_cells(_label_cells(corpus), queries, n_probe))
    # scalar probe: worst-case candidates for one query = Σ probed cell sizes
    cand_max = (
        probe.select("query_id", "cid")
        .join(corpus.groupBy(F.col("label").alias("cid")).count(), "cid")
        .groupBy("query_id")
        .agg(F.sum("count").alias("nc"))
        .agg(F.max("nc"))
        .collect()[0][0]
        or 0
    )
    cand = (
        ensure_min_partitions(corpus)
        .join(F.broadcast(probe), F.col("label") == F.col("cid"))
        .select("query_id", "vec_id", _query_cosine())
    )
    topk = impact_truncate(
        cand, "cos_sim", id_col="vec_id", term_col="query_id", k=k, df_max=float(cand_max)
    )
    wrank = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(wrank).cast("int"))
        .select("query_id", "rank", "vec_id", "cos_sim")
        .orderBy("query_id", "rank")
    )


#: fixed-point scale for deterministic centroid means: Σ floor(x·SCALE) is
#: exact BIGINT arithmetic, so the mean is bit-identical on Spark and DuckDB
#: regardless of aggregation order (float Σ is order-dependent; integer Σ
#: is not). 1e7 keeps 7 decimals — far below any cosine-relevant noise.
CENTROID_SCALE = 10_000_000


def fixed_point_means(
    rows: DataFrame, keys: list[str], vec_col: str, out: str = "centroid"
) -> DataFrame:
    """``(*keys, out)``: the element-wise mean of the double-array column
    ``vec_col`` per ``keys`` group, as ``Σ floor(x·CENTROID_SCALE) /
    (count·CENTROID_SCALE)`` per dimension — exact BIGINT sums, so the
    mean is bit-identical on Spark and DuckDB and across partitionings —
    re-assembled into a dimension-ordered array."""
    # posexplode_outer + a NULL-__dim filter keeps posexplode's rows (an
    # empty or NULL vector adds nothing) without the size(...) > 0
    # pre-filter plain posexplode infers, which would re-run a projected
    # vector's kernel below its projection (see functions.exprs)
    per_dim = (
        rows.select(*keys, F.posexplode_outer(F.col(vec_col)).alias("__dim", "__x"))
        .where(F.col("__dim").isNotNull())
        .groupBy(*keys, "__dim")
        .agg(
            F.sum(F.floor(F.col("__x") * CENTROID_SCALE).cast("long")).alias("__sum"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            *keys,
            "__dim",
            (F.col("__sum") / (F.col("__n") * F.lit(float(CENTROID_SCALE)))).alias("__mean"),
        )
    )
    return per_dim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__mean"))), lambda p: p["__mean"]
        ).alias(out)
    )


def build_hash_centroids(corpus: DataFrame, k: int = 16) -> DataFrame:
    """Fixed-k coarse quantizer: ``(cid, centroid)``, the mean vector of
    each of ``k`` hash buckets ``cid = vec_id % k``.

    k is a PARAMETER, independent of corpus size, so the centroid table is
    O(k) rows (always broadcastable) and any nearest-centroid assignment
    against it is O(n·k), never O(n²). This is the scale-honest centroid
    source for SemDeDup/IVF-style operators and the init of
    :func:`kmeans_iterate`, which tightens clusters but never changes the
    cost shape.
    """
    return fixed_point_means(
        corpus.select(
            (F.col("vec_id") % k).cast("long").alias("cid"), _dbl(F.col("embedding")).alias("__v")
        ),
        ["cid"],
        "__v",
    )


def assign_cells(corpus: DataFrame, cent: DataFrame, top: int = 1) -> DataFrame:
    """``(vec_id, cid, cos_c, __v, __n)``: every vector of ``corpus(vec_id,
    embedding)`` with its ``top`` nearest cells of ``cent(cid, centroid)``
    (one row each), the cosine to that cell rounded to 4 places, and the
    double vector and norm for downstream joins. Ties go to the lower cid.

    One broadcast crossJoin of the O(k) centroid table and ONE aggregate:
    ``max_by`` at top 1, a k-bounded collect/sort/slice of the (cos, cid)
    scores above it. Both collapse the n·k scored rows map-side before the
    only shuffle; there is no per-vector window, and the vector itself is
    never replicated into the collected scores.
    """
    cells = F.broadcast(
        cent.select(
            F.col("cid").alias("__cid"),
            F.col("centroid").alias("__cv"),
            norm(F.col("centroid")).alias("__cn"),
        )
    )
    cos_c = F.round(dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")), 4)
    # descending struct order = cos DESC, cid ASC
    score = F.struct(cos_c.alias("c"), (-F.col("__cid")).alias("nc"), F.col("__cid").alias("cid"))
    scored = _vectors(ensure_min_partitions(corpus)).crossJoin(cells).select(
        "vec_id", "__v", "__n", score.alias("__s")
    )
    if top == 1:
        best = scored.groupBy("vec_id").agg(
            F.max_by(F.struct("__s", "__v", "__n"), F.col("__s")).alias("__b")
        )
        picked = best.select("vec_id", F.col("__b.__s").alias("__t"), "__b.__v", "__b.__n")
    else:
        tops = scored.groupBy("vec_id").agg(
            F.slice(F.reverse(F.sort_array(F.collect_list("__s"))), 1, top).alias("__ts"),
            F.first("__v").alias("__v"),
            F.first("__n").alias("__n"),
        )
        picked = tops.select("vec_id", F.explode("__ts").alias("__t"), "__v", "__n")
    return picked.select(
        "vec_id", F.col("__t.cid").alias("cid"), F.col("__t.c").alias("cos_c"), "__v", "__n"
    )


def kmeans_iterate(corpus: DataFrame, k: int = 16, n_iter: int = 2) -> DataFrame:
    """``(cid, centroid)``: Lloyd k-means refinement of
    :func:`build_hash_centroids`.

    Each round assigns every vector to its nearest centroid
    (:func:`assign_cells`) and recomputes fixed-point means per cell. Cost
    per round is one O(n·k) map + two narrow aggregations; the round count
    is a constant (quantizers converge usefully in 2-5 rounds; SemDeDup
    uses k-means centroids exactly this way), so the total stays
    O(n·k·iters) with an O(k) broadcast. Empty clusters keep their
    previous centroid (standard Lloyd fallback) via left join.

    Converged rounds are skipped: after each round a digest of the O(k·d)
    centroid table is compared to the previous round's, and identical
    digests mean every later round is the identity. Skipped rounds are
    no-ops, so oracles that unroll a FIXED round count in SQL agree. Each
    digest is a collect() job at construction time, so probing costs
    n_iter + 1 jobs to skip at most n_iter − 1 rounds: it runs only from
    ``n_iter >= 3``, where skipping a converged tail can win. Each round's
    centroid table is tracked_persist'ed (k rows) so the digest probe and
    the next round share one computation.
    """
    cent = tracked_persist(build_hash_centroids(corpus, k=k))
    use_probe = n_iter >= 3
    digest = _centroid_digest(cent) if use_probe else None
    for _ in range(n_iter):
        assigned = assign_cells(corpus, cent).select("cid", "__v")
        refreshed = fixed_point_means(assigned, ["cid"], "__v")
        cent = tracked_persist(
            cent.select("cid", F.col("centroid").alias("__prev"))
            .join(refreshed, "cid", "left")
            .select("cid", F.coalesce(F.col("centroid"), F.col("__prev")).alias("centroid"))
        )
        if use_probe:
            new_digest = _centroid_digest(cent)
            if new_digest == digest:
                break  # fixpoint: every further round is the identity
            digest = new_digest
    return cent


def _centroid_digest(cent: DataFrame) -> tuple[int, int]:
    """(row count, sum of row hashes) over the centroid table — the cheap
    fixpoint probe (same shape as graph._edge_digest). Centroid doubles come
    from exact fixed-point means, so equal digests mean equal tables."""
    row = cent.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(F.col("cid"), F.col("centroid").cast("string"))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row.n, row.h


#: the family's trained index: 16 k-means cells after 2 Lloyd rounds, and a
#: product-quantization codebook of 64 codes per subspace after 1 round
INDEX_CELLS, INDEX_ROUNDS, INDEX_CODES = 16, 2, 64


def kmeans_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The trained index over ``sf_dir``'s embeddings as committed tables:
    ``centroids(cid, centroid)`` (:func:`kmeans_iterate`), ``assign(vec_id,
    cid)`` (:func:`assign_cells` against them: the "assignment is a stored
    partition column" posture) and ``codebook(s, c, cv)``
    (:func:`pq_codebook`).

    Training runs once per (corpus, partitioning) in a process and is
    committed through VersionedMart; every serving entry reads the tables,
    which cache pressure cannot evict. Memo, key and lock rules:
    :mod:`..artifacts`.
    """
    from .. import artifacts
    from ..caching import materialized_scope
    from ..sources.tables import load

    def build(commit) -> None:
        emb = load(spark, sf_dir, "embeddings")
        # the commits materialize the parquet; the scope releases the
        # training persists
        with materialized_scope():
            cent = commit("centroids", kmeans_iterate(emb, k=INDEX_CELLS, n_iter=INDEX_ROUNDS))
            commit("assign", assign_cells(emb, cent).select("vec_id", "cid"))
            commit("codebook", pq_codebook(emb, kc=INDEX_CODES, n_iter=1))

    marts = artifacts.memoized_commit(spark, "kmeans_index", sf_dir, build=build)
    return tuple(marts[n].read(spark) for n in ("centroids", "assign", "codebook"))


def ivf_topk_kmeans(
    corpus: DataFrame,
    query: DataFrame,
    cent: DataFrame,
    assign: DataFrame,
    k: int = 20,
    n_probe: int = 3,
) -> DataFrame:
    """X3 scale path without a cell column in the corpus: IVF over a
    trained k-means index (``cent(cid, centroid)``, ``assign(vec_id,
    cid)``, see :func:`kmeans_index`).

    Probe the query's ``n_probe`` nearest cells (:func:`probe_cells`),
    take their members from the stored assignment, score exact cosine only
    inside them → TakeOrdered(k). Serving is table reads plus the O(k)
    query-side probe; at 100 TB the assignment is a partition column and
    the member join becomes partition pruning (:func:`ivf_topk`'s plan).
    """
    probe = probe_cells(cent, _one_query(query), n_probe)
    members = assign.join(F.broadcast(probe), "cid").select("vec_id", "__qv", "__qn")
    cand = ensure_min_partitions(corpus).join(members, "vec_id")
    return _top_of_one(cand, k)


def resolve_cell_count(
    corpus: DataFrame,
    k,
    target_cell_size: int = 64,
    min_k: int = 4,
    max_k: int = 1 << 20,
) -> int:
    """Resolve a cell/centroid count: an int passes through; ``"auto"``
    scales it with the corpus — ``k = clamp(ceil(n / target_cell_size))``.

    THE fixed-k scale hole: every within-cell candidate join (SemDeDup,
    kNN-graph, IVF verify) costs Σ|cell|² ≈ n²/k rows — with k FIXED that
    is quadratic in n, silently. Holding the TARGET CELL SIZE
    fixed instead makes k ∝ n, so per-cell work stays O(target²) and the
    total candidate count is O(n·target) — linear. The centroid table grows
    O(n/target) rows, broadcast-safe far past 100 TB (1e9 docs / 64 ≈ 16 M
    centroid rows is the first point to revisit; raise target or go
    hierarchical/two-level IVF there, same dataflow). Costs ONE count()
    job at plan-build time — production caches table row counts in the
    catalog. Recall note: larger k (smaller cells) trades recall for
    pruning exactly like fixed-k does; the floor tests in
    tests/test_recall_scales.py pin that auto-k keeps the measured floors.
    """
    if k == "auto":
        import math as _math

        n = corpus.count()
        return max(min_k, min(max_k, _math.ceil(n / max(1, target_cell_size))))
    return int(k)


def nearest_centroid(corpus: DataFrame, k=8, target_cell_size: int = 64) -> DataFrame:
    """``(vec_id, cluster, proto_sim, __v, __n)``: every vector's nearest of
    ``k`` hash-bucket centroids (:func:`build_hash_centroids`,
    :func:`assign_cells`), the primitive under SemDeDup, prototype pruning
    and the kNN graph. ``proto_sim`` is the rounded cosine to the vector's
    own centroid (the "prototypicality" D4-style pruning ranks on).

    ``k`` may be ``"auto"``: resolved via :func:`resolve_cell_count` so
    cell COUNT scales with the corpus and cell SIZE stays fixed — the
    within-cell Σ|cell|² joins downstream stay linear in n.
    """
    k = resolve_cell_count(corpus, k, target_cell_size=target_cell_size)
    return assign_cells(corpus, build_hash_centroids(corpus, k=k)).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("cos_c").alias("proto_sim"), "__v", "__n"
    )


def knn_topk_edges(pairs: DataFrame, k: int) -> DataFrame:
    """Collapse a scored candidate edge list ``(src_id, nbr_id, cos_sim)``
    to the top-``k`` neighbors per source: ONE collect_list + sort_array +
    slice aggregate (map-side combinable, k-bounded output per node, no
    per-vector window). Deterministic: (cos DESC, nbr_id ASC) order via
    the (c, -nbr_id) struct sort — the semdedup assign_top idiom."""
    packed = pairs.select(
        "src_id",
        F.struct(
            F.col("cos_sim").alias("c"),
            (-F.col("nbr_id")).alias("nn"),
            F.col("nbr_id").alias("nbr_id"),
        ).alias("__s"),
    )
    topk = packed.groupBy("src_id").agg(
        F.slice(F.reverse(F.sort_array(F.collect_list("__s"))), 1, k).alias("__t")
    )
    return (
        topk.select("src_id", F.posexplode("__t").alias("pos", "s"))
        .select(
            "src_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.nbr_id").alias("nbr_id"),
            F.col("s.c").alias("cos_sim"),
        )
    )


def nn_descent_round(
    edges: DataFrame,
    vectors: DataFrame,
    k: int,
    reverse_cap: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """One NN-Descent refinement round (Dong et al. 2011, "Efficient
    K-Nearest Neighbor Graph Construction for Generic Similarity
    Measures") over a directed kNN edge list ``(src_id, nbr_id,
    cos_sim)``: a node's improved neighbor candidates are its neighbors'
    neighbors in the UNDIRECTED graph (out-edges ∪ reverse edges), scored
    exactly and merged with the current edges under the same top-k rule.
    This is the standard recall lever for cell-restricted graphs — a
    boundary neighbor missed by the cell join is usually reachable through
    a shared neighbor two hops away.

    ``vectors`` must carry ``(id_col, __q, __s)`` (the
    :func:`quantize_vectors` integer vector + exact integer norm), e.g.
    the :func:`nearest_centroid` output passed through
    :func:`quantize_vectors`. ``edges.cos_sim`` must be the quantized
    integer ten-thousandth score :func:`score_id_pairs` emits — the merge
    relies on exact-duplicate rows collapsing under ``distinct()``, which
    pure-integer scores guarantee on both engines by construction.

    Plan at 100 TB: every frame is edge-bounded, never corpus-quadratic.
    The undirected list is ≤ 2·n·k rows; each node's expansion fan-out is
    capped at ``reverse_cap`` (default 2k, NN-Descent's ρ·K sampling made
    deterministic: top-cap by (cos DESC, id)) so the two-hop join emits
    ≤ n·cap² candidate rows — O(n·k²), linear in n. Scoring is an
    equi-join to the vector table (shuffle on id, near-uniform keys);
    hub nodes (high reverse in-degree) are exactly what the cap bounds.
    The merge is the same ONE collect_list aggregate as the base graph.
    Iterating rounds multiplies cost linearly; 1-2 rounds recover most
    boundary recall (measured in tests/test_recall_scales.py).
    """
    cap = reverse_cap if reverse_cap is not None else 2 * k
    und = (
        edges.select(
            F.col("src_id").alias("node"), F.col("nbr_id").alias("nbr"), "cos_sim"
        )
        .unionAll(
            edges.select(
                F.col("nbr_id").alias("node"), F.col("src_id").alias("nbr"), "cos_sim"
            )
        )
        .distinct()
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("node").orderBy(F.col("cos_sim").desc(), F.col("nbr").asc())
    )
    undc = und.withColumn("__rn", rn).filter(F.col("__rn") <= cap).select("node", "nbr")
    cand = (
        undc.alias("ha")
        .join(undc.alias("hb"), F.col("ha.nbr") == F.col("hb.node"))
        .filter(F.col("ha.node") != F.col("hb.nbr"))
        .select(F.col("ha.node").alias("src_id"), F.col("hb.nbr").alias("cand_id"))
        .distinct()
    )
    scored = score_id_pairs(cand, vectors, id_col=id_col)
    # identical rounding on both paths => exact-duplicate rows; distinct merges
    merged = edges.select("src_id", "nbr_id", "cos_sim").unionAll(scored).distinct()
    return knn_topk_edges(merged, k)


def score_id_pairs(
    pairs: DataFrame, vectors: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Exactly score an id-pair frame ``(src_id, cand_id)`` against the
    vector table: two equi-joins on near-uniform id keys + the scored
    cosine — the shared scoring tail of NN-Descent rounds and seed-edge
    construction. ``vectors`` carries ``(id_col, __q, __s)`` (the
    :func:`quantize_vectors` columns).

    ``cos_sim`` is the QUANTIZED-cosine integer ten-thousandth
    (:func:`int_cos_x1e4`) — pure BIGINT arithmetic end-to-end, NOT a
    rounded IEEE double (r9/r10 carried ``ROUND(double_cosine·10⁴)``
    here: the integer rode AFTER a float dot, two float sqrt norms, and a
    float multiply, leaving the hash contract hostage to both engines
    producing bit-identical doubles — the VERDICT r10 item-2 finding).
    Quantization error lands in the SCORE (a ~10⁻³-accurate ANN ranking
    key), never in reproducibility: both engines compute the identical
    integer from the identical quantized inputs by construction.
    Consumers emit ``cos_i / 10000.0`` at the query boundary, a single
    exact IEEE division that round-trips identically everywhere."""
    va = vectors.select(
        F.col(id_col).alias("src_id"), F.col("__q").alias("sq"), F.col("__s").alias("ss")
    )
    vb = vectors.select(
        F.col(id_col).alias("cand_id"), F.col("__q").alias("cq"), F.col("__s").alias("cs")
    )
    return (
        pairs.join(va, "src_id")
        .join(vb, "cand_id")
        .select(
            "src_id",
            F.col("cand_id").alias("nbr_id"),
            int_cos_x1e4(
                F.col("sq"), F.col("ss"), F.col("cq"), F.col("cs")
            ).alias("cos_sim"),
        )
    )


def semdedup_pairs(
    corpus: DataFrame, threshold: float, k: int = 8, assign_top: int = 1
) -> DataFrame:
    """X2 (embedding, scale path) — SemDeDup-style semantic dedup
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): assign every vector to its nearest
    centroid, then search for near-duplicate pairs ONLY within a cluster.

    The quadratic all-pairs join becomes Σ_c |cluster_c|² ≈ n²/k, and the
    per-cluster joins are plain equi-shuffles on the cluster id. Centroids
    come from :func:`build_hash_centroids` with FIXED k — the centroid
    table is O(k) (broadcast never grows with the corpus) and assignment
    (:func:`assign_cells`) is O(n·k), not the O(n²/100) a corpus-sampled
    centroid set degrades to. Deterministic on both engines: fixed-point
    centroid means, rounded cosine, id tie-break.

    Recall trades off against k (only within-cluster pairs are found, and
    borderline pairs straddle boundaries): pick k for the target cluster
    size (n/k vectors each), not for recall — production SemDeDup accepts
    this by design. :func:`kmeans_iterate` centroids recover a few points
    of recall at the same k if needed, and ``assign_top=2`` applies the
    standard boundary-recall fix: each vector joins its TOP-2 nearest
    clusters, so a borderline pair is found whenever the two vectors share
    EITHER of their two cells. Cost model: assignment output doubles to
    2n rows and the within-cluster join quadruples to ≈ 4n²/k — the same
    Σ|cluster|² shape, still nothing quadratic in n — and pairs caught in
    both shared cells dedup through one (id_a, id_b) aggregate.

    ``k`` may be ``"auto"``: resolved ONCE here via
    :func:`resolve_cell_count` so the centroid build and the assignment
    see the same count, cell COUNT scales with the corpus, and the
    Σ|cluster|² join stays linear in n.
    """
    k = resolve_cell_count(corpus, k)
    assign = tracked_persist(
        assign_cells(corpus, build_hash_centroids(corpus, k=k), assign_top).select(
            "vec_id", F.col("cid").alias("cluster"), "__v", "__n"
        )
    )
    # Pair join, skew-aware: the natural key (cluster) has only k distinct
    # values, so a plain equi-join runs k tasks no matter how many cores
    # exist and each task does |cluster|²/2 dot products. Salting spreads
    # it: side b carries bucket hash(id) % B, side a replicates each row
    # across all B target buckets — every (x < y) pair meets exactly once
    # (x lands in y's bucket), the join key becomes (cluster, bucket) with
    # k·B groups, and per-group work drops to |cluster|²/B. The persist
    # above keeps the B-fold replication from recomputing the assignment
    # aggregate per branch.
    B = 8
    a = assign.withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))).alias("sa")
    b = assign.withColumn("__b", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).cast("int")).alias(
        "sb"
    )
    cos = F.round(
        dot(F.col("sa.__v"), F.col("sb.__v")) / (F.col("sa.__n") * F.col("sb.__n")), 4
    )
    pairs = (
        a.join(
            b,
            (F.col("sa.cluster") == F.col("sb.cluster"))
            & (F.col("sa.__b") == F.col("sb.__b"))
            & (F.col("sa.vec_id") < F.col("sb.vec_id")),
        )
        .select(
            F.col("sa.cluster").alias("cluster"),
            F.col("sa.vec_id").alias("id_a"),
            F.col("sb.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    if assign_top > 1:
        # a pair sharing BOTH of its cells is found twice — collapse to
        # one row per pair (cos is identical on both; cluster = the
        # smallest shared cell, deterministic)
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min("cluster").alias("cluster"), F.min("cos_sim").alias("cos_sim")
        ).select("cluster", "id_a", "id_b", "cos_sim")
    return pairs.orderBy("cluster", "id_a", "id_b")


#: product quantization splits a 64-dim vector into _PQ_M subspaces of
#: _PQ_DSUB dims; :func:`_pq_subvectors` rejects any other width
_PQ_M, _PQ_DSUB = 8, 8


def _pq_subvectors(rows: DataFrame) -> DataFrame:
    """``rows`` with ``embedding`` (the raw vector) replaced by one row per
    contiguous 8-dim subspace: ``(*other columns, s, vsub)``, ``vsub`` the
    slice of the UNIT vector. A vector that is not 64 wide fails the query
    (``raise_error`` inside the projection, so the check costs no job)
    instead of training on its first 64 dims."""
    width = _PQ_M * _PQ_DSUB
    vec = F.col("embedding")
    unit = F.when(F.size(vec) == width, unit_vec(vec)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"product quantization needs {width}-dim vectors, got "),
                F.size(vec).cast("string"),
            )
        )
    )
    keep = [c for c in rows.columns if c != "embedding"]
    return rows.select(*keep, unit.alias("__u")).select(
        *keep,
        F.inline(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("s"),
                    F.slice(F.col("__u"), s * _PQ_DSUB + 1, _PQ_DSUB).alias("vsub"),
                ),
            )
        ),
    )


def pq_codebook(corpus: DataFrame, kc: int = 16, n_iter: int = 1) -> DataFrame:
    """Product-quantization codebook (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split the 64-dim vector into
    m = 8 contiguous subspaces and learn ``kc`` centroids per subspace.
    Returns ``(s, c, cv)`` — subspace index, code id, centroid (8 doubles).

    Same deterministic recipe as :func:`build_hash_centroids`: code buckets
    init as ``vec_id % kc`` and per-dim means use fixed-point BIGINT sums, then
    ``n_iter`` Lloyd rounds (:func:`_pq_lloyd_round`) tighten each
    subspace's codes — all bit-identical across engines and partitionings.
    Output is m·kc rows — O(1) in the corpus, always broadcastable: the
    codebook is a model artifact, not data.

    Persistence: the codebook is
    ``tracked_persist``-ed at init and after every Lloyd round. Each round
    references the previous codebook TWICE (assignment join + empty-code
    coalesce) and downstream consumers fold it twice more (``cbn`` +
    ``ptab``), so without a materialization point the whole
    corpus-pass-per-round training chain duplicated multiplicatively into
    the final plan — embedding_topk_ivf_pq's physical plan was 306
    Exchanges / 3,248 lines, re-running PQ training several times per
    execution. Persisting an m·kc-row model table per round is the same
    contract :func:`kmeans_iterate` has always had.
    """
    cb = tracked_persist(
        fixed_point_means(
            _pq_subvectors(
                corpus.select((F.col("vec_id") % kc).cast("int").alias("c"), "embedding")
            ),
            ["s", "c"],
            "vsub",
            "cv",
        )
    )
    for _ in range(n_iter):
        cb = tracked_persist(_pq_lloyd_round(corpus, cb))
    return cb


def _pq_lloyd_round(corpus: DataFrame, cb: DataFrame) -> DataFrame:
    """One Lloyd refinement per subspace: re-assign every subvector to its
    nearest code (fixed-point BIGINT distance, ties → smaller code), then
    recompute fixed-point means per (subspace, code). Codes that lose all
    members keep the previous centroid (the ``kmeans_iterate`` contract).

    The hash-bucket init puts every initial centroid near the subspace
    data mean, which makes raw-init ADC a blunt instrument; one round
    separates the codes enough to double shortlist recall on the fixture
    (see tests/test_model_filters.py). Cost: one corpus pass — an
    m-per-row explode, a broadcast join against the m·kc codebook, and two
    narrow aggregates. Training cost, not scoring cost.
    """
    vs = _pq_subvectors(corpus.select("vec_id", "embedding"))
    dfx = F.floor(
        F.lit(PQ_SCALE)
        * F.aggregate(
            F.zip_with(F.col("vsub"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    ).cast("long")
    assigned = (
        vs.join(F.broadcast(cb), "s")
        .select("vec_id", "s", "vsub", F.col("c"), dfx.alias("dfx"))
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(
                F.struct(F.col("c"), F.col("vsub")),
                F.struct(F.col("dfx"), F.col("c")),
            ).alias("b")
        )
        .select("s", F.col("b.c").alias("c"), F.col("b.vsub").alias("vsub"))
    )
    cb1 = fixed_point_means(assigned, ["s", "c"], "vsub", "cv1")
    # both sides are O(m·kc) model tables — broadcast explicitly (the
    # initial plan would otherwise SMJ two 128-row aggregates; the hint is
    # safe because the codebook size is a parameter, never corpus-scale)
    return cb.join(F.broadcast(cb1), ["s", "c"], "left").select(
        "s", "c", F.coalesce(F.col("cv1"), F.col("cv")).alias("cv")
    )


#: fixed-point scale for PQ distances / ADC partial dots: floor(x·1e7) as
#: BIGINT makes every comparison and every cross-subspace SUM exact integer
#: arithmetic — order-free and engine-portable (float sums are neither).
PQ_SCALE = 10_000_000.0


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    cb: DataFrame,
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """X3 scale path — PQ-ADC retrieval with exact re-rank against a
    trained codebook ``cb(s, c, cv)`` (:func:`pq_codebook`; the code count
    is read from it): encode every vector as m = 8 one-byte codes,
    score candidates by Asymmetric Distance Computation (sum of
    per-subspace query·centroid partial dot products — a 128-entry table
    lookup instead of a 64-dim dot), keep a ``shortlist``, then re-rank the
    shortlist with the TRUE cosine. This is the memory story behind
    billion-vector ANN (FAISS IVF-PQ): 8 bytes per vector instead of 256,
    so the scan set fits in RAM at scales where raw vectors cannot;
    compose with the IVF cell probe (:func:`ivf_pq_topk`) to also cut the
    scan set — the two are orthogonal stages of the same pipeline.

    Spark shape — ZERO corpus-scale shuffles: the codebook and the query's
    ADC table are folded into ONE broadcast row of nested arrays
    (``cbn[s][c][i]``, ``ptab[s][c]``), and encoding + scoring run per-row
    inside higher-order functions (slice, zip_with fold, array_min over
    (dist, code) structs, element_at lookups) — a pure map stage, then
    TakeOrdered(shortlist) carrying the vector, then a broadcast crossJoin
    re-rank of ``shortlist`` rows. Deterministic on both engines:
    fixed-point codebook means, floor-scaled BIGINT distances and partial
    dots (integer argmin/sums — no float ordering anywhere), code ties to
    the smaller id, final ties to ``vec_id``.
    """
    m, dsub = _PQ_M, _PQ_DSUB
    # ONE broadcastable row: cbn[s][c][i] — nested sort_array folds keep
    # subspace and code order deterministic.
    cbn = (
        cb.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("c", "cv"))).alias("p"))
        .select("s", F.transform("p", lambda x: x.cv).alias("cbs"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("s", "cbs"))).alias("p"))
        .select(F.transform("p", lambda x: x.cbs).alias("cbn"))
    )
    # query-side ADC table ptab[s][c] = floor(1e7 · q_sub·centroid)
    q1 = query.select(unit_vec(F.col("embedding")).alias("__qv"))
    ptab = (
        cb.crossJoin(F.broadcast(q1))
        .select(
            "s",
            "c",
            F.floor(
                F.lit(PQ_SCALE)
                * F.aggregate(
                    F.zip_with(
                        F.slice(F.col("__qv"), F.col("s") * dsub + 1, dsub),
                        F.col("cv"),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            .cast("long")
            .alias("pfx"),
        )
        .groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("c", "pfx"))).alias("p"))
        .select("s", F.transform("p", lambda x: x.pfx).alias("ps"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("s", "ps"))).alias("p"))
        .select(F.transform("p", lambda x: x.ps).alias("ptab"))
    )
    v = F.col("__u")
    # per-row: for each subspace pick argmin_{c} floor(1e7·L2²(v_s, cb[s][c]))
    # (ties → smaller c), then sum the 8 ADC table entries — exact BIGINTs.
    dist_fx = lambda s, c: F.floor(
        F.lit(PQ_SCALE)
        * F.aggregate(
            F.zip_with(
                F.slice(v, s * dsub + 1, dsub),
                F.element_at(F.element_at(F.col("cbn"), s + 1), c + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    ).cast("long")
    best_code = lambda s: F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.size(F.element_at(F.col("cbn"), s + 1)) - 1),
            lambda c: F.struct(dist_fx(s, c).alias("d"), c.alias("c")),
        )
    )["c"]
    adc_fx = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(F.col("ptab"), s + 1), best_code(s) + 1
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    short = (
        # normalize ONCE per row in its own projection — referencing
        # unit_vec inside the 128 encode lambdas would re-evaluate the norm
        # per term (higher-order-function bodies sit outside codegen's
        # common-subexpression elimination; measured 4x on the fixture).
        # The raw vector rides along for the re-rank, which is the
        # brute-force twin's exact cosine.
        ensure_min_partitions(corpus)
        .select("vec_id", "embedding", unit_vec(F.col("embedding")).alias("__u"))
        .crossJoin(F.broadcast(cbn))
        .crossJoin(F.broadcast(ptab))
        .select("vec_id", "embedding", adc_fx.alias("__adc"))
        .orderBy(F.col("__adc").desc(), F.col("vec_id"))
        .limit(shortlist)
    )
    q = F.broadcast(query.select(F.col("embedding").alias("__qvec")))
    return (
        short.crossJoin(q)
        .select("vec_id", F.round(cosine(F.col("embedding"), F.col("__qvec")), 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    query: DataFrame,
    cent: DataFrame,
    assign: DataFrame,
    cb: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_probe: int = 6,
) -> DataFrame:
    """X3 — the COMPOSED FAISS-style index: IVF cell probe (scan cut) ×
    PQ-ADC codes (memory cut) × exact re-rank, served from a trained index
    (``cent``/``assign``/``cb``, see :func:`kmeans_index`): probe the
    ``n_probe`` nearest coarse cells, ADC-score ONLY vectors assigned to
    probed cells against the query's distance table, shortlist, re-rank
    with true cosine.

    Scan set ≈ (n_probe/cells)·corpus and each scanned vector costs a
    table lookup instead of a 64-dim dot; memory per vector is m codes.
    The codebook is trained on the FULL corpus — it must not depend on
    which cells a query probes, or codes would be query-dependent. The
    probe is :func:`ivf_topk_kmeans`'s (:func:`probe_cells`), with the
    family's probe-6 recall knob as the default: on this fixture's
    near-isotropic synthetic embeddings the probe is the recall
    bottleneck (hash-init cells measured 0.42 mean recall@10; Lloyd+6
    probes ≈ 0.6+). Deterministic end-to-end, so the DuckDB oracle
    replays the full composition.
    """
    probe = probe_cells(cent, _one_query(query), n_probe).select("cid")
    in_cells = assign.join(F.broadcast(probe), "cid", "left_semi").select("vec_id")
    # NO broadcast hint: in_cells is (n_probe/cells)·corpus — it SCALES.
    # At 100 TB the assignment is a stored partition column and this join
    # becomes partition pruning; AQE picks the strategy at fixture scale.
    subset = corpus.join(in_cells, "vec_id", "left_semi")
    return pq_adc_topk(subset, query, cb, k=k, shortlist=shortlist)


# ---------------------------------------------------------------------------
# MMR diverse re-ranking


def mmr_rerank(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 — Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results maximizing ``λ·rel − (1−λ)·max
    sim-to-selected`` with λ = 0.5, the diversity-aware final stage a
    retrieval pipeline runs after any ANN shortlist.

    Scale shape at 100 TB: the ONLY corpus-scale work is the shortlist scan
    (map-only cosine + TakeOrdered(``shortlist``) — identical plan to
    brute_force_topk; swap in any ANN arm for the same contract). Both the
    pairwise-similarity join and the greedy loop run on the BOUNDED
    shortlist (50×49 pair rows, one Arrow group), so re-rank cost is
    O(shortlist²) regardless of corpus size — the standard shortlist/
    re-rank split (same as pq_adc_topk's exact re-rank).

    Determinism contract: relevance and pair similarities are fixed-point
    integer ten-thousandths (``ROUND(cos·10⁴) AS BIGINT``) BEFORE the
    greedy argmax, and with λ = 0.5, ``argmax(0.5·rel − 0.5·maxsim)``
    ≡ ``argmax(rel_i − maxsim_i)`` — an INTEGER comparison with an id
    tie-break, so Spark and a step-unrolled SQL oracle select identical
    sets (float MMR scores would sit exactly on rounding halves — the
    registry-banned class). Emitted ``mmr`` is the integer score / 10⁴.
    """
    q = F.broadcast(query.select(F.col(vec_col).alias("__qvec")))
    rel_i = F.round(cosine(F.col(vec_col), F.col("__qvec")) * 10000).cast("long")
    cand = (
        ensure_min_partitions(corpus)
        .crossJoin(q)
        .select(F.col(id_col), F.col(vec_col), rel_i.alias("rel"))
        .orderBy(F.col("rel").desc(), F.col(id_col))
        .limit(shortlist)
    )
    a = cand.select(
        F.col(id_col).alias("pa"), F.col(vec_col).alias("va"), F.col("rel")
    )
    b = cand.select(F.col(id_col).alias("pb"), F.col(vec_col).alias("vb"))
    pairs = (
        a.join(b, F.col("pa") != F.col("pb"))
        .select(
            "pa",
            "pb",
            "rel",
            F.round(cosine(F.col("va"), F.col("vb")) * 10000)
            .cast("long")
            .alias("sim"),
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = pdf.groupby("pa")["rel"].first().to_dict()
        sims = {(int(r.pa), int(r.pb)): int(r.sim) for r in pdf.itertuples()}
        remaining = sorted(int(i) for i in rel)
        selected: list[int] = []
        out = []
        for rank in range(1, min(k, len(remaining)) + 1):
            best_id, best_score = None, None
            for c in remaining:
                ms = max((sims.get((c, s), 0) for s in selected), default=0)
                score = int(rel[c]) - ms
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append((rank, best_id, best_score / 10000.0))
        return pd.DataFrame(out, columns=["rank", id_col, "mmr"])

    return (
        pairs.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(greedy, schema=f"rank int, {id_col} long, mmr double")
        .orderBy("rank")
    )
