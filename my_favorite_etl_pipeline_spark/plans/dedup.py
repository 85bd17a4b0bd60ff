"""Deduplication plans: exact, near-duplicate and span-level.

- exact: ``dedup_exact_groups``, ``dedup_keep_first``,
  ``dedup_fingerprint_groups``, ``dedup_normalized_text``,
  ``dedup_keep_best`` (quality-ranked survivor), ``dedup_incremental_batch``
  (a new batch against an already-deduplicated corpus);
- near-duplicate pairs: MinHash LSH, SimHash (xxhash64 and the
  md5-portable twin), exact n-gram Jaccard, the PPJoin prefix-filter
  ssjoin, winnowing fingerprints, edit distance, containment pairs and
  drops, and the cross-source overlap matrix;
- clusters: connected components over the near-duplicate graph (full,
  star and 1-in-10 sampled twins) and the PageRank-canonical survivor;
- semantic: embedding cosine pairs (exact and LSH), SemDeDup cluster pairs
  and D4 prototype pruning;
- spans: exact 20-token span dedup and span excision.

Every entry replays exactly in DuckDB; the shared DuckDB fragments (the
shingle CTE, md5 buckets) live in ``functions`` next to their Spark halves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..functions import text as TX
from ..functions.text import DUCK_SHINGLES
from ..operators import similarity as SIM
from ..operators.dedup import (
    minhash_near_dups,
    shingles,
    simhash_bits,
    simhash_bits_portable,
    simhash_near_dups,
)
from ..operators.graph import connected_components
from ..registry import register
from ..sources.tables import load


# EXACT all-pairs Jaccard via an inverted-index equi-join instead of the
# O(n²) inequality join: any pair with jaccard > 0 shares >= 1 shingle, so
# joining the exploded (doc, shingle) postings on shingle equality and
# counting matches per pair yields |A∩B| for exactly the candidate pairs
# that can pass a positive threshold; |A∪B| = |A| + |B| - |A∩B|. Same
# result set, but the join parallelizes in DuckDB (the inequality join ran
# a single-threaded nested loop — 12.5M pairs took ~20 min at sf0.1 and
# stalled the sweep; this form takes seconds).
_DUCK_JACCARD_PAIRS = f"""
    {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT inter.id_a, inter.id_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
    )
"""


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT text,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — exact dedup as hash-groupBy on the full text: canonical id +
    multiplicity per distinct text. One shuffle on the text hash."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(LOWER(TRIM(text))))
    """,
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — keep-first dedup by fingerprint via row_number window (the
    deterministic ``dropDuplicates``: survivor = lowest doc_id). Same
    shuffle shape as upsert compaction (M2)."""
    docs = load(spark, sf_dir, "documents").withColumn("fp", TX.fingerprint("text"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "dedup_fingerprint_groups",
    oracle="""
    SELECT md5(LOWER(TRIM(text))) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY md5(LOWER(TRIM(text)))
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 fingerprinting — md5 document fingerprint (bit-identical across
    engines, unlike xx/murmur) grouped for dup detection. At scale the
    16-byte digest shuffles instead of the full text — the usual exact-dedup
    optimization for long documents."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(TX.fingerprint("text").alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@register(
    "minhash_near_dups",
    oracle=f"""
    WITH {_DUCK_JACCARD_PAIRS}
    SELECT * FROM p WHERE jaccard >= 0.5
    """,
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — MinHash+LSH near-dup detection, end-to-end.

    shingle → 32 xxhash64 minhashes → 16 band buckets → candidate pairs →
    exact-Jaccard verify ≥ 0.5. The oracle is exact all-pairs Jaccard: it
    matches iff LSH recall is 100% on this corpus (miss prob ~3e-12/pair).
    Candidates are bucket-bounded — the only all-pairs computation anywhere
    is inside a bucket, which is what survives 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    return minhash_near_dups(docs, "doc_id", "text", threshold=0.5)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_JACCARD_PAIRS}
    SELECT * FROM p WHERE jaccard >= 0.9
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact variant — EXACT all-pairs n-gram Jaccard at a high
    threshold, via the inverted-index equi-join (optimization r15; the
    algorithm this query's own DuckDB oracle has used since mid-r5).

    The pre-r15 Spark side ran the literal O(n²) inequality join
    (BroadcastNestedLoopJoin, 38.4 s at sf0.1); the result SET is provably
    identical under this form: shingle sets are distinct, so
    |A∪B| = |A| + |B| − |A∩B| and jaccard = c/(n_a + n_b − c) is the same
    double the old array_intersect/array_union division produced, and any
    pair with jaccard ≥ 0.9 > 0 shares ≥ 1 shingle, so the shingle
    equi-join's candidate set contains every qualifying pair (recall is
    100% by construction — this stays the LSH path's exact ground truth;
    only the quadratic plan shape is gone). Guide §2.4/§3.1: the
    inequality join becomes a hash-partitionable equi-join + one hash
    aggregate; 38.4 s → ~2 s at sf0.1, and the shape now scales with the
    posting-list mass (Σ_g df_g²) instead of n². The exploded posting
    table feeds both join sides — persisted so the shingle pass runs once.
    The deliberately-quadratic POSITIVE CONTROL the scale sweep needs
    lives in tools/scale_sweep.py itself now (an unregistered plan), not
    in a registered query every bench and sweep pays 40 s for.
    """
    from ..caching import tracked_persist
    from ..operators.scaling import ensure_min_partitions

    docs = load(spark, sf_dir, "documents")
    sh = tracked_persist(
        ensure_min_partitions(docs)
        .select("doc_id", shingles(F.col("text")).alias("sh"))
        .select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.round(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")), 4
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.9
    )


@register("simhash_signatures")  # rows-only: xxhash64 is Spark-specific
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash) — 64-bit signature per document as 4×16-bit chunks.

    One aggregate over the token array per row (vector accumulator via
    zip_with); no shuffle at all until a downstream blocking join.
    """
    docs = load(spark, sf_dir, "documents")
    sig = simhash_bits(F.col("text"))
    return docs.select(
        "doc_id",
        sig[0].alias("chunk0"),
        sig[1].alias("chunk1"),
        sig[2].alias("chunk2"),
        sig[3].alias("chunk3"),
    )


@register("simhash_near_dups")  # rows-only: xxhash64 is Spark-specific
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash) — chunk-blocked pairs with hamming ≤ 3 (pigeonhole
    blocking keeps the candidate join bounded, mirroring MinHash bands)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_near_dups(docs, "doc_id", "text", max_hamming=3)

# Portable SimHash signature pipeline in SQL: md5 halves parsed to 32-bit
# ints via hex-digit arithmetic, per-bit ±1 sums, sign bits folded into
# 16-bit chunks (first bit of a chunk most significant — matches the
# ``acc*2 + bit`` fold in operators.dedup._chunks_from_sums).
_DUCK_SIMHASH = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tm AS (SELECT doc_id, md5(UNNEST(t)) AS m FROM toks),
    th AS (
      SELECT doc_id,
        CAST(LIST_SUM(LIST_TRANSFORM(range(8), i ->
          CAST(strpos('0123456789abcdef', substr(m, i + 1, 1)) - 1 AS BIGINT)
            * (CAST(1 AS BIGINT) << (4 * (7 - i))))) AS BIGINT) AS hi,
        CAST(LIST_SUM(LIST_TRANSFORM(range(8), i ->
          CAST(strpos('0123456789abcdef', substr(m, i + 9, 1)) - 1 AS BIGINT)
            * (CAST(1 AS BIGINT) << (4 * (7 - i))))) AS BIGINT) AS lo
      FROM tm
    ),
    bitsum AS (
      SELECT doc_id, bb.b,
             SUM(CASE WHEN (CASE WHEN bb.b < 32 THEN lo >> bb.b
                            ELSE hi >> (bb.b - 32) END) % 2 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT UNNEST(range(64)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    sig AS (
      SELECT doc_id, CAST(b // 16 AS INT) AS chunk_idx,
             CAST(SUM((CASE WHEN s > 0 THEN 1 ELSE 0 END)
                      * (CAST(1 AS BIGINT) << (15 - CAST(b % 16 AS INT)))) AS INT)
               AS chunk_val
      FROM bitsum GROUP BY doc_id, chunk_idx
    )
"""


@register(
    "simhash_signatures_portable",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT doc_id,
           CAST(MAX(CASE WHEN chunk_idx = 0 THEN chunk_val END) AS INT) AS chunk0,
           CAST(MAX(CASE WHEN chunk_idx = 1 THEN chunk_val END) AS INT) AS chunk1,
           CAST(MAX(CASE WHEN chunk_idx = 2 THEN chunk_val END) AS INT) AS chunk2,
           CAST(MAX(CASE WHEN chunk_idx = 3 THEN chunk_val END) AS INT) AS chunk3
    FROM sig GROUP BY doc_id
    """,
)
def q_simhash_signatures_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash, r5) — the same signature dataflow on ENGINE-PORTABLE
    md5-derived token bits, which is what earns the SimHash family a
    value-hash oracle (the xxhash64 variant above stays the fast
    production default and keeps its rows-only status for a fundamental
    reason: no other engine reproduces Spark's xxhash64)."""
    docs = load(spark, sf_dir, "documents")
    sig = simhash_bits_portable(F.col("text"))
    return docs.select(
        "doc_id",
        sig[0].alias("chunk0"),
        sig[1].alias("chunk1"),
        sig[2].alias("chunk2"),
        sig[3].alias("chunk3"),
    )


@register(
    "simhash_near_dups_portable",
    oracle=f"""
    WITH {_DUCK_SIMHASH},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
           AND a.doc_id < b.doc_id
    ),
    sp AS (
      SELECT doc_id,
             MAX(CASE WHEN chunk_idx = 0 THEN chunk_val END) AS c0,
             MAX(CASE WHEN chunk_idx = 1 THEN chunk_val END) AS c1,
             MAX(CASE WHEN chunk_idx = 2 THEN chunk_val END) AS c2,
             MAX(CASE WHEN chunk_idx = 3 THEN chunk_val END) AS c3
      FROM sig GROUP BY doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT c.id_a, c.id_b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
                + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS hamming
      FROM cand c
      JOIN sp pa ON c.id_a = pa.doc_id
      JOIN sp pb ON c.id_b = pb.doc_id
    ) WHERE hamming <= 3
    """,
)
def q_simhash_near_dups_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash, r5) — chunk-blocked hamming ≤ 3 pairs over the
    portable md5-bit signatures: the oracle replays blocking, pigeonhole
    candidate generation, and the XOR-popcount verify in SQL, giving the
    SimHash FAMILY end-to-end value verification (candidate recall is
    separately floor-tested against brute force for the xxhash variant in
    tests/test_dedup_similarity.py)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_near_dups(
        docs, "doc_id", "text", max_hamming=3, bits_fn=simhash_bits_portable
    )


@register(
    "embedding_cosine_near_dups",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> a.v[i] * b.v[i]))
                 / (a.nrm * b.nrm), 4) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> a.v[i] * b.v[i]))
                / (a.nrm * b.nrm), 4) >= 0.4
    """,
)
def q_embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (embedding flavor) — all-pairs cosine near-dup pairs ≥ 0.4.

    The exact baseline: O(n²) self-join, oracle-checked. Kept at fixture
    scale only (``embeddings`` stops scaling at sf0.1); the scale path is
    the hyperplane-bucketed variant below, same verify step over LSH
    candidates instead of all pairs.
    """
    emb = load(spark, sf_dir, "embeddings")
    return SIM.all_pairs_cosine(emb, threshold=0.4)


@register(
    "embedding_cosine_near_dups_lsh",
    oracle="""
    WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    en AS (SELECT vec_id, v, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS n FROM e),
    bands AS (
      SELECT en.vec_id, b.band_idx,
             CAST(LIST_SUM(LIST_TRANSFORM(range(4), j ->
               (CASE WHEN en.v[b.band_idx * 4 + j + 1] >= 0 THEN 1 ELSE 0 END)
                 * (1 << (3 - j)))) AS BIGINT) AS band_val
      FROM en CROSS JOIN (SELECT UNNEST(range(16)) AS band_idx) b
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT c.id_a, c.id_b,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> ea.v[i] * eb.v[i]))
               / (ea.n * eb.n), 4) AS cos_sim
      FROM cand c
      JOIN en ea ON c.id_a = ea.vec_id
      JOIN en eb ON c.id_b = eb.vec_id
    ) WHERE cos_sim >= 0.4
    """,
)
def q_embedding_cosine_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (embedding flavor, scale path) — banded sign-hyperplane LSH.

    16 bands × 4 sign bits; only band-colliding pairs are verified. The
    all-pairs join above becomes a per-band-bucket join — the shape that
    survives 100 TB. Approximate RECALL vs the exact all-pairs variant
    (~0.96 at cos 0.4 — floor pinned in tests/test_approx_invariants.py),
    but the algorithm itself is deterministic: axis-aligned sign bits, no
    RNG — so since r5 the oracle replays the band construction + candidate
    join + verify in SQL and the driver hash-checks the exact output.
    """
    emb = load(spark, sf_dir, "embeddings")
    return SIM.lsh_pairs_cosine(emb, threshold=0.4, n_bands=16, band_bits=4)


@register(
    "dedup_cluster_components",
    # edge generation via the inverted-index equi-join: identical >= 0.9
    # pair set to the O(n²) inequality join (any qualifying pair shares a
    # shingle), but it parallelizes in DuckDB — the nested-loop form is
    # what made this oracle "30 minutes at sf0.1" and excluded it from the
    # round sweeps through r4
    oracle=f"""
    WITH RECURSIVE {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT u, v FROM inter
      JOIN sizes sa ON inter.u = sa.doc_id
      JOIN sizes sb ON inter.v = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(root) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ — near-dup CLUSTERING: ≥0.9-Jaccard pairs become an edge list,
    connected components merge transitive chains (A~B, B~C ⇒ one group even
    if A≁C), component id = min doc_id = the canonical doc to keep. Every
    doc gets a component (singletons = themselves).

    The oracle computes the same fixpoint as a DuckDB recursive CTE
    (min reachable id per node) — an independent algorithm, so agreement
    checks the iteration's convergence, not just its arithmetic. Edge
    generation is the prefix-filtered set-similarity join (EXACT — 100%
    recall at the threshold, so the all-pairs oracle still matches) plus
    an exact-Jaccard verify on the candidates only: the scale path, not
    the fixture-only all-pairs baseline ``ngram_jaccard_pairs`` keeps.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = near_dup_pairs_90(docs)
    comp = connected_components(pairs, vertices=docs.select("doc_id"))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    ).orderBy("doc_id")


def near_dup_pairs_90(docs: DataFrame) -> DataFrame:
    """``(src, dst)`` ≥0.9-Jaccard near-dup pairs via the prefix-filtered
    set-similarity join + exact verify — the edge generation of
    ``dedup_cluster_components``, factored (r11) so the canonical-selection
    composition ``dedup_canonical_pagerank`` consumes the identical graph."""
    from ..operators.dedup import prefix_filter_pairs

    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    # hashed shingle arrays (r16-opt) — the jaccard_verify contract: int64
    # intersect/union, sizes exact absent an in-pair xxhash64 collision
    sh = tracked_persist(  # self-joined below: shingle once, not twice
        docs.select(
            "doc_id",
            F.transform(TX.shingles(F.col("text")), lambda x: F.xxhash64(x)).alias("sh"),
        )
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    return (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(jac >= 0.9)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )

# Deterministic 1-in-10 doc subset for the SAMPLED cluster twins: the full
# recursive-CTE oracle is all-pairs over |documents| and grinds for 30+ min
# at sf0.1 (5 000 docs) — these twins restrict BOTH engine and oracle to
# doc_id % 10 == 0 so the local sf0.1 sweep can hash-check the cluster
# family end-to-end (r4 verdict item 4). The Spark side is the identical
# operator composition; only the input set shrinks.
_DUCK_SHINGLES_SAMPLED = """
    sdocs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM sdocs),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
               ELSE [] END) AS s
      FROM toks
    )
"""

_CLUSTER_SAMPLED_ORACLE = f"""
    WITH RECURSIVE {_DUCK_SHINGLES_SAMPLED},
    p AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
            / LEN(list_distinct(list_concat(a.s, b.s))) >= 0.9
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM sdocs
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(root) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY doc_id
    """


def _sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)


@register("dedup_cluster_components_sampled", oracle=_CLUSTER_SAMPLED_ORACLE)
def q_dedup_cluster_components_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ sweep twin of ``dedup_cluster_components`` on the deterministic
    doc_id %% 10 subset — same exact prefix-filter + verify + min-label CC
    composition, but the recursive-CTE oracle stays tractable at sf0.1, so
    the scale sweep hash-checks this family instead of skipping it."""
    from ..operators.dedup import prefix_filter_pairs

    docs = _sampled_docs(spark, sf_dir)
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    sh = docs.select("doc_id", TX.shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    pairs = (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(jac >= 0.9)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    comp = connected_components(pairs, vertices=docs.select("doc_id"))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    ).orderBy("doc_id")


@register("dedup_cluster_components_star_sampled", oracle=_CLUSTER_SAMPLED_ORACLE)
def q_dedup_cluster_components_star_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep twin of ``dedup_cluster_components_star`` (large/small-star
    contraction) on the doc_id %% 10 subset — triangulates BOTH iterative
    CC algorithms against the recursive CTE at sf0.1."""
    from ..operators.dedup import jaccard_verify, prefix_filter_pairs
    from ..operators.graph import connected_components_star

    docs = _sampled_docs(spark, sf_dir)
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    pairs = jaccard_verify(docs, cand, "doc_id", "text", threshold=0.9).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components_star(pairs, vertices=docs.select("doc_id"))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    ).orderBy("doc_id")


@register(
    "dedup_incremental_batch",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
    )
    SELECT b.doc_id, CAST(c.fp IS NOT NULL AS BOOLEAN) AS is_dup
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    ORDER BY b.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+ — incremental dedup: flag arriving docs whose exact fingerprint
    already exists in the standing corpus (the per-batch production path —
    never re-cluster the whole corpus, just probe it). Fingerprints shrink
    the corpus side to one md5 per distinct text before the join; at 100 TB
    the probe becomes a bloom-filter pre-pass (sources/bucketing + runtime
    bloom config) with this exact join as the verifier.

    The corpus/batch split is simulated by doc_id modulo on the one
    documents fixture.
    """
    docs = load(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return (
        batch.join(corpus, "fp", "left")
        .select("doc_id", F.coalesce("seen", F.lit(False)).alias("is_dup"))
        .orderBy("doc_id")
    )


@register(
    "ssjoin_prefix_filter",
    # exact Jaccard via the inverted-index equi-join (see
    # _DUCK_JACCARD_PAIRS): identical result set to the O(n²) inequality
    # join for any positive threshold, but parallelizable in DuckDB — the
    # nested-loop form stalled the sf0.1 sweep for ~20 min per query
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
               ELSE [] END) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT inter.id_a, inter.id_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
    )
    SELECT * FROM p WHERE jaccard >= 0.9
    """,
)
def q_ssjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — EXACT set-similarity self-join via prefix filtering
    (SSJoin/PPJoin): candidates from the rare-token prefix equi-join, then
    exact-Jaccard verify. Same output contract as ``ngram_jaccard_pairs``
    and ``minhash_near_dups`` but a third, independent algorithm: 100%
    recall by THEOREM (not probability), and — unlike the all-pairs
    baseline — every step is an equi-shuffle that survives 100 TB. The
    all-pairs oracle agreeing is exactly the recall guarantee under test.
    """
    from ..operators.dedup import jaccard_verify, prefix_filter_pairs

    docs = load(spark, sf_dir, "documents")
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    return jaccard_verify(docs, cand, "doc_id", "text", threshold=0.9)


@register(
    "winnowing_fingerprints",
    oracle="""
    WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents),
    h AS (
      SELECT doc_id,
             CASE WHEN L >= 8
               THEN list_transform(range(L - 7), i -> md5(substr(text, i+1, 8)))
               ELSE [md5(text)] END AS hs
      FROM d
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4
               THEN list_distinct(list_transform(range(len(hs) - 3),
                                                 j -> list_min(hs[j+1:j+4])))
               ELSE [list_min(hs)] END AS fps
      FROM h
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(fps), ',')) AS fp_digest
    FROM w ORDER BY doc_id
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — document fingerprinting by winnowing (Schleimer et al. 2003,
    the MOSS algorithm): hash every char 8-gram, slide a window of 4
    hashes, keep each window's minimum — guaranteeing any ≥11-char match
    between two docs shares a fingerprint, with ~2/(w+1) selection density.
    md5 (bit-identical across engines) as the rolling hash; output is the
    distinct-fingerprint count plus an order-insensitive digest.

    Map-only: the whole gram→window→min cascade is higher-order functions
    inside the row — zero shuffles, a pure scan at 100 TB. Fingerprints
    would feed the same equi-join machinery as ``prefix_filter_pairs`` for
    plagiarism-style matching.
    """
    from ..operators.scaling import ensure_min_partitions

    docs = ensure_min_partitions(load(spark, sf_dir, "documents"))
    text = F.col("text")
    grams = F.when(
        F.length(text) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - 7),
            lambda i: F.md5(text.substr(i, F.lit(8))),
        ),
    ).otherwise(F.array(F.md5(text)))
    from ..functions.exprs import let

    fps = let(
        grams,
        lambda hs: F.when(
            F.size(hs) >= 4,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(hs) - 4),
                    # least(element_at×4), not array_min(slice): avoids one
                    # 4-element array allocation per window position
                    lambda j: F.least(
                        *[F.element_at(hs, (j + k + 1).cast("int")) for k in range(4)]
                    ),
                )
            ),
        ).otherwise(F.array(F.array_min(hs))),
    )
    # Both outputs derive from ONE let-bound evaluation of fps: Catalyst
    # does not CSE through HOF lambdas (and CollapseProject would merge a
    # two-step select back into duplicated trees), so referencing fps twice
    # in the projection would run the whole md5 cascade twice — measured 2×
    # wall on the fixture corpus.
    out = let(
        fps,
        lambda f: F.struct(
            F.size(f).cast("long").alias("n"),
            F.md5(F.array_join(F.array_sort(f), ",")).alias("d"),
        ),
    )
    staged = docs.select("doc_id", out.alias("o"))
    from ..caching import presentation_sort

    return presentation_sort(
        staged.select(
            "doc_id",
            F.col("o.n").alias("n_fingerprints"),
            F.col("o.d").alias("fp_digest"),
        ),
        "doc_id",
    )


def _cluster_oracle() -> str:
    """Reuse dedup_cluster_components' recursive-CTE oracle verbatim — the
    star variant must produce the identical component assignment. Safe at
    decoration time: dedup_cluster_components registers earlier in this
    module."""
    from ..registry import REGISTRY

    return REGISTRY["dedup_cluster_components"].oracle


@register("dedup_cluster_components_star", oracle=_cluster_oracle())
def q_dedup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ — near-dup clustering with the large-star/small-star contraction
    (Kiveris et al. 2014) instead of min-label propagation: O(log² n)
    rounds vs O(component diameter), the variant that survives adversarial
    chain-of-mirrors dedup graphs. Same edge generation (exact
    prefix-filter join + Jaccard verify ≥ 0.9) and the same oracle as
    ``dedup_cluster_components`` — agreement across BOTH iterative
    algorithms and the DuckDB recursive CTE triangulates the fixpoint.
    """
    from ..operators.dedup import jaccard_verify, prefix_filter_pairs
    from ..operators.graph import connected_components_star

    docs = load(spark, sf_dir, "documents")
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    pairs = jaccard_verify(docs, cand, "doc_id", "text", threshold=0.9).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components_star(pairs, vertices=docs.select("doc_id"))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    ).orderBy("doc_id")


@register(
    "dedup_keep_best",
    # inverted-index edge generation — identical pair set, parallelizable
    # (see dedup_cluster_components)
    oracle=f"""
    WITH RECURSIVE {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT u, v FROM inter
      JOIN sizes sa ON inter.u = sa.doc_id
      JOIN sizes sb ON inter.v = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS component FROM reach GROUP BY node),
    ranked AS (
      SELECT c.component, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_chars,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1 ORDER BY component
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ — near-dup clustering composed with CANONICAL SELECTION: inside
    each ≥0.9-Jaccard component keep the doc with the most characters
    (tie-break min doc_id), not the arbitrary min-id member. This is what
    production dedup actually ships — dropping the truncated mirror and
    keeping the full article — and it exercises the cluster → join-back →
    per-cluster argmax composition end to end.

    Plan: exact prefix-filtered pair generation (equi-shuffles only, 100%
    recall at the threshold) → one-job-per-round connected components →
    broadcast-size join back to documents → per-component row_number.
    Cluster sizes are near-dup groups (tiny), so the final window has no
    skew; the heavy lifting stays in the pair join, which is bounded by the
    prefix filter.
    """
    from ..operators.dedup import prefix_filter_pairs

    docs = load(spark, sf_dir, "documents")
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    sh = tracked_persist(  # self-joined below: shingle once, not twice
        docs.select("doc_id", TX.shingles(F.col("text")).alias("sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    pairs = (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(jac >= 0.9)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    comp = connected_components(pairs, vertices=docs.select("doc_id"))
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("doc_id").cast("long").alias("kept_doc_id"),
            F.col("n_chars").cast("long").alias("kept_chars"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("component")
    )


@register(
    "dedup_keep_best_sampled",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES_SAMPLED},
    p AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
            / LEN(list_distinct(list_concat(a.s, b.s))) >= 0.9
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM sdocs
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS component FROM reach GROUP BY node),
    ranked AS (
      SELECT c.component, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN sdocs d ON d.doc_id = c.doc_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_chars,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1 ORDER BY component
    """,
)
def q_dedup_keep_best_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep twin of ``dedup_keep_best`` on the deterministic doc_id %% 10
    subset (see the sampled cluster twins): the recursive-CTE +
    per-component argmax oracle stays tractable at sf0.1, so the scale
    sweep hash-checks cluster→canonical selection instead of skipping it."""
    from ..operators.dedup import prefix_filter_pairs

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9)
    sh = docs.select("doc_id", TX.shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    pairs = (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(jac >= 0.9)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    comp = connected_components(pairs, vertices=docs.select("doc_id"))
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("doc_id").cast("long").alias("kept_doc_id"),
            F.col("n_chars").cast("long").alias("kept_chars"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("component")
    )


@register(
    "dedup_normalized_text",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM documents
    GROUP BY 1
    ORDER BY fp
    """,
)
def q_dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+ — exact dedup after TEXT NORMALIZATION (casefold + whitespace
    collapse + trim): the cheapest rung of the dedup ladder above byte-exact
    hashing — catches re-wrapped/re-cased copies at map-only cost before the
    expensive MinHash tiers run. One hash aggregate, partial map-side
    combine, no data movement beyond the fingerprint groupBy.
    """
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")))
    return (
        docs.groupBy(fp.alias("fp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .orderBy("fp")
    )

#: SQL twin of operators.similarity.resolve_cell_count(k="auto",
#: target_cell_size=64): the oracle derives the cell count from the SAME
#: rule the engine resolves, so auto-k queries replay without a Python-side
#: count leaking into the oracle text.
AUTO_K_SQL = (
    "(SELECT GREATEST(4, LEAST(1048576, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)))"
    " FROM embeddings)"
)


def _semdedup_assign_cte(assign_top: int, k_sql: str = "8", keyword: str = "WITH") -> str:
    """The shared CTE prefix — fixed-point hash centroids + top-m
    nearest-centroid assignment (mirrors operators.similarity
    build_hash_centroids / nearest_centroid). Factored (r8) so the
    SemDeDup pair oracles AND the kNN-graph oracle (graph.py) replay ONE
    assignment text and cannot drift. ``k_sql`` is the cell-count
    expression — a literal for the fixed-k flagships, ``AUTO_K_SQL`` for
    the auto-k twins (r10). ``keyword`` lets a composition that appends a
    recursive CTE open the block with ``WITH RECURSIVE`` (ADVICE r11: a
    parameter instead of substring surgery on generated SQL)."""
    return f"""
    {keyword} n AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    dims AS (
      SELECT vec_id % {k_sql} AS cid, d.dim AS dim,
             CAST(FLOOR(v[d.dim] * 10000000.0) AS BIGINT) AS sv
      FROM n, (SELECT UNNEST(range(1, 65)) AS dim) d
    ),
    cstat AS (SELECT cid, dim, SUM(sv) AS s, COUNT(*) AS c FROM dims GROUP BY cid, dim),
    cvec AS (
      SELECT cid, LIST(s / (c * 10000000.0) ORDER BY dim) AS cv
      FROM cstat GROUP BY cid
    ),
    cent AS (SELECT cid, cv, SQRT(LIST_SUM(LIST_TRANSFORM(cv, x -> x * x))) AS cn FROM cvec),
    scored AS (
      SELECT n.vec_id, n.v, n.nrm, c.cid,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> n.v[i] * c.cv[i]))
                   / (n.nrm * c.cn), 4) AS cos_c
      FROM n CROSS JOIN cent c
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, v, nrm, cid AS cluster
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos_c DESC, cid) AS rn
            FROM scored)
      WHERE rn <= {assign_top}
    )"""


def _semdedup_oracle(assign_top: int, k_sql: str = "8") -> str:
    """SemDeDup oracle, parameterized by the per-vector assignment count
    (r7): top-1 is classic SemDeDup; top-2 is the boundary-recall variant.
    The pair aggregate (GROUP BY pair, MIN over identical values) is an
    identity at top-1 and the duplicate-cell collapse at top-2, so ONE
    template serves both and cannot drift. ``k_sql``: see
    ``_semdedup_assign_cte``."""
    return f"""
    {_semdedup_assign_cte(assign_top, k_sql)},
    p AS (
      SELECT MIN(a.cluster) AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             MIN(ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm), 4)) AS cos_sim
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT cluster, id_a, id_b, cos_sim FROM p
    WHERE cos_sim >= 0.4
    ORDER BY cluster, id_a, id_b
    """


@register(
    "semdedup_cluster_pairs",
    oracle=_semdedup_oracle(1),
)
def q_semdedup_cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ — SemDeDup (Abbas et al. 2023): semantic near-dup pairs found
    WITHIN nearest-centroid clusters only, the shape that replaces the
    O(n²) all-pairs cosine join with Σ|cluster|² ≈ n²/k work. Centroids
    are FIXED-k hash-bucket means (k=8, fixed-point integer sums so both
    engines compute bit-identical centroids regardless of aggregation
    order) — the centroid table is O(k) and never grows with the corpus,
    and assignment is one broadcast + one max_by aggregate (no per-vector
    window). The exact all-pairs twin (embedding_cosine_near_dups) is the
    recall ground truth (see tests/test_dedup_similarity.py).
    """
    from ..operators.similarity import semdedup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return semdedup_pairs(emb, threshold=0.4, k=8)


@register(
    "semdedup_cluster_pairs_top2",
    oracle=_semdedup_oracle(2),
)
def q_semdedup_cluster_pairs_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ — SemDeDup with TOP-2-centroid assignment (r7): the standard
    boundary-recall fix — each vector joins its two nearest cells, so a
    borderline pair straddling one boundary is still found when the two
    vectors share EITHER cell. Assignment is one collect_list(k)+sort+
    slice aggregate (k-bounded, map-side combinable, no per-vector
    window); the within-cell join stays the salted Σ|cluster|² shape at
    ≈ 4× the top-1 cost; pairs found in both shared cells collapse
    through one (id_a, id_b) aggregate. Same generated oracle as
    ``semdedup_cluster_pairs`` with ``rn <= 2`` — the two entries cannot
    drift. Recall vs the exact all-pairs twin is measured at two scales
    in tests/test_recall_scales.py.
    """
    from ..operators.similarity import semdedup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return semdedup_pairs(emb, threshold=0.4, k=8, assign_top=2)


@register(
    "semdedup_cluster_pairs_auto_k",
    oracle=_semdedup_oracle(1, k_sql=AUTO_K_SQL),
)
def q_semdedup_cluster_pairs_auto_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ (r10) — SemDeDup with the AUTO cell count, the scale-safe plan
    (VERDICT r9 item 5): ``k = max(4, ceil(n / 64))`` from
    ``resolve_cell_count``, so cell COUNT grows with the corpus and cell
    SIZE stays pinned at the 64-vector target — the within-cell Σ|cell|²
    candidate join is O(n·64), linear in n, where the k=8 flagship (kept
    for oracle-replay continuity and as the recall baseline) silently goes
    quadratic past fixture scale. The oracle derives the SAME count in SQL
    (``AUTO_K_SQL``), so the twin replays end-to-end with no Python count
    in the oracle text. The linearity bound itself is pinned across a 10×
    corpus growth in tests/test_recall_scales.py
    (test_auto_cell_count_bounds_candidates_across_scales).
    """
    from ..operators.similarity import semdedup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return semdedup_pairs(emb, threshold=0.4, k="auto")


@register(
    "exact_span_dedup_20tok",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g0 AS (SELECT doc_id, UNNEST(range(len(t) - 19)) AS pos, t
           FROM toks WHERE len(t) >= 20),
    g AS (SELECT doc_id, pos,
                 ARRAY_TO_STRING(list_slice(t, pos + 1, pos + 20), ' ') AS gram
          FROM g0),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    r AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diff,
                 pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                         ORDER BY pa) AS grp
          FROM m)
    SELECT doc_a, doc_b,
           CAST(MIN(pa) AS BIGINT) AS a_start,
           CAST(MIN(pb) AS BIGINT) AS b_start,
           CAST(MAX(pa) - MIN(pa) + 20 AS BIGINT) AS span_tokens
    FROM r GROUP BY doc_a, doc_b, diff, grp
    """,
)
def q_exact_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 — exact-substring span dedup (Lee et al. 2021): every maximal
    exact token span of >= 20 tokens shared between two documents, with
    0-based start offsets on both sides. The operator the "remove exact
    duplicate spans corpus-wide" pretraining step needs — distinct from
    contamination_13gram (train-vs-benchmark overlap FLAG) in that it
    returns the aligned spans themselves, merged to maximal length via
    gaps-and-islands, ready for span excision. 20 tokens here because the
    fixture's docs have a 56-token median (Lee et al. use 50 BPE tokens;
    the width is a parameter of :func:`exact_span_matches`). Since r6 the
    self-join key is xxhash64(gram) with a verify against the token arrays
    (8-byte shuffle key, zero gram strings shuffled) — the oracle's
    gram-string join replays the identical RESULT because collisions are
    filtered exactly.
    """
    from ..operators.dedup import exact_span_matches

    return exact_span_matches(load(spark, sf_dir, "documents"), min_tokens=20)


@register(
    "dedup_excise_spans_20tok",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g0 AS (SELECT doc_id, UNNEST(range(len(t) - 19)) AS pos, t
           FROM toks WHERE len(t) >= 20),
    g AS (SELECT doc_id, pos,
                 ARRAY_TO_STRING(list_slice(t, pos + 1, pos + 20), ' ') AS gram
          FROM g0),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    r AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diff,
                 pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                         ORDER BY pa) AS grp
          FROM m),
    spans AS (
      SELECT doc_a, doc_b, MIN(pa) AS a_start, MIN(pb) AS b_start,
             MAX(pa) - MIN(pa) + 20 AS span_tokens
      FROM r GROUP BY doc_a, doc_b, diff, grp
    ),
    removed AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_b AS doc_id,
               UNNEST(generate_series(b_start, b_start + span_tokens - 1)) AS pos
        FROM spans)
    ),
    tp AS (
      SELECT doc_id, pos, t[pos + 1] AS tok FROM (
        SELECT doc_id, UNNEST(range(len(t))) AS pos, t FROM toks)
    ),
    j AS (
      SELECT tp.doc_id, tp.pos, tp.tok, rm.pos IS NOT NULL AS cut
      FROM tp LEFT JOIN removed rm
        ON tp.doc_id = rm.doc_id AND tp.pos = rm.pos
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(LIST(tok ORDER BY pos) FILTER (WHERE NOT cut), ' '),
                    '') AS clean_text,
           CAST(COUNT(*) FILTER (WHERE cut) AS BIGINT) AS n_removed_tokens
    FROM j GROUP BY doc_id
    """,
)
def q_dedup_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 — the excision step of Lee et al. 2021 substring dedup: for
    every duplicated >= 20-token gram the lowest-id document keeps its
    copy, every other occurrence has the covered range cut out
    (overlapping losses deduplicated by position), and every document
    comes back with its surviving text reassembled in order plus the
    removed-token count. Runs the CANONICAL-representative path
    (:func:`span_removal_positions`, r6): per gram one groupBy emits the
    O(df) non-keeper occurrences — never the O(df²) pair set — so viral
    boilerplate (one gram in 10⁶ docs) cannot blow up the plan. The oracle
    derives the same removal set pairwise (equivalence proven in
    span_removal_positions' docstring and pinned by
    tests/test_dedup_spans.py); span DETECTION is checked by
    exact_span_dedup_20tok, this checks REMOVAL semantics."""
    from ..operators.dedup import excise_span_duplicates

    return excise_span_duplicates(load(spark, sf_dir, "documents"), min_tokens=20)


# ---------------------------------------------------------------------------
# prototype_prune_d4

@register(
    "prototype_prune_d4",
    oracle="""
    WITH e AS (SELECT vec_id,
                      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    en AS (SELECT vec_id, v,
                  SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nrm
           FROM e),
    dims AS (SELECT UNNEST(range(64)) AS dim),
    pd AS (SELECT e.vec_id % 8 AS cid, d.dim,
                  CAST(SUM(CAST(FLOOR(e.v[d.dim + 1] * 10000000) AS BIGINT)) AS DOUBLE)
                    / (COUNT(*) * 10000000.0) AS mean_val
           FROM e CROSS JOIN dims d GROUP BY 1, 2),
    cent AS (SELECT cid, LIST(mean_val ORDER BY dim) AS centroid
             FROM pd GROUP BY cid),
    cn AS (SELECT cid, centroid,
                  SQRT(LIST_SUM(LIST_TRANSFORM(centroid, x -> x * x))) AS cnrm
           FROM cent),
    scored AS (
      SELECT en.vec_id, c.cid,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> en.v[i] * c.centroid[i]))
               / (en.nrm * c.cnrm), 4) AS cos_c
      FROM en CROSS JOIN cn c
    ),
    assign AS (
      SELECT vec_id, cid AS cluster, cos_c AS proto_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    hist AS (SELECT cluster, proto_sim AS s, COUNT(*) AS c
             FROM assign GROUP BY 1, 2),
    cum AS (SELECT cluster, s,
                   SUM(c) OVER (PARTITION BY cluster ORDER BY s DESC) AS cge
            FROM hist),
    nc AS (SELECT cluster, COUNT(*) AS n FROM assign GROUP BY 1),
    th AS (SELECT cum.cluster, MIN(CASE WHEN cge * 4 <= n THEN s END) AS tc
           FROM cum JOIN nc USING (cluster) GROUP BY 1)
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster, a.proto_sim
    FROM assign a JOIN th USING (cluster)
    WHERE th.tc IS NULL OR a.proto_sim < th.tc
    ORDER BY a.vec_id
    """,
)
def q_prototype_prune_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+/X3 (r7) — SSL-prototypes/D4-style diversity pruning (Sorscher
    et al. 2022 "Beyond neural scaling laws"; Tirumala et al. 2023 "D4"):
    cluster the embedding space, rank every vector by similarity to its
    OWN cluster centroid ("prototypicality"), and DROP the most
    prototypical ~25% of each cluster — the redundancy-heavy core that
    contributes least to data diversity. The keep set (what a pretraining
    run reads) is returned.

    Scale design mirrors ``perplexity_buckets_ccnet``: the per-cluster
    25th-from-the-top cut comes from a compacted (cluster, rounded-sim)
    HISTOGRAM with a descending cumulative count — corpus-scale work is
    the O(n·k) assignment (:func:`nearest_centroid`: one broadcast
    crossJoin + one max_by aggregate) plus one hash agg; no per-cluster
    rank window ever sorts the corpus with k-way parallelism. Tie policy
    is by-threshold (all vectors at the cut score survive together), so
    the drop fraction is ≤ 25% exactly: floor(n/4) ≥ #dropped on every
    cluster, enforced in tests/test_model_filters.py.
    """
    from ..operators.similarity import nearest_centroid

    emb = load(spark, sf_dir, "embeddings")
    assign = nearest_centroid(emb, k=8).select("vec_id", "cluster", "proto_sim")
    hist = assign.groupBy("cluster", "proto_sim").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cge",
        F.sum("c").over(Window.partitionBy("cluster").orderBy(F.desc("proto_sim"))),
    )
    nc = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    th = (
        cum.join(nc, "cluster")
        .groupBy("cluster")
        .agg(
            F.min(
                F.when(F.col("cge") * 4 <= F.col("n"), F.col("proto_sim"))
            ).alias("tc")
        )
    )
    return (
        assign.join(F.broadcast(th), "cluster")
        .filter(F.col("tc").isNull() | (F.col("proto_sim") < F.col("tc")))
        .select("vec_id", F.col("cluster").cast("long").alias("cluster"), "proto_sim")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# source_overlap_matrix

_SOM_T = 0.9  # near-dup Jaccard threshold (the ssjoin/minhash contract)


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
               ELSE [] END) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT inter.id_a, inter.id_b
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
      WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) >= {_SOM_T}
    ),
    dir AS (SELECT id_a AS d, id_b AS o FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    ds AS (SELECT doc_id, source FROM documents),
    e AS (SELECT a.source AS src_a, b.source AS src_b, dir.d
          FROM dir JOIN ds a ON dir.d = a.doc_id
                   JOIN ds b ON dir.o = b.doc_id),
    ov AS (SELECT src_a, src_b, COUNT(DISTINCT d) AS n_overlap
           FROM e GROUP BY 1, 2),
    nn AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
    SELECT g_a.source AS src_a, g_b.source AS src_b,
           CAST(g_a.n_docs AS BIGINT) AS n_docs_a,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST((COALESCE(ov.n_overlap, 0) * 10000) // g_a.n_docs AS BIGINT)
             AS share_x10000
    FROM nn g_a CROSS JOIN nn g_b
    LEFT JOIN ov ON ov.src_a = g_a.source AND ov.src_b = g_b.source
    ORDER BY src_a, src_b
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X4+ (late r9) — the source-overlap containment matrix: for every
    ordered source pair (A, B), the fraction of A's documents that have at
    least one ≥{_SOM_T}-Jaccard near-duplicate in B (diagonal = A's
    internal near-dup rate). The corpus-governance statistic behind "how
    much of crawl X is already inside curated set Y" — what a mixture
    designer reads BEFORE weighting sources (double-counted content
    silently up-weights itself) and the aggregate view auditors ask of
    cross-source contamination. Full |sources|² grid with explicit zeros:
    an absent row and a measured-zero row must not be confusable.

    Plan at 100 TB: near-dup evidence comes from the PPJoin prefix-filter
    candidate equi-join + exact verify shared with
    ``ssjoin_prefix_filter`` — 100% recall by theorem, every step an
    equi-shuffle, NO all-pairs anywhere. The matrix tail is model-sized:
    directed-edge union (2×|pairs|), two doc→source equi-joins against a
    projection AQE broadcasts, one (src_a, src_b) distinct-count agg —
    at most |sources|² rows survive. The share is fixed-point integer
    DIV by ten-thousandths (the fertility precedent): a double ratio of
    two small integers lands on exact rounding halves far too often to
    survive cross-engine ROUND.
    """
    from ..operators.dedup import jaccard_verify, prefix_filter_pairs

    docs = load(spark, sf_dir, "documents")
    cand = prefix_filter_pairs(docs, "doc_id", "text", threshold=_SOM_T)
    pairs = jaccard_verify(docs, cand, "doc_id", "text", threshold=_SOM_T).select(
        "id_a", "id_b"
    )
    direct = pairs.select(
        F.col("id_a").alias("d"), F.col("id_b").alias("o")
    ).unionByName(pairs.select(F.col("id_b").alias("d"), F.col("id_a").alias("o")))
    ds = docs.select("doc_id", "source")
    e = (
        direct.join(ds.select(F.col("doc_id").alias("d"), F.col("source").alias("src_a")), "d")
        .join(ds.select(F.col("doc_id").alias("o"), F.col("source").alias("src_b")), "o")
    )
    ov = e.groupBy("src_a", "src_b").agg(F.count_distinct("d").alias("n_overlap"))
    nn = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    grid = nn.select(F.col("source").alias("src_a"), F.col("n_docs").alias("n_docs_a")).crossJoin(
        F.broadcast(nn.select(F.col("source").alias("src_b")))
    )
    return (
        grid.join(F.broadcast(ov), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("n_docs_a").cast("long").alias("n_docs_a"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(
                "CAST((COALESCE(n_overlap, 0) * 10000) DIV n_docs_a AS BIGINT)"
            ).alias("share_x10000"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# dedup_canonical_pagerank


def _canonical_oracle() -> str:
    from .graph import _PR_ROUNDS, _pagerank_cte

    # one WITH block: the pagerank trajectory opens it with the RECURSIVE
    # keyword the reachability fixpoint needs (threaded parameter, ADVICE
    # r11), then the near-dup edge CTEs append after it (jp, not p — the
    # graph prefix already binds p)
    pr_cte = _pagerank_cte(recursive=True)
    return f"""
    {pr_cte},
    {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT u, v FROM inter
      JOIN sizes sa ON inter.u = sa.doc_id
      JOIN sizes sb ON inter.v = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
    ),
    uedges AS (SELECT u, v FROM jp UNION SELECT v, u FROM jp),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN uedges e ON e.u = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS component FROM reach GROUP BY node),
    members AS (
      SELECT c.component, c.doc_id, COALESCE(p.s, 0) AS s
      FROM comp c LEFT JOIN pr{_PR_ROUNDS} p ON p.node = c.doc_id
    ),
    ranked AS (
      SELECT component, doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY s DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM members
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(s AS BIGINT) AS keep_pagerank_x1e6
    FROM ranked WHERE rn = 1 AND n_members >= 2 ORDER BY component
    """


@register("dedup_canonical_pagerank", oracle=_canonical_oracle())
def q_dedup_canonical_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ (r11) — near-dup cluster CANONICALIZATION by graph centrality:
    connected components over the ≥0.9-Jaccard near-dup graph (the
    dedup_cluster_components machinery, shared edge generation) choose
    their keeper as the member with the highest kNN-graph PageRank
    (knn_graph_pagerank's exact-integer trajectory, shared helper) — ties
    and embedding-less members fall back to lowest-id, PageRank scores
    being ≥ 150 000 for every scored node. Emits one row per multi-member
    cluster: (component, keep_id, n_members, keep_pagerank_x1e6) — the
    "keep the most central exemplar, drop satellites" selection the dedup
    literature prescribes for cluster representatives, and the first
    entry composing TWO independently oracle-checked trajectories
    (reachability fixpoint + power iteration) in one hash contract.

    Plan at 100 TB: both inputs are existing scale-audited paths (the
    prefix-filtered ssjoin edge list + Pregel-style PageRank); this adds
    ONE id equi-join (components × scores, near-uniform keys) and one
    per-component max_by hash aggregate — output is cluster-sized, no new
    shuffle shape, no collect.
    """
    from ..operators.graph import connected_components
    from .graph import pagerank_scores

    docs = load(spark, sf_dir, "documents")
    comp = connected_components(
        near_dup_pairs_90(docs), vertices=docs.select("doc_id")
    )
    pr = pagerank_scores(spark, sf_dir)
    members = comp.join(pr, comp.node == pr.vec_id, "left").select(
        F.col("comp").alias("component"),
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("pagerank_x1e6"), F.lit(0)).cast("long").alias("s"),
    )
    best = members.groupBy("component").agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("s")),
            F.struct(F.col("s").alias("c"), (-F.col("doc_id")).alias("nd")),
        ).alias("b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        best.filter(F.col("n_members") >= 2)
        .select(
            F.col("component").cast("long"),
            F.col("b.doc_id").alias("keep_id"),
            F.col("n_members").cast("long"),
            F.col("b.s").alias("keep_pagerank_x1e6"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# edit_distance_near_dups

_ED_TAU = 5  # max edit distance for a near-dup pair

_ED_BAND = 8  # length-band width; τ < band ⇒ a pair spans ≤ 1 boundary
#: count-filter alphabet: the 14 most frequent English letters + space.
#: Any single edit changes at most 2 histogram cells by 1 each, so
#: edit_distance ≥ L1/2 and pairs with L1 > 2·τ are provably > τ apart —
#: the bound needs no alphabet completeness, only that counted chars count
#: identically on both engines (ASCII ⇒ byte == codepoint == char).
#: Shared with the engine operator so the oracle cannot drift from it.

from ..operators.dedup import EDIT_DISTANCE_CHARS as _ED_CHARS  # noqa: E402


def _ed_hist_sql() -> str:
    return ", ".join(
        f"(length(text) - length(replace(text, '{c}', ''))) AS c{i}"
        for i, c in enumerate(_ED_CHARS)
    )


def _ed_l1_sql(a: str, b: str) -> str:
    return " + ".join(f"abs({a}.c{i} - {b}.c{i})" for i in range(len(_ED_CHARS)))


@register(
    "edit_distance_near_dups",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, text, length(text) AS n,
             length(text) // {_ED_BAND} AS band, {_ed_hist_sql()}
      FROM documents WHERE lang = 'en'
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.text AS ta, b.text AS tb
      FROM d a JOIN d b
        ON a.band = b.band AND a.doc_id < b.doc_id
       AND abs(a.n - b.n) <= {_ED_TAU}
       AND ({_ed_l1_sql("a", "b")}) <= {2 * _ED_TAU}
      UNION ALL
      SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id),
             a.text, b.text
      FROM d a JOIN d b
        ON b.band = a.band + 1
       AND a.doc_id <> b.doc_id
       AND abs(a.n - b.n) <= {_ED_TAU}
       AND ({_ed_l1_sql("a", "b")}) <= {2 * _ED_TAU}
    )
    SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(ta, tb) <= {_ED_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def q_edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ (r12) — character-level near-dup pairs: English documents within
    Levenshtein distance {tau}, found by the block → count-filter → verify
    funnel (never all-pairs). Blocking is EXACT for the threshold: edit
    distance ≥ |Δlen|, so a qualifying pair's lengths differ by ≤ τ < band
    width, landing it in the same or adjacent band; the count filter is the
    q=1 Ukkonen bound (edit ≥ L1(char histogram)/2), 15 integer counters
    per doc, measured ~780× candidate cut at sf0.1 (57,653 → 74) before
    any quadratic work; the verifier is the THRESHOLD-bounded Levenshtein
    (Spark's 3-arg form walks the O(τ·L) diagonal band, not the O(L²)
    matrix; survivors are so few the oracle's unbounded form is fine).

    Scoped to lang='en' BY CONTRACT: Spark counts Levenshtein in
    codepoints, DuckDB in bytes, so the cross-engine contract is pinned on
    ASCII text where the two coincide (the fixture's en slice is verified
    pure-ASCII; production multi-lang runs normalize or scope per-lang the
    same way). Column semantics: (doc_a < doc_b, exact edit_dist ≤ τ).
    The operator's adjacent-band id guard (``__id != __id``,
    operators/dedup.py) is mirrored here as ``a.doc_id <> b.doc_id``
    (ADVICE r13 #2): on duplicate-id input both engines now drop the
    degenerate ``doc_a == doc_b`` row identically instead of diverging.

    Plan at 100 TB: the self-joins are hash equi-joins on the band key
    (the +1 twin is a second equi-join, unioned — no inequality join, no
    cartesian); per-band populations are length-distribution bounded, and
    the L1 prune runs INSIDE the join condition so only true candidates
    materialize. Levenshtein cost is O(τ·L) on the pruned stragglers —
    the same funnel shape ssjoin_prefix_filter pins for token sets.
    """
    from ..caching import tracked_persist
    from ..operators.dedup import edit_distance_pairs

    docs = load(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    # persist the (tiny) verified pair set before the presentation sort:
    # a global orderBy's range-partitioner samples its child with a
    # separate job, re-executing the whole band-join + Levenshtein verify
    # — measured 1.4 s → 3.0 s from the sort alone (r15-opt, guide §2.4
    # "an orderBy used only to make output deterministic")
    pairs = tracked_persist(
        edit_distance_pairs(
            docs, "doc_id", "text", tau=_ED_TAU, band=_ED_BAND, chars=_ED_CHARS
        )
    )
    return pairs.orderBy("doc_a", "doc_b")

#: containment threshold as an EXACT rational (4/5 = 0.8): the qualify
#: compare is c·DEN >= NUM·n_a in integers on both engines — no float
#: ever touches the boundary (the _FUZZ_T unrounded-ratio precedent).
_CONT_NUM, _CONT_DEN = 4, 5


def _containment_oracle() -> str:
    """EXACT all-pairs containment via the inverted-index equi-join (the
    ssjoin/fuzzy-decon oracle shape — any pair with c >= 1 shares a
    shingle, so posting collisions enumerate every candidate); the
    funnel's prefix cut is recall-lossless by theorem, so the plain join
    must agree."""

    return f"""
    WITH {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(COUNT(*) AS BIGINT) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT ida AS doc_id, idb AS container_id,
           CAST(sa.n AS BIGINT) AS n_shingles, c AS n_shared,
           CAST(c * 10000 // sa.n AS BIGINT) AS containment_bp
    FROM inter JOIN sizes sa ON sa.doc_id = ida
    WHERE c * {_CONT_DEN} >= sa.n * {_CONT_NUM}
    ORDER BY doc_id, container_id
    """


@register("containment_overlap_pairs", oracle=_containment_oracle())
def q_containment_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (r15) — ordered CONTAINMENT pairs: every (doc, container) with
    |A∩B|/|A| >= {_CONT_NUM}/{_CONT_DEN} over 3-gram shingles, A != B —
    Broder's containment coefficient, the doc-inside-doc direction the
    Jaccard funnels are blind to (a fully-quoted short doc against a long
    host reads J ≈ |A|/|B| ≈ 0 but C = 1). Emits (doc_id, container_id,
    n_shingles, n_shared, containment_bp) with the ratio in exact basis
    points; the threshold compares c·{_CONT_DEN} >= n·{_CONT_NUM} in
    integers so the boundary is engine-identical.

    Candidate funnel — the ASYMMETRIC prefix theorem: if C(A,B) >= t
    then at most n_a − ceil(t·n_a) of A's shingles miss B, so among A's
    first n_a − ceil(t·n_a) + 1 shingles under ANY fixed global order at
    least one lands in B. Ordering rarest-first (corpus df ascending,
    the PPJoin discipline) and equi-joining ONLY A's prefix against B's
    full posting list yields a candidate superset at 100% recall —
    recall by THEOREM, like ``ssjoin_prefix_filter``, with
    ``ceil_frac`` keeping the ceiling exact where float ceil loses a
    slot. Candidates verify exactly via array_intersect on the full
    shingle arrays.

    Plan at 100 TB: one shingle pass (persisted — it feeds the
    frequency agg, the ranked re-agg, and the verify), one vocab-sized
    frequency agg, the prefix×posting equi-join (hash-partitioned on
    the shingle; prefix slots hold the RAREST shingles so hot-shingle
    buckets never enter from the A side), and a candidate-sized verify
    join. No all-pairs product anywhere; every shuffle an equi-key.
    """
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), num=_CONT_NUM, den=_CONT_DEN
    ).orderBy("doc_id", "container_id")


# ---------------------------------------------------------------------------
# containment_dedup_drops — the drop decision over the containment pairs


def _containment_drops_oracle() -> str:
    """Rollup over the SAME exact pair table as the pairs entry (shared
    inverted-index CTE text) — best container by (containment DESC,
    container_id), plus the container count as evidence strength."""

    return f"""
    WITH {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(COUNT(*) AS BIGINT) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT ida, idb, c, CAST(c * 10000 // sa.n AS BIGINT) AS cbp
      FROM inter JOIN sizes sa ON sa.doc_id = ida
      WHERE c * {_CONT_DEN} >= sa.n * {_CONT_NUM}
    )
    SELECT ida AS doc_id,
           CAST(MIN(idb) FILTER (WHERE (cbp, -idb) = mx) AS BIGINT)
             AS best_container,
           CAST(MAX(cbp) AS BIGINT) AS containment_bp,
           CAST(COUNT(*) AS BIGINT) AS n_containers
    FROM (SELECT ida, idb, cbp,
                 MAX((cbp, -idb)) OVER (PARTITION BY ida) AS mx
          FROM p)
    GROUP BY ida
    ORDER BY doc_id
    """


@register("containment_dedup_drops", oracle=_containment_drops_oracle())
def q_containment_dedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (r15) — the DROP DECISION over the containment evidence: every
    document that is >= {_CONT_NUM}/{_CONT_DEN}-contained in at least one
    OTHER document contributes (almost) nothing beyond its container, so
    a curation run drops it and keeps the host — the quote/boilerplate
    consumer of ``containment_overlap_pairs`` (same funnel, same shared
    pair semantics; the oracle rides the identical pair CTE text). Emits
    per dropped doc: (doc_id, best_container, containment_bp,
    n_containers) — best container by (containment DESC, lowest id), the
    container count as evidence strength. The keep set is the complement;
    the funnel's exact-dedup stage already collapsed IDENTICAL texts, so
    these drops are the strictly-subset/quoted remainder.

    Plan at 100 TB: the pairs funnel's plan (prefix candidates + verify)
    plus one per-doc hash agg — nothing new shuffles; the max-by rollup
    rides the candidate-sized frame.
    """
    from ..operators.dedup import containment_pairs

    pairs = containment_pairs(
        load(spark, sf_dir, "documents"), num=_CONT_NUM, den=_CONT_DEN
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.min_by(
                F.col("container_id"),
                F.struct(
                    (-F.col("containment_bp")).alias("nc"),
                    F.col("container_id").alias("i"),
                ),
            )
            .cast("long")
            .alias("best_container"),
            F.max("containment_bp").cast("long").alias("containment_bp"),
            F.count(F.lit(1)).cast("long").alias("n_containers"),
        )
        .orderBy("doc_id")
    )
