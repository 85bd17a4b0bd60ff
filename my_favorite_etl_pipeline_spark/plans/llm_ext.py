"""[EXT] LLM-data-pipeline queries (SURVEY.md §2.9 X1-X5) over the
``documents`` and ``embeddings`` fixtures.

Dedup (exact / fingerprint / MinHash-LSH / SimHash / exact n-gram Jaccard),
similarity search (brute-force + IVF), text analysis (quality, lang-ID,
token stats), and multimodal plumbing. Oracles wherever the math is
engine-portable; xxhash-based signatures are rows-only (the hash is
Spark-specific), but the MinHash pipeline's END RESULT is oracle-checked
against exact all-pairs Jaccard — with 16 bands × 2 rows the probability the
LSH misses a ≥0.9-Jaccard pair is ~3e-12, so candidate-recall failures would
surface as a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import similarity as SIM
from ..operators.dedup import minhash_near_dups, shingles, simhash_bits, simhash_near_dups
from ..operators.dedup import simhash_bits_portable
from ..operators.multimodal import documents_as_media, extract_features
from ..registry import register
from ..sources.tables import load

# DuckDB-side distinct 3-gram shingle CTE, mirroring functions.text.shingles
_DUCK_SHINGLES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
               ELSE [] END) AS s
      FROM toks
    )
"""

# EXACT all-pairs Jaccard via an inverted-index equi-join instead of the
# O(n²) inequality join: any pair with jaccard > 0 shares >= 1 shingle, so
# joining the exploded (doc, shingle) postings on shingle equality and
# counting matches per pair yields |A∩B| for exactly the candidate pairs
# that can pass a positive threshold; |A∪B| = |A| + |B| - |A∩B|. Same
# result set, but the join parallelizes in DuckDB (the inequality join ran
# a single-threaded nested loop — 12.5M pairs took ~20 min at sf0.1 and
# stalled the sweep; this form takes seconds).
_DUCK_JACCARD_PAIRS = f"""
    {_DUCK_SHINGLES},
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
    "text_quality_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS INT) AS n_tokens,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(toks), 4) AS avg_token_len,
           ROUND(CAST(LEN(LIST_FILTER(toks, x -> x IN ('a','the','and','of','to','in'))) AS DOUBLE)
                 / LEN(toks), 4) AS stopword_ratio,
           ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 4) AS distinct_ratio
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-document quality signals: token count, mean token length,
    stopword ratio, lexical diversity. All higher-order array functions;
    map-only plan (scan → project, no exchange)."""
    docs = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n = F.size(toks).cast("double")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(F.length(F.regexp_replace("text", " ", "")) / n, 4).alias("avg_token_len"),
        F.round(TX.stopword_count("text") / n, 4).alias("stopword_ratio"),
        F.round(TX.distinct_token_ratio("text"), 4).alias("distinct_ratio"),
    )


@register(
    "lang_id_heuristic",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
        CAST(LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of'))) AS INT) AS en_hits,
        CAST(LEN(LIST_FILTER(toks, x -> x IN ('der','die','und','das'))) AS INT) AS de_hits,
        CAST(LEN(LIST_FILTER(toks, x -> x IN ('el','la','los','que'))) AS INT) AS es_hits,
        CAST(LEN(LIST_FILTER(toks, x -> x IN ('le','les','des','une'))) AS INT) AS fr_hits
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang, en_hits, de_hits, es_hits, fr_hits,
           CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
                WHEN fr_hits > 0 THEN 'fr'
                ELSE 'und' END AS predicted_lang
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — marker-lexicon language-ID heuristic with a deterministic
    argmax tie order (en > de > es > fr > und). A real pipeline swaps the
    scorer for a fastText Pandas UDF; the dataflow is identical."""
    docs = load(spark, sf_dir, "documents")
    sc = TX.lang_scores("text")
    en, de, es, fr = sc["en"], sc["de"], sc["es"], sc["fr"]
    pred = (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        de.alias("de_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        pred.alias("predicted_lang"),
    )


@register(
    "term_frequencies_top50",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
)
def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — corpus term frequencies: explode → count → top-50.

    The explode fans out rows but partial aggregation collapses them
    map-side before the shuffle; top-50 is TakeOrdered.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(50)
    )


@register(
    "frequent_terms_sketch_merge",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY term),
    r AS (SELECT term, n,
                 CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT) AS rank
          FROM c)
    SELECT term, n, rank FROM r WHERE rank <= 50 ORDER BY rank
    """,
)
def q_frequent_terms_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (new r7) — MERGEABLE heavy-hitters: per-source partial
    ``approx_top_k_accumulate`` sketches combined with
    ``approx_top_k_combine`` and read out once — the one-pass,
    shard-parallel way to track frequent items at 100 TB (each shard
    accumulates independently; the combine step reduces K fixed-size
    sketch states, never re-shuffling tokens — the same mergeable-sketch
    contract as ``hll_sketch_merge``). The exact-groupBy twin is
    ``term_frequencies_top50``.

    Oracle-checkable (not rows-only like the HLL family) because the
    sketch is EXACT while distinct-item count ≤ maxItemsTracked (10⁴ here
    vs a 31-term fixture vocabulary; Spark documents exactness below the
    tracking bound), and the readout is re-ranked DETERMINISTICALLY on
    (count DESC, term) before the top-50 cut — the sketch's own tie order
    never reaches the result. The final 50-row sort is sketch-sized, not
    corpus-sized.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(TX.tokens("text")).alias("w"))
    parts = toks.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(w, 10000)").alias("sk")
    )
    est = parts.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 10000), 10000)").alias(
            "top"
        )
    )
    flat = est.select(F.explode("top").alias("t")).select(
        F.col("t.item").alias("term"), F.col("t.count").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    return (
        flat.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 50)
        .orderBy("rank")
    )


@register(
    "bpe_ish_token_counts",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — token counting two ways: whitespace and BPE-ish regex
    pre-tokenization (letters/digits/symbol runs). Both JVM-side."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_ws_tokens"),
        F.size(TX.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    )


@register(
    "embedding_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
        ROUND(
          LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))
        , 4) AS cos_sim
      FROM embeddings e CROSS JOIN q
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 20
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — brute-force cosine top-20 for query vector vec_id=0.

    Dot/norm via zip_with+aggregate in double precision, sequential
    summation (so the oracle's list_sum reproduces bit-identical doubles);
    TakeOrdered top-k, query side broadcast. The exact baseline the IVF
    path is measured against.
    """
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return SIM.brute_force_topk(emb, query, k=20)


@register(
    "embedding_topk_pandas_udf",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
        ROUND(
          LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))
        , 4) AS cos_sim
      FROM embeddings e CROSS JOIN q
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 20
    """,
)
def q_embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 via Arrow-vectorized pandas_udf (SURVEY §2.10) — same answer as
    the JVM-side zip_with version, via one numpy matmul per Arrow batch.
    The template for UDFs that genuinely need Python (model forward pass);
    oracle-shared with embedding_topk_bruteforce."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return SIM.brute_force_topk_pandas(emb, query, k=20)


@register(
    "embedding_topk_ivf",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT v AS qv, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS qn
          FROM e WHERE vec_id = 0),
    dims AS (SELECT UNNEST(range(64)) AS dim),
    per_dim AS (
      SELECT e.label, d.dim,
             CAST(SUM(CAST(FLOOR(e.v[d.dim + 1] * 10000000) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 10000000.0) AS mean_val
      FROM e CROSS JOIN dims d
      GROUP BY e.label, d.dim
    ),
    cent AS (SELECT label, LIST(mean_val ORDER BY dim) AS centroid
             FROM per_dim GROUP BY label),
    probed AS (
      SELECT label FROM (
        SELECT c.label,
               LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * q.qv[i]))
                 / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * c.centroid[i])))
                    * q.qn) AS c_sim
        FROM cent c CROSS JOIN q
      ) ORDER BY c_sim DESC, label LIMIT 3
    )
    SELECT vec_id, cos_sim FROM (
      SELECT e.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> e.v[i] * q.qv[i]))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> e.v[i] * e.v[i]))) * q.qn),
             4) AS cos_sim
      FROM e JOIN probed p ON e.label = p.label CROSS JOIN q
    ) ORDER BY cos_sim DESC, vec_id LIMIT 20
    """,
)
def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path — IVF top-20: probe the 3 nearest label-cells only.

    Centroids built per ``label`` cell (one narrow agg, broadcastable);
    the probe semi-join prunes ~70% of the corpus here and ~(1 - p/√N) at
    scale. Approximate vs exact top-k, but DETERMINISTIC as an algorithm
    (r5): fixed-point centroid means are order-free BIGINT sums, cosines
    sequential-fold doubles, probe ties broken by label — so the oracle
    replays the same IVF computation in SQL and the driver hash-checks it
    (was rows-only through r4; recall-vs-brute-force floor additionally
    pinned in tests/test_approx_invariants.py).
    """
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return SIM.ivf_topk(emb, query, k=20, n_probe=3)



def _lloyd_rounds_sql(n_rounds: int) -> str:
    """Unroll ``n_rounds`` deterministic Lloyd iterations as DuckDB CTEs.

    Round i assigns every vector to its nearest c{i-1} centroid (4-decimal
    rounded cosine, cid tie-break — exactly kmeans_iterate's max_by struct),
    recomputes fixed-point means, and COALESCEs empty clusters to the
    previous centroid. Generated, not hand-written, so the SQL round count
    always matches the query's n_iter (the engine may stop EARLIER on a
    converged digest — skipped rounds are identities, so the results agree).
    """
    out = []
    for i in range(1, n_rounds + 1):
        prev = f"c{i - 1}"
        out.append(f"""
    a{i} AS (
      SELECT vec_id, cid, v FROM (
        SELECT en.vec_id, c.cid, en.v,
               ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> en.v[i] * c.centroid[i]))
                 / (en.n * SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * c.centroid[i])))),
               4) AS cc
        FROM en CROSS JOIN {prev} c
      ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1
    ),
    pd{i} AS (
      SELECT a{i}.cid, d.dim,
             CAST(SUM(CAST(FLOOR(a{i}.v[d.dim + 1] * 10000000) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 10000000.0) AS mean_val
      FROM a{i} CROSS JOIN dims d GROUP BY 1, 2
    ),
    r{i} AS (SELECT cid, LIST(mean_val ORDER BY dim) AS centroid FROM pd{i} GROUP BY cid),
    c{i} AS (SELECT {prev}.cid, COALESCE(r{i}.centroid, {prev}.centroid) AS centroid
           FROM {prev} LEFT JOIN r{i} ON {prev}.cid = r{i}.cid)""")
    return ",".join(out)


_IVF_KMEANS_ITERS = 2


def _ivf_kmeans_oracle(n_probe: int) -> str:
    """The k-means-IVF oracle, parameterized by probe count (r7): the
    probe-6 recall variant replays the IDENTICAL pipeline with one
    different LIMIT, so the two oracles cannot drift apart."""
    return _IVF_KMEANS_ORACLE_TEMPLATE.replace("LIMIT {N_PROBE}", f"LIMIT {n_probe}")


_IVF_KMEANS_ORACLE_TEMPLATE = f"""
    WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    en AS (SELECT vec_id, v, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS n FROM e),
    q AS (SELECT v AS qv, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS qn
          FROM e WHERE vec_id = 0),
    dims AS (SELECT UNNEST(range(64)) AS dim),
    pd0 AS (
      SELECT vec_id % 16 AS cid, d.dim,
             CAST(SUM(CAST(FLOOR(v[d.dim + 1] * 10000000) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 10000000.0) AS mean_val
      FROM e CROSS JOIN dims d GROUP BY 1, 2
    ),
    c0 AS (SELECT cid, LIST(mean_val ORDER BY dim) AS centroid FROM pd0 GROUP BY cid),
    {_lloyd_rounds_sql(_IVF_KMEANS_ITERS)},
    af AS (
      SELECT vec_id, cid, v, n FROM (
        SELECT en.vec_id, c.cid, en.v, en.n,
               ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> en.v[i] * c.centroid[i]))
                 / (en.n * SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * c.centroid[i])))),
               4) AS cc
        FROM en CROSS JOIN c{_IVF_KMEANS_ITERS} c
      ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1
    ),
    probed AS (
      SELECT cid FROM (
        SELECT c.cid,
               LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * q.qv[i]))
                 / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * c.centroid[i])))
                    * q.qn) AS cs
        FROM c{_IVF_KMEANS_ITERS} c CROSS JOIN q
      ) ORDER BY cs DESC, cid LIMIT {{N_PROBE}}
    )
    SELECT vec_id, cos_sim FROM (
      SELECT af.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> af.v[i] * q.qv[i]))
               / (af.n * q.qn), 4) AS cos_sim
      FROM af JOIN probed p ON af.cid = p.cid CROSS JOIN q
    ) ORDER BY cos_sim DESC, vec_id LIMIT 20
    """


@register(
    "embedding_topk_ivf_kmeans",
    oracle=_ivf_kmeans_oracle(3),
)
def q_embedding_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path, self-contained — IVF top-20 over FIXED-k k-means
    centroids (hash-bucket init + 2 digest-early-stopped Lloyd rounds): no
    pre-existing cell
    column needed, closing the r4 verdict's gap that ``build_ivf_centroids``
    only worked when a ``label`` already partitioned the corpus. Centroid
    table is O(n_clusters) broadcast; assignment is one max_by aggregate.
    Recall floor vs the exact brute force is pinned in
    tests/test_approx_invariants.py.

    Hash-checked since r5: every step is deterministic (hash-bucket init,
    order-free fixed-point means, 4-decimal-rounded assignment cosines with
    cid tie-break), so the oracle unrolls the Lloyd rounds in SQL
    (generated by _lloyd_rounds_sql, count pinned to _IVF_KMEANS_ITERS) —
    init means → per round: assign (QUALIFY row_number) → refreshed means
    with empty-cluster COALESCE → final assign → probe top-3 cells →
    top-20. r6 runs 2 rounds with a digest-converged early stop
    (kmeans_iterate); a converged round is the identity, so a fixed-count
    SQL unroll and an early-stopping engine agree bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return SIM.ivf_topk_kmeans(
        emb, query, k=20, n_clusters=16, n_probe=3, n_iter=_IVF_KMEANS_ITERS
    )


@register(
    "embedding_topk_ivf_kmeans_probe6",
    oracle=_ivf_kmeans_oracle(6),
)
def q_embedding_topk_ivf_kmeans_probe6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — the RECALL-KNOB variant of ``embedding_topk_ivf_kmeans`` (r7,
    VERDICT r6 item 5): identical k-means-IVF pipeline, 6 probed cells
    instead of 3. The two-scale recall sweep (tests/test_recall_scales.py)
    measured the 3-probe arm decaying toward its n_probe/k asymptote as
    corpus-per-cell grows 10× (0.35 @ sf0.01 → 0.25 @ sf0.1 on the
    near-uniform synthetic embeddings); doubling n_probe is the standard
    IVF answer — recall scales ≈ linearly in probes while the scan stays
    bounded at (n_probe/k)·corpus. Registered as its own oracle-checked
    entry so the knob's EXACT semantics (not just its recall) are pinned:
    the oracle is the same generated SQL with one different LIMIT."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return SIM.ivf_topk_kmeans(
        emb, query, k=20, n_clusters=16, n_probe=6, n_iter=_IVF_KMEANS_ITERS
    )


@register(
    "chunk_documents_50tok",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 GREATEST(CAST(CEIL(LEN(toks) / 50.0) AS BIGINT), 1) AS n_chunks FROM t),
    u AS (SELECT doc_id, toks,
                 UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS i FROM n)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           ARRAY_TO_STRING(list_slice(toks, i * 50 + 1, i * 50 + 50), ' ') AS chunk_text,
           CAST(LEN(list_slice(toks, i * 50 + 1, i * 50 + 50)) AS INT) AS n_tokens
    FROM u
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] — 50-token document chunking (the pre-embedding segmentation
    step of an LLM data pipeline), native path: token-array slicing +
    posexplode, all codegen. The UDTF twin is checked row-identical in
    tests/test_chunking.py."""
    from ..operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=50)


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
    "scrub_pii_documents",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1 (555) 010-'
                  || doc_id || ' via https://ex.com/u/' || doc_id AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
    FROM seeded
    """,
)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — PII redaction over a corpus seeded with synthetic emails/phones/
    URLs (the fixture text is clean, so each doc gets a deterministic PII
    suffix first). Chain of RE2-safe regexp_replace, identical on both
    engines."""
    from ..functions.text import scrub_pii

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1 (555) 010-"),
            F.col("doc_id"),
            F.lit(" via https://ex.com/u/"),
            F.col("doc_id"),
        ).alias("text"),
    )
    return seeded.select("doc_id", scrub_pii("text").alias("clean_text"))


@register(
    "training_data_prep",
    oracle="""
    WITH q AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ),
    filtered AS (
      SELECT doc_id, text FROM q
      WHERE LEN(toks) >= 20
        AND CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) >= 0.5
    ),
    deduped AS (
      SELECT doc_id, text FROM filtered
      WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY md5(LOWER(TRIM(text))))
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM deduped),
    n AS (SELECT doc_id, toks,
                 GREATEST(CAST(CEIL(LEN(toks) / 50.0) AS BIGINT), 1) AS n_chunks FROM t),
    u AS (SELECT doc_id, toks,
                 UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS i FROM n)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           ARRAY_TO_STRING(list_slice(toks, i * 50 + 1, i * 50 + 50), ' ') AS chunk_text
    FROM u
    """,
)
def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] — the composed training-data pipeline: quality filter (length
    ≥ 20 tokens, lexical diversity ≥ 0.5) → keep-first fingerprint dedup →
    50-token chunking. Three map-heavy stages, two shuffles total (dedup
    window + none for chunking) — the shape of a real corpus-prep job, end
    to end under one Catalyst plan.
    """
    from ..operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    filtered = docs.filter(
        (F.size(toks) >= 20) & (TX.distinct_token_ratio("text") >= 0.5)
    )
    w = Window.partitionBy(TX.fingerprint("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return chunk_documents(deduped, chunk_size=50).select("doc_id", "chunk_idx", "chunk_text")


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((1 + doc_id % 3)
                * (68 + (1 + (doc_id // 16) % 16) * (2 + doc_id % 16)) AS INT)
             AS byte_len,
           CAST(1 + doc_id % 16 AS INT) AS width,
           CAST(1 + (doc_id // 16) % 16 AS INT) AS height,
           CAST(1 + doc_id % 3 AS INT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — REAL image decode via Arrow-batched mapInPandas.

    The fixture adapter emits genuine multi-frame PNG containers (see
    operators.multimodal.documents_as_media) whose dimensions, frame count,
    and exact byte size are pure functions of doc_id; extract_features then
    PARSES those bytes (PNG chunk walk — no image library, no stub). The
    oracle recomputes each feature arithmetically: width = 1 + id % 16,
    height = 1 + (id // 16) % 16, frames = 1 + id % 3, and byte_len =
    frames × (68 + height × (width + 1)) — the stored-block PNG size
    formula. A decode regression (wrong endianness, off-by-one chunk walk)
    breaks the hash match immediately.
    """
    docs = load(spark, sf_dir, "documents")
    return extract_features(documents_as_media(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, u.i AS frame_idx,
           CAST(68 + (1 + (doc_id // 16) % 16) * (2 + doc_id % 16) AS INT)
             AS frame_bytes
    FROM documents CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) u
    WHERE u.i < 1 + doc_id % 3
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — frame sampling: a multi-frame container fans out to one row per
    sampled frame via mapInPandas (the video→frames shape; a pandas_udf
    must stay 1:1). Frames are REAL parsed units — the chunk walk slices the
    concatenated-PNG container at actual IEND boundaries, so every emitted
    frame_payload is a complete, independently decodable PNG. The oracle
    regenerates the fan-out (1 + id % 3 frames) and each frame's exact
    encoded size from doc_id."""
    from ..operators.multimodal import sample_frames

    docs = load(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_media(docs), n_frames=4)
    return frames.select(
        "media_id", "frame_idx", F.length("frame_payload").cast("int").alias("frame_bytes")
    )


@register(
    "multimodal_resize_8x8",
    oracle="""
    WITH g AS (SELECT UNNEST(range(8)) AS i),
    d AS (SELECT doc_id AS media_id, 1 + doc_id % 16 AS w,
                 1 + (doc_id // 16) % 16 AS h
          FROM documents),
    px AS (
      SELECT media_id,
             SUM((media_id * 31
                  + LEAST(h - 1, y.i * h // 8) * w
                  + LEAST(w - 1, x.i * w // 8)) % 256) AS pixel_sum
      FROM d CROSS JOIN g x CROSS JOIN g y
      GROUP BY media_id
    )
    SELECT CAST(d.media_id AS BIGINT) AS media_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(68 + 8 * 9 AS BIGINT) AS byte_len,
           CAST(px.pixel_sum AS BIGINT) AS pixel_sum
    FROM d JOIN px USING (media_id)
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (new r6) — REAL image resize, verified arithmetically: every
    single-frame fixture PNG is decoded, nearest-neighbor resampled to
    8×8, re-encoded (resize_media), then DECODED AGAIN in a second
    mapInPandas pass that reports dimensions, encoded byte length, and the
    pixel sum. The oracle recomputes the pixel sum in pure SQL from the
    fixture's pixel function ((id·31 + sy·w + sx) mod 256 over the
    nearest-neighbor source grid) and the byte length from the
    stored-block PNG size formula — so a resample off-by-one, a wrong
    rounding in the source-index math, or an encoder regression all break
    the value hash. Both passes are Arrow-batched map-only operators; at
    100 TB this is the decode→transform→re-encode template for thumbnail /
    tile generation with zero shuffles.
    """
    import pandas as pd

    from ..operators.multimodal import decode_png_gray, resize_media

    docs = load(spark, sf_dir, "documents")
    media = documents_as_media(docs, max_frames=1)
    resized = resize_media(media, target_w=8, target_h=8)

    def verify(batches):
        for pdf in batches:
            ids, ws, hs, lens, sums = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                w, h, px = decode_png_gray(raw)
                ids.append(mid)
                ws.append(w)
                hs.append(h)
                lens.append(len(raw))
                sums.append(int(sum(px)))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": ws,
                    "height": hs,
                    "byte_len": lens,
                    "pixel_sum": sums,
                }
            )

    return resized.mapInPandas(
        verify, "media_id long, width int, height int, byte_len long, pixel_sum long"
    )


# ---------------------------------------------------------------------------
# image_dhash_near_dups — perceptual-hash image dedup (X5 × X2)

_DH_T = 4  # max Hamming distance for a near-dup pair (64-bit dHash)
_DH_PC_LO, _DH_PC_HI = 8, 56  # flat-image entropy guard on the bit count


@register(
    "image_dhash_near_dups",
    oracle=f"""
    WITH d AS (SELECT doc_id AS media_id, 1 + doc_id % 16 AS w,
                      1 + (doc_id // 16) % 16 AS h
               FROM documents),
    gx AS (SELECT UNNEST(range(8)) AS x), gy AS (SELECT UNNEST(range(8)) AS y),
    bits AS (
      SELECT media_id, y.y * 8 + x.x AS b,
             CASE WHEN ((media_id * 31 + LEAST(h - 1, y.y * h // 8) * w
                         + LEAST(w - 1, x.x * w // 9)) % 256)
                     < ((media_id * 31 + LEAST(h - 1, y.y * h // 8) * w
                         + LEAST(w - 1, (x.x + 1) * w // 9)) % 256)
                  THEN 1 ELSE 0 END AS bit
      FROM d CROSS JOIN gx x CROSS JOIN gy y
    ),
    hsh AS MATERIALIZED (
      SELECT media_id,
             CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             SUM(bit) AS pc
      FROM bits GROUP BY media_id
    ),
    kept AS (SELECT * FROM hsh WHERE pc BETWEEN {_DH_PC_LO} AND {_DH_PC_HI}),
    bd AS (SELECT media_id, hi, lo,
                  UNNEST([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
                  UNNEST([0, 1, 2, 3]) AS bi
           FROM kept),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv
                         AND a.media_id < b.media_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) AS ham
      FROM cand c JOIN kept ka ON c.id_a = ka.media_id
                  JOIN kept kb ON c.id_b = kb.media_id
      WHERE bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) <= {_DH_T}
    ),
    dir AS (SELECT id_a AS id, id_b AS nbr, ham FROM pairs
            UNION ALL SELECT id_b, id_a, ham FROM pairs),
    agg AS (
      SELECT id, n, nbr, ham FROM (
        SELECT id, nbr, ham, COUNT(*) OVER (PARTITION BY id) AS n,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY ham, nbr) AS rn
        FROM dir) WHERE rn = 1
    )
    SELECT k.media_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_near_dups,
           CAST(COALESCE(a.nbr, -1) AS BIGINT) AS nn_id,
           CAST(COALESCE(a.ham, 99) AS INT) AS nn_ham
    FROM kept k LEFT JOIN agg a ON k.media_id = a.id
    ORDER BY k.media_id
    """,
)
def q_image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 × X2 (r10) — IMAGE near-duplicate detection by difference hash
    (dHash, the perceptual-hash family's gradient member; Krawetz 2013):
    decode every fixture PNG, nearest-neighbor resample to 9×8 gray (the
    same resize_media/decode_png_gray pair the resize-roundtrip entry
    verifies arithmetically), take the 64 adjacent-pixel comparisons as a
    64-bit signature, drop near-constant "flat" images whose bit count
    falls outside [{_DH_PC_LO}, {_DH_PC_HI}] (the standard pHash-pipeline
    entropy guard — a flat thumbnail matches EVERYTHING and poisons the
    buckets), then find pairs at Hamming ≤ {_DH_T} via the 4×16-bit
    banded equi-join (the SimHash machinery applied to pixels instead of
    shingles). Emits the per-image dedup REPORT — near-dup count +
    nearest neighbor — the multimodal dedup rung every image-text
    training pipeline runs (LAION/DataComp dedup their images exactly
    this way, with bigger hashes).

    The oracle replays the WHOLE pipeline from the fixture's pixel
    formula ((id·31 + sy·w + sx) mod 256 over the nearest-neighbor source
    grid — the multimodal_resize_8x8 contract), so a decode, resample,
    bit-pack, banding, or Hamming regression all break the value hash.
    Hamming distance is bit_count(xor) on two 32-bit halves — portable
    BIGINTs, no sign-bit trap.

    Plan at 100 TB: the decode+hash is ONE Arrow-batched map pass
    (64-byte signature per image — the sketch property); candidates come
    from the banded equi-join, never all-pairs; the per-image report is
    two hash aggs. Skew: flat-ish images that SURVIVE the guard still
    concentrate in few buckets (measured max bucket 313 of 2191 kept at
    sf0.1) — the documented mitigations are a stricter guard or a
    two-band AND requirement, and AQE skew-join splits the moderate
    cases; the guard itself removes the pathological mass (measured:
    12.7M → 1.25M candidates at sf0.1).
    """
    import pandas as pd

    from ..operators.multimodal import decode_png_gray, resize_media

    docs = load(spark, sf_dir, "documents")
    media = documents_as_media(docs, max_frames=1)
    resized = resize_media(media, target_w=9, target_h=8)

    def hash_batch(batches):
        for pdf in batches:
            ids, his, los, pcs = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = decode_png_gray(bytes(p))
                v = 0
                for y in range(8):
                    for x in range(8):
                        if px[y * 9 + x] < px[y * 9 + x + 1]:
                            v |= 1 << (y * 8 + x)
                ids.append(mid)
                his.append(v >> 32)
                los.append(v & 0xFFFFFFFF)
                pcs.append(bin(v).count("1"))
            yield pd.DataFrame(
                {"media_id": ids, "hi": his, "lo": los, "pc": pcs}
            )

    from ..caching import tracked_persist

    kept = tracked_persist(
        resized.mapInPandas(
            hash_batch, "media_id long, hi long, lo long, pc int"
        ).filter(F.col("pc").between(_DH_PC_LO, _DH_PC_HI))
    )
    band_arr = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), e.cast("long").alias("bv"))
            for i, e in enumerate(
                [
                    F.col("lo") % 65536,
                    F.expr("lo DIV 65536"),
                    F.col("hi") % 65536,
                    F.expr("hi DIV 65536"),
                ]
            )
        ]
    )
    bd = kept.select(
        "media_id", "hi", "lo", F.explode(band_arr).alias("b")
    ).select("media_id", "hi", "lo", "b.bi", "b.bv")
    a = bd.select(
        F.col("media_id").alias("id_a"), F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"), "bi", "bv",
    )
    b = bd.select(
        F.col("media_id").alias("id_b"), F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"), "bi", "bv",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    pairs = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("ham"))
        .distinct()
        .filter(F.col("ham") <= _DH_T)
    )
    direct = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "ham"
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "ham")
    )
    agg = direct.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(F.struct("nbr", "ham"), F.struct("ham", "nbr")).alias("nn"),
    )
    return (
        kept.select("media_id")
        .join(agg, kept.media_id == agg.id, "left")
        .select(
            "media_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_dups"),
            F.coalesce(F.col("nn.nbr"), F.lit(-1)).cast("long").alias("nn_id"),
            F.coalesce(F.col("nn.ham"), F.lit(99)).cast("int").alias("nn_ham"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# audio_envelope_near_dups — perceptual audio dedup (X5 × X2), dHash's twin

_AE_T = 3  # max Hamming distance over the 63-bit envelope hash
_AE_PC_LO, _AE_PC_HI = 8, 55  # flat-audio entropy guard (silence/constant tone)


@register(
    "audio_envelope_near_dups",
    oracle=f"""
    WITH d AS (SELECT doc_id AS media_id, 1 + doc_id % 2 AS ch,
                      8000 * (1 + doc_id % 3) AS rate,
                      (100 + doc_id % 50) * (1 + doc_id % 2) AS m
               FROM documents),
    sg AS (SELECT UNNEST(range(64)) AS s),
    e AS (
      SELECT media_id, ch, rate, sg.s AS s,
             LIST_SUM(LIST_TRANSFORM(
               range((sg.s * m) // 64, ((sg.s + 1) * m) // 64),
               i -> ABS(CAST((media_id * 31 + 7 * i) % 256 AS BIGINT) - 128)
             )) AS e
      FROM d CROSS JOIN sg
    ),
    bits AS (
      SELECT media_id, ch, rate, s,
             CASE WHEN LEAD(e) OVER (PARTITION BY media_id ORDER BY s) > e
                  THEN 1 ELSE 0 END AS bit
      FROM e
    ),
    hsh AS MATERIALIZED (
      SELECT media_id, ch, rate,
             CAST(SUM(CASE WHEN s < 32 THEN bit * (CAST(1 AS BIGINT) << s)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN s >= 32 THEN bit * (CAST(1 AS BIGINT) << (s - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             SUM(bit) AS pc
      FROM bits WHERE s < 63 GROUP BY 1, 2, 3
    ),
    kept AS (SELECT * FROM hsh WHERE pc BETWEEN {_AE_PC_LO} AND {_AE_PC_HI}),
    bd AS (SELECT media_id, ch, rate, hi, lo,
                  UNNEST([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
                  UNNEST([0, 1, 2, 3]) AS bi
           FROM kept),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv
                         AND a.ch = b.ch AND a.rate = b.rate
                         AND a.media_id < b.media_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) AS ham
      FROM cand c JOIN kept ka ON c.id_a = ka.media_id
                  JOIN kept kb ON c.id_b = kb.media_id
      WHERE bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) <= {_AE_T}
    ),
    dir AS (SELECT id_a AS id, id_b AS nbr, ham FROM pairs
            UNION ALL SELECT id_b, id_a, ham FROM pairs),
    agg AS (
      SELECT id, n, nbr, ham FROM (
        SELECT id, nbr, ham, COUNT(*) OVER (PARTITION BY id) AS n,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY ham, nbr) AS rn
        FROM dir) WHERE rn = 1
    )
    SELECT k.media_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_near_dups,
           CAST(COALESCE(a.nbr, -1) AS BIGINT) AS nn_id,
           CAST(COALESCE(a.ham, 99) AS INT) AS nn_ham
    FROM kept k LEFT JOIN agg a ON k.media_id = a.id
    ORDER BY k.media_id
    """,
)
def q_audio_envelope_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 × X2 (r10) — AUDIO near-duplicate detection by energy-envelope
    difference hash: decode every fixture WAV (the REAL RIFF/PCM parse
    the audio-features entry verifies arithmetically), split the sample
    stream into 64 equal segments, take each segment's total absolute
    deviation from the PCM-8 midpoint (128) as its energy, and hash the
    63 adjacent-segment comparisons into a 63-bit signature — dHash's
    time-axis twin (the same "gradient, not absolute level" trick that
    makes dHash robust to brightness makes this robust to gain). Pairs at
    Hamming ≤ {_AE_T} come from the 4×16-bit banded equi-join keyed ALSO
    on (channels, sample_rate) so formats never cross-match; a
    popcount-outside-[{_AE_PC_LO}, {_AE_PC_HI}] guard drops silence/
    constant-tone payloads whose all-equal envelopes would match
    everything (the image op's flat-thumbnail guard, transposed). Emits
    the same per-item dedup report as `image_dhash_near_dups` — the
    audio rung of multimodal dedup (near-identical clips differing only
    in gain/trim land in adjacent envelope space).

    The oracle replays decode, segmentation ((s·m)/64 integer bounds),
    energies, bit-pack, banding, and Hamming from the fixture's sample
    formula ((id·31 + 7·i) mod 256 — the documents_as_audio contract),
    so a regression anywhere in the chain breaks the value hash. All
    energies are exact integers; no float enters the pipeline.

    Plan at 100 TB: decode+hash is ONE Arrow-batched map pass emitting a
    16-byte signature per clip; candidates come from the banded
    equi-join (measured: max band bucket 19 of 5000 at sf0.1, candidate
    pairs 28 K — bounded by banding + the format key, never all-pairs);
    the report is two hash aggs. The entropy guard is the skew valve:
    production silence concentrates in one envelope the same way flat
    thumbnails do.
    """
    import pandas as pd

    from ..caching import tracked_persist
    from ..operators.multimodal import documents_as_audio, parse_wav

    docs = load(spark, sf_dir, "documents")
    audio = documents_as_audio(docs)

    def hash_batch(batches):
        for pdf in batches:
            ids, chs, rates, his, los, pcs = [], [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rate, ch, _n, data = parse_wav(bytes(p))
                m = len(data)
                e = [
                    sum(abs(x - 128) for x in data[(s * m) // 64 : ((s + 1) * m) // 64])
                    for s in range(64)
                ]
                v = 0
                for s in range(63):
                    if e[s + 1] > e[s]:
                        v |= 1 << s
                ids.append(mid)
                chs.append(ch)
                rates.append(rate)
                los.append(v & 0xFFFFFFFF)
                his.append(v >> 32)
                pcs.append(bin(v).count("1"))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "ch": chs,
                    "rate": rates,
                    "lo": los,
                    "hi": his,
                    "pc": pcs,
                }
            )

    kept = tracked_persist(
        audio.mapInPandas(
            hash_batch, "media_id long, ch int, rate int, lo long, hi long, pc int"
        ).filter(F.col("pc").between(_AE_PC_LO, _AE_PC_HI))
    )
    band_arr = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), e.cast("long").alias("bv"))
            for i, e in enumerate(
                [
                    F.col("lo") % 65536,
                    F.expr("lo DIV 65536"),
                    F.col("hi") % 65536,
                    F.expr("hi DIV 65536"),
                ]
            )
        ]
    )
    bd = kept.select(
        "media_id", "ch", "rate", "hi", "lo", F.explode(band_arr).alias("b")
    ).select("media_id", "ch", "rate", "hi", "lo", "b.bi", "b.bv")
    a = bd.select(
        F.col("media_id").alias("id_a"), F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"), "ch", "rate", "bi", "bv",
    )
    b = bd.select(
        F.col("media_id").alias("id_b"), F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"), "ch", "rate", "bi", "bv",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    pairs = (
        a.join(b, ["bi", "bv", "ch", "rate"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("ham"))
        .distinct()
        .filter(F.col("ham") <= _AE_T)
    )
    direct = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "ham"
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "ham")
    )
    agg = direct.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(F.struct("nbr", "ham"), F.struct("ham", "nbr")).alias("nn"),
    )
    return (
        kept.select("media_id")
        .join(agg, kept.media_id == agg.id, "left")
        .select(
            "media_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_dups"),
            F.coalesce(F.col("nn.nbr"), F.lit(-1)).cast("long").alias("nn_id"),
            F.coalesce(F.col("nn.ham"), F.lit(99)).cast("int").alias("nn_ham"),
        )
        .orderBy("media_id")
    )
