"""Curation plans: filters, decontamination, scoring and corpus reports.

- heuristic filters: text quality, language ID, Gopher rules, repetition,
  PII scrubbing, and the composed training-data prep chain;
- decontamination against the held-out slice (``functions.text``'s
  held-out twin): 13-gram overlap, span excision, Bloom-filter screening,
  MinHash fuzzy matching and embedding-space screening;
- model-based scoring: linear and gradient-descent quality classifiers,
  CCNet perplexity buckets, unigram/bigram/Kneser-Ney LM scores, DSIR
  importance resampling and topic cluster cards;
- selection: greedy n-gram coverage and community-capped selection;
- reports: n-gram diversity, novelty, JS divergence and PSI drift,
  contamination span profiles, dataset cards, the filter ablation
  matrix and the end-to-end curation funnel.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..caching import tracked_persist
from ..functions import text as TX
from ..functions.exprs import duck_md5_32, spark_md5_32
from ..functions.text import (
    DECON_N,
    DUCK_HELD_OUT_GRAMS,
    DUCK_SHINGLES,
    DUCK_WORD_FEATURES,
    duck_grams,
    duck_held_out,
    spark_held_out,
)
from ..functions.vectors import (
    DUCK_QASSIGN,
    EN,
    duck_hash_assign,
    duck_int_cos,
    duck_kmeans_cells,
)
from ..operators import similarity as SIM
from ..operators.dq import assert_unique_doc_ids
from ..registry import REGISTRY, register
from ..sources.tables import load
from .graph import _LPA_ROUNDS, _lpa_cte_chain, lpa_labels_durable


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
    "quality_filter_above_median",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS DOUBLE)
             / LEN(string_split(text, ' ')) AS score
      FROM documents
    ), m AS (
      SELECT lang,
             PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY score) AS med
      FROM s GROUP BY lang
    )
    SELECT s.doc_id, s.lang, ROUND(s.score, 4) AS score
    FROM s JOIN m ON s.lang = m.lang
    WHERE s.score > m.med
    ORDER BY s.doc_id
    """,
)
def quality_filter_above_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — adaptive quality cut: keep docs whose lexical-diversity score
    beats their OWN language's median — a per-stratum data-dependent
    threshold, not a global constant (zh and en score distributions differ,
    so one global cut over/under-prunes some language).

    Medians shrink to one row per lang via percentile_approx — the
    Greenwald-Khanna sketch aggregate: constant memory per group at ANY
    group size, mergeable map-side, no per-group sort. This is the operator
    default precisely because it survives 100 TB; at fixture scale (groups
    ≪ accuracy=10k) the sketch stores every value and returns the exact
    discrete median, which is what the oracle's PERCENTILE_DISC pins —
    both sides name an actual element of the group, so the comparison
    stays bit-exact. The 1-row-per-lang result broadcasts back; the big
    side is touched twice but shuffled zero times for the threshold.
    """
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", TX.distinct_token_ratio("text").alias("score")
    )
    meds = scored.groupBy("lang").agg(F.percentile_approx("score", 0.5, 10000).alias("med"))
    return (
        scored.join(F.broadcast(meds), "lang")
        .filter(F.col("score") > F.col("med"))
        .select("doc_id", "lang", F.round("score", 4).alias("score"))
        .orderBy("doc_id")
    )

# The 13-gram flag list. The Bloom entry shares this oracle: its filter is
# a lossless prefilter, so both entries must return the same flags.
_FLAG_ORACLE = f"""
    WITH {duck_grams()},
    b AS (SELECT DISTINCT doc_id AS bench_id, g FROM grams{DECON_N}
          WHERE {duck_held_out()}),
    t AS (SELECT DISTINCT doc_id, g FROM grams{DECON_N}
          WHERE NOT ({duck_held_out()}))
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_grams_hit,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM t JOIN b ON t.g = b.g
    GROUP BY t.doc_id ORDER BY t.doc_id
    """


def _flag_counts(train: DataFrame, bench: DataFrame) -> DataFrame:
    """``(doc_id, n_grams_hit, n_bench_docs)`` for the training grams that
    occur in the held-out grams ``bench(doc_id, pos, g)``.

    One hash aggregate: ``size(collect_set(...))`` computes both exact
    distinct counts in a single pass, where two ``countDistinct``s plan an
    ``Expand`` that doubles the joined rows. It also makes repeated grams
    within a document harmless. A group's set is bounded by one document's
    gram count."""
    return (
        train.select("doc_id", "g")
        .join(bench.select(F.col("doc_id").alias("bench_id"), "g"), "g")
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("g")).cast("long").alias("n_grams_hit"),
            F.size(F.collect_set("bench_id")).cast("long").alias("n_bench_docs"),
        )
    )


def _train_grams(docs: DataFrame) -> DataFrame:
    """Positional 13-grams of the documents outside the held-out slice."""
    return TX.positional_grams(docs.filter(~spark_held_out()))


@register("contamination_13gram", oracle=_FLAG_ORACLE)
def q_contamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — benchmark decontamination: flag every training document that
    shares at least one 13-token gram with the held-out benchmark set
    (here a stable md5-designated ~1/16 of the corpus standing in for an
    eval suite). The GPT-3/Llama data recipes drop or redact these docs;
    this query returns the flag list with evidence counts.

    Plan at 100 TB: grams explode per side, but the join is a plain
    equi-join on the gram string — hash-partitioned, no all-pairs anywhere.
    The benchmark side is eval-suite-sized (MMLU+friends ≪ corpus), so AQE
    broadcasts it and the big side never shuffles; no hint needed or wanted.
    """
    from ..caching import presentation_sort

    docs = load(spark, sf_dir, "documents")
    return presentation_sort(
        _flag_counts(_train_grams(docs), TX.held_out_grams(docs)), "doc_id"
    )

#: The Gopher metric frame ``m`` over every document: the flags entry, the
#: filter-ablation matrix and the curation funnel read this one definition.
_GOPHER_M_CTES = """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(list_sum(list_transform(t, w -> CAST(len(w) AS DOUBLE)))
                   / len(t), 4) AS mean_word_len,
             CAST(len(list_filter(t,
               w -> w IN ('a','the','and','of','to','in'))) AS BIGINT)
               AS n_stopwords,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                   AS DOUBLE) / len(t), 4) AS alpha_word_frac
      FROM toks
    )"""

#: One SQL predicate per Gopher rule (the PASS direction).
_GOPHER_RULES_SQL = {
    "words": "n_words BETWEEN 50 AND 100000",
    "wordlen": "mean_word_len BETWEEN 3 AND 10",
    "stopwords": "n_stopwords >= 2",
    "alpha": "alpha_word_frac >= 0.8",
}

#: The combined Gopher gate over ``m``: every rule passes.
_GOPHER_PASS_SQL = " AND ".join(f"({p})" for p in _GOPHER_RULES_SQL.values())


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH {_GOPHER_M_CTES}
    SELECT *, {_GOPHER_PASS_SQL} AS pass
    FROM m ORDER BY doc_id
    """,
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — Gopher-style document quality rules (Rae et al. 2021 §A1.1):
    word count in [50, 100k], mean word length in [3, 10], ≥2 stopwords,
    ≥80% of words contain a letter. One boolean per rule plus the combined
    gate, so downstream can tune which rules to enforce.

    Map-only: every metric is a higher-order function over the token array
    inside the row — zero shuffles, whole-stage codegen, scales as a pure
    scan at 100 TB. Both engines round the fractional metrics to 4 decimals
    BEFORE the threshold compare so the flags can't diverge on float dust.
    """
    m = gopher_metric_frame(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return m.select("*", gopher_pass().alias("pass")).orderBy("doc_id")


def gopher_metric_frame(docs: DataFrame) -> DataFrame:
    """UNORDERED metric frame: ``docs`` with its ``text`` column replaced by
    ``n_words, mean_word_len, n_stopwords, alpha_word_frac`` — the Spark
    twin of ``_GOPHER_M_CTES``, read by the flags entry, the
    filter-ablation matrix and the curation funnel."""
    toks = TX.tokens("text")
    n_words = F.size(toks).cast("long")
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
        )
        / F.size(toks),
        4,
    )
    n_stop = TX.stopword_count("text").cast("long")
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / F.size(toks),
        4,
    )
    return docs.select(
        *[c for c in docs.columns if c != "text"],
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        alpha_frac.alias("alpha_word_frac"),
    )


#: One Spark Column per Gopher rule (the PASS direction) — must mirror
#: ``_GOPHER_RULES_SQL`` key-for-key.
def gopher_rule_cols() -> dict:
    return {
        "words": F.col("n_words").between(50, 100000),
        "wordlen": F.col("mean_word_len").between(3, 10),
        "stopwords": F.col("n_stopwords") >= 2,
        "alpha": F.col("alpha_word_frac") >= 0.8,
    }


def gopher_pass() -> F.Column:
    """The combined Gopher gate: every rule of :func:`gopher_rule_cols`."""
    return reduce(operator.and_, gopher_rule_cols().values())


@register(
    "repetition_filter",
    oracle=f"""
    WITH {duck_grams(2)}, {duck_grams(5)},
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM grams2 GROUP BY doc_id, g),
    t2 AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_count,
                  CAST(SUM(c) AS BIGINT) AS n_2grams
           FROM c2 GROUP BY doc_id),
    c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM grams5 GROUP BY doc_id, g),
    t5 AS (SELECT doc_id,
                  CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
                    AS dup5_count,
                  CAST(SUM(c) AS BIGINT) AS n_5grams
           FROM c5 GROUP BY doc_id)
    SELECT t2.doc_id, top2_count,
           ROUND(CAST(top2_count AS DOUBLE) / n_2grams, 4) AS top2_frac,
           dup5_count,
           ROUND(CAST(dup5_count AS DOUBLE) / n_5grams, 4) AS dup5_frac,
           (ROUND(CAST(top2_count AS DOUBLE) / n_2grams, 4) <= 0.2)
           AND (ROUND(CAST(dup5_count AS DOUBLE) / n_5grams, 4) <= 0.3)
             AS pass
    FROM t2 JOIN t5 ON t2.doc_id = t5.doc_id
    ORDER BY t2.doc_id
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — Gopher-style repetition filter: the occurrence share of the
    most frequent word 2-gram (top2_frac) and the share of 5-gram
    occurrences whose gram repeats within the doc (dup5_frac); a doc fails
    when either exceeds its threshold (0.2 / 0.3). Count-share definitions
    (not char-share) so the metric is tie-free and engine-portable.

    Plan at 100 TB: grams explode, then two hash aggregations — first keyed
    (doc_id, gram), then doc_id. Both are equi-shuffles with map-side
    partial aggregation; per-key state is one counter, so skew equals the
    longest single document, not the corpus. Docs shorter than the gram
    width contribute zero grams and are dropped (no 2-grams → no signal),
    matching the SQL inner join on both gram widths.
    """
    docs = load(spark, sf_dir, "documents")

    def gram_counts(n: int) -> DataFrame:
        return (
            TX.positional_grams(docs, n)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    t2 = (
        gram_counts(2)
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top2_count"),
            F.sum("c").cast("long").alias("n_2grams"),
        )
    )
    t5 = (
        gram_counts(5)
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("dup5_count"),
            F.sum("c").cast("long").alias("n_5grams"),
        )
    )
    top2_frac = F.round(F.col("top2_count") / F.col("n_2grams"), 4)
    dup5_frac = F.round(F.col("dup5_count") / F.col("n_5grams"), 4)
    return (
        t2.join(t5, "doc_id")
        .select(
            "doc_id",
            "top2_count",
            top2_frac.alias("top2_frac"),
            "dup5_count",
            dup5_frac.alias("dup5_frac"),
            ((top2_frac <= 0.2) & (dup5_frac <= 0.3)).alias("pass"),
        )
        .orderBy("doc_id")
    )


@register(
    "unigram_logprob_scores",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    freq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY w),
    tot AS (SELECT SUM(c) AS t FROM freq)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(c / t)), 4) AS avg_neg_logprob
    FROM toks JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — self-information quality score: average -ln(corpus unigram
    probability) per document, the cheap perplexity proxy data teams use to
    rank documents before a real LM scores them (CCNet-style). High scores
    = rare-token-heavy docs (often noise), low = boilerplate.

    Plan at 100 TB: token explode → one hash agg for the frequency table →
    equi-join tokens⋈freq (the freq table is vocabulary-sized, ≪ corpus —
    AQE broadcasts it) → per-doc hash agg. The grand total rides along as a
    1-row broadcast cross join, not a driver collect.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    return (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "bigram_logprob_scores",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
           FROM (SELECT doc_id, t, UNNEST(range(len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS cu FROM bg GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((c + 1) / (cu + v))), 4) AS avg_neg_logprob
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — bigram-LM perplexity proxy: average -ln of the
    Laplace-smoothed corpus bigram probability p(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V) per document (docs of ≥ 2 tokens). The next rung above
    ``unigram_logprob_scores`` on the CCNet ladder — a unigram model can't
    see scrambled word ORDER, a bigram model scores it as noise, which is
    exactly what separates generated/spun text from prose before a real LM
    is spent on it.

    Plan at 100 TB: bigram explode (map-only) → one hash agg for the
    bigram table, one for the w1 marginals → two equi-joins back on
    (w1,w2)/(w1) — both model tables are vocabulary-scale, ≪ corpus, so
    AQE broadcasts them — → per-doc agg. V rides as a 1-row broadcast.
    Same bones as the unigram scorer with one extra join; nothing wider
    than the token explode ever shuffles.
    """
    docs = load(spark, sf_dir, "documents")
    ta = docs.select("doc_id", TX.tokens("text").alias("t")).filter(F.size("t") >= 2)
    bg = ta.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.get("t", i).alias("w1"), F.get("t", i + 1).alias("w2")
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("cu"))
    v = (
        docs.select(F.explode(TX.tokens("text")).alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("v"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(-F.log((F.col("c") + 1) / (F.col("cu") + F.col("v")))), 4
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "decontaminate_excise_13gram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    {DUCK_HELD_OUT_GRAMS},
    removed AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, UNNEST(generate_series(pos, pos + {DECON_N - 1})) AS p
        FROM grams{DECON_N}
        WHERE NOT ({duck_held_out()}) AND g IN (SELECT g FROM bench))
    ),
    tp AS (SELECT doc_id, UNNEST(range(len(t))) AS pos, t
           FROM toks WHERE NOT ({duck_held_out()})),
    j AS (
      SELECT tp.doc_id, tp.pos, tp.t[tp.pos + 1] AS tok,
             rm.p IS NOT NULL AS cut
      FROM tp LEFT JOIN removed rm
        ON tp.doc_id = rm.doc_id AND tp.pos = rm.p
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(LIST(tok ORDER BY pos)
                                    FILTER (WHERE NOT cut), ' '), '')
             AS clean_text,
           CAST(COUNT(*) FILTER (WHERE cut) AS BIGINT) AS n_removed_tokens
    FROM j GROUP BY doc_id
    """,
)
def q_decontaminate_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — decontamination by EXCISION: cut every 13-token span
    that overlaps the benchmark stand-in (the same md5-designated ~1/16 of
    the corpus ``contamination_13gram`` flags) out of the training docs and
    reassemble them. The surgical alternative to dropping whole documents:
    a long crawl page quoting one benchmark question keeps its other
    tokens. Returns every NON-benchmark doc with its cleaned text and
    removed-token count.

    Scale shape: the reference side reduces to its distinct gram set
    (eval-suite-sized, ≪ corpus) so the semi join broadcasts under AQE and
    the training side never reshuffles; removal-set explode is bounded by
    13 per hit; reassembly is the per-doc aggregate shared with
    :func:`excise_span_duplicates`.
    """
    from ..operators.dedup import excise_against_reference

    docs = load(spark, sf_dir, "documents")
    return excise_against_reference(
        docs.filter(~spark_held_out()), docs.filter(spark_held_out())
    )


# ---------------------------------------------------------------------------
# quality_classifier_linear

# The linear classifier's integer weight sum over a ``feats`` list: each
# feature's weight derives from its own md5. Keep iff the sum is >= 0.
_DUCK_LINEAR_WSUM = f"""CAST(LIST_SUM(LIST_TRANSFORM(feats, x ->
               ({duck_md5_32('x')}) % 20001 - 10000)) AS BIGINT)"""


def _linear_wsum(feats: F.Column) -> F.Column:
    """Spark twin of ``_DUCK_LINEAR_WSUM``: weights uniform in [-1e4, 1e4]
    ∩ Z, summed in exact integer arithmetic on both engines."""
    return F.aggregate(
        F.transform(feats, lambda c: spark_md5_32(c) % 20001 - 10000),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


@register(
    "quality_classifier_linear",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    f AS (SELECT doc_id, {DUCK_WORD_FEATURES} AS feats FROM toks),
    hw AS (SELECT doc_id, len(feats) AS n, {_DUCK_LINEAR_WSUM} AS wsum FROM f)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_feats,
           ROUND(1.0 / (1.0 + exp(-(CAST(wsum AS DOUBLE) / (n * 10000.0)))), 4)
             AS quality_score,
           wsum >= 0 AS keep
    FROM hw ORDER BY doc_id
    """,
)
def q_quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — fastText-shaped model-based quality filter: hashed
    unigram+bigram bag-of-features, one weight per feature, mean weight
    through a sigmoid, keep iff score >= 0.5. This is the dataflow of the
    DCLM / FineWeb-Edu classifier rung — the step that upgraded every 2024+
    corpus over heuristic-only filtering.

    Weights here are derived deterministically from the feature's own md5
    (w = h%20001 - 10000, i.e. uniform in [-1, 1] at 1e-4 steps) — a
    documented stand-in for trained parameters: a real deployment either
    broadcast-joins a learned weight table on the same hashed key or bakes
    the weight array into the expression; EITHER way the plan below is
    unchanged. The keep flag compares the exact integer weight SUM against
    0 (sigmoid is monotone), so the gate never rides on float rounding.

    Plan at 100 TB: the entire scorer is ONE map-only projection — token
    split, bigram construction, hashing, weighting, and the sequential-fold
    sum all run per-row inside whole-stage codegen. No explode, no shuffle,
    no UDF: model scoring at corpus scale must not cost an exchange, and
    this one costs zero. ``ensure_min_partitions`` guards the fixture's
    one-file parquet (a 1-partition scan serializes the whole CPU-bound
    map; measured 10 s → 0.6 s at sf0.1 on 32 cores — an explode+agg
    variant was ALSO measured and loses once parallelism is equal, 0.73 s,
    while costing the shuffle this shape exists to avoid).
    """
    from ..operators.scaling import ensure_min_partitions

    docs = ensure_min_partitions(load(spark, sf_dir, "documents"))
    feats = TX.word_features("text")
    return (
        docs.select(
            "doc_id",
            F.size(feats).cast("long").alias("n_feats"),
            _linear_wsum(feats).alias("__wsum"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(
                1.0
                / (
                    1.0
                    + F.exp(
                        -(
                            F.col("__wsum").cast("double")
                            / (F.col("n_feats") * F.lit(10000.0))
                        )
                    )
                ),
                4,
            ).alias("quality_score"),
            (F.col("__wsum") >= 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# perplexity_buckets_ccnet

# Shared CTE chain: per-doc unigram-NLP scores + per-lang tercile
# thresholds, shared so epoch_repeat_plan (assembly.py) replays
# the IDENTICAL bucket assignment — one text, two consumers, no drift.
_CCNET_CTES = """
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents),
    freq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY w),
    tot AS (SELECT SUM(c) AS t FROM freq),
    sc AS (SELECT doc_id, ROUND(AVG(-ln(c / t)), 4) AS s
           FROM toks JOIN freq USING (w) CROSS JOIN tot GROUP BY doc_id),
    dl AS (SELECT d.doc_id, d.lang, sc.s
           FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
    hist AS (SELECT lang, s, COUNT(*) AS c FROM dl GROUP BY 1, 2),
    cum AS (SELECT lang, s,
                   SUM(c) OVER (PARTITION BY lang ORDER BY s) AS cle
            FROM hist),
    nl AS (SELECT lang, COUNT(*) AS n FROM dl GROUP BY 1),
    th AS (SELECT cum.lang,
                  MIN(CASE WHEN cle * 3 >= n THEN s END) AS t1,
                  MIN(CASE WHEN cle * 3 >= 2 * n THEN s END) AS t2
           FROM cum JOIN nl USING (lang) GROUP BY 1),
    bucketed AS (
      SELECT dl.doc_id, dl.lang, dl.s AS unigram_nlp,
             CASE WHEN dl.s <= th.t1 THEN 'head'
                  WHEN dl.s <= th.t2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM dl JOIN th USING (lang)
    )"""


def ccnet_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED shared bucket frame (doc_id, lang, unigram_nlp,
    ppl_bucket) — the Spark twin of the shared ``_CCNET_CTES`` text.
    Composing consumers (epoch_repeat_plan) join on this frame; only the
    registered presentation query pays the final sort (a composed join
    would immediately destroy the ordering a sort here produced)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    sc = (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias("s"))
    )
    dl = docs.select("doc_id", "lang").join(sc, "doc_id")
    hist = dl.groupBy("lang", "s").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cle", F.sum("c").over(Window.partitionBy("lang").orderBy("s"))
    )
    nl = dl.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    th = (
        cum.join(nl, "lang")
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("cle") * 3 >= F.col("n"), F.col("s"))).alias("t1"),
            F.min(F.when(F.col("cle") * 3 >= 2 * F.col("n"), F.col("s"))).alias("t2"),
        )
    )
    return dl.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        F.col("s").alias("unigram_nlp"),
        F.when(F.col("s") <= F.col("t1"), F.lit("head"))
        .when(F.col("s") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


@register(
    "perplexity_buckets_ccnet",
    oracle=f"""
    WITH {_CCNET_CTES}
    SELECT doc_id, lang, unigram_nlp, ppl_bucket
    FROM bucketed ORDER BY doc_id
    """,
)
def q_perplexity_buckets_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — CCNet's head/middle/tail split (Wenzek et al. 2020): rank
    each document's LM-perplexity proxy WITHIN its language and cut the
    distribution into terciles; "head" (lowest perplexity) is the
    pretraining keep set, "tail" the discard set. Composes the
    ``unigram_logprob_scores`` scorer with per-language quantiles.

    Scale note — why no NTILE: a per-language rank window sorts the whole
    corpus with |languages| parallelism (one task per language at any
    cluster size). Scores are rounded to 4 decimals, so instead the
    terciles come from a compacted (lang, score) HISTOGRAM: corpus-scale
    work is one map + one hash agg; the cumulative window and threshold
    extraction run on the histogram, bounded by |langs|·|distinct rounded
    scores| ≪ corpus. Tie policy is by-threshold, not by-count: every doc
    with the same rounded score lands in the same bucket (deterministic on
    both engines; a row_number tiebreak would be order-stable too but
    keeps the corpus-scale sort this shape exists to avoid).
    """
    return ccnet_bucketed(spark, sf_dir).orderBy("doc_id")


# ---------------------------------------------------------------------------
# documents_dataset_card

@register(
    "documents_dataset_card",
    oracle="""
    WITH base AS (SELECT lang, source,
                         len(string_split(text, ' ')) AS ntok,
                         md5(text) AS fp
                  FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM base),
    gs AS (
      SELECT CASE WHEN lang IS NOT NULL THEN 'lang'
                  WHEN source IS NOT NULL THEN 'source'
                  ELSE 'total' END AS section,
             COALESCE(lang, source, 'ALL') AS key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens
      FROM base GROUP BY GROUPING SETS ((lang), (source), ())
    ),
    dup AS (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS extra
            FROM (SELECT COUNT(*) AS c FROM base GROUP BY fp))
    SELECT section, key, n_docs, n_tokens,
           ROUND(n_docs / tot.nd, 4) AS doc_share
    FROM gs CROSS JOIN tot
    UNION ALL
    SELECT 'dedup', 'exact_dup_docs', dup.extra, CAST(0 AS BIGINT),
           ROUND(dup.extra / tot.nd, 4)
    FROM dup CROSS JOIN tot
    ORDER BY section, key
    """,
)
def q_documents_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — the dataset-card table: total/per-language/per-source
    document and token counts with shares, plus the exact-duplicate count —
    the summary block every corpus release (HF dataset card, corpus paper
    §data) publishes. One GROUPING SETS pass over the corpus (Spark
    expands the sets with a single Expand node — one shuffle for all three
    groupings) plus the fingerprint dup aggregate; through the SQL entry
    point, locking GROUPING SETS onto the documents surface the way
    ``grouping_sets_revenue`` locks it onto lineitem.
    """
    from ..sources.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        WITH base AS (SELECT lang, source,
                             size(split(text, ' ')) AS ntok,
                             md5(text) AS fp
                      FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM base),
        gs AS (
          SELECT CASE WHEN lang IS NOT NULL THEN 'lang'
                      WHEN source IS NOT NULL THEN 'source'
                      ELSE 'total' END AS section,
                 COALESCE(lang, source, 'ALL') AS key,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(ntok) AS BIGINT) AS n_tokens
          FROM base GROUP BY GROUPING SETS ((lang), (source), ())
        ),
        dup AS (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS extra
                FROM (SELECT COUNT(*) AS c FROM base GROUP BY fp))
        SELECT section, key, n_docs, n_tokens,
               ROUND(n_docs / tot.nd, 4) AS doc_share
        FROM gs CROSS JOIN tot
        UNION ALL
        SELECT 'dedup', 'exact_dup_docs', dup.extra, CAST(0 AS BIGINT),
               ROUND(dup.extra / tot.nd, 4)
        FROM dup CROSS JOIN tot
        ORDER BY section, key
        """
    )


# ---------------------------------------------------------------------------
# distinct_ngram_diversity


@register(
    "distinct_ngram_diversity",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                  FROM documents),
    grams AS (
      SELECT lang,
             unnest(list_transform(range(len(t) - 1),
                                   i -> t[i+1] || ' ' || t[i+2])) AS g2,
             NULL AS g3
      FROM toks WHERE len(t) >= 2
      UNION ALL
      SELECT lang, NULL,
             unnest(list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      FROM toks WHERE len(t) >= 3
    )
    SELECT lang,
           CAST(COUNT(g2) AS BIGINT) AS total_bigrams,
           CAST(COUNT(DISTINCT g2) AS BIGINT) AS distinct_bigrams,
           (CAST(COUNT(DISTINCT g2) AS BIGINT) * 10000
              // CAST(COUNT(g2) AS BIGINT)) / 10000.0 AS distinct2_ratio,
           CAST(COUNT(g3) AS BIGINT) AS total_trigrams,
           CAST(COUNT(DISTINCT g3) AS BIGINT) AS distinct_trigrams,
           (CAST(COUNT(DISTINCT g3) AS BIGINT) * 10000
              // CAST(COUNT(g3) AS BIGINT)) / 10000.0 AS distinct3_ratio
    FROM grams GROUP BY lang
    """,
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — corpus diversity audit: per-language distinct-2 / distinct-3
    ratios (share of n-gram occurrences that are unique; Li et al. 2016's
    distinct-n). A collapsing/templated corpus shows the drop here before
    any per-doc filter fires.

    Plan at 100 TB: gram construction is an in-row array transform (no
    explode until the agg input), then ONE hash aggregate per n keyed on
    lang with map-side partial distinct. count_distinct on a Zipf gram
    space is the expensive half; the mergeable-sketch twin
    (approx_count_distinct / hll_sketch_merge family) is the rollup-scale
    variant when exactness isn't required. Ratios are fixed-point
    (int·10⁴ DIV) — engine-portable, no float division at halves.
    """
    docs = load(spark, sf_dir, "documents")
    g2 = docs.select("lang", F.explode(TX.ngrams("text", 2)).alias("g"))
    g3 = docs.select("lang", F.explode(TX.ngrams("text", 3)).alias("g"))
    a2 = g2.groupBy("lang").agg(
        F.count("g").alias("total_bigrams"),
        F.count_distinct("g").alias("distinct_bigrams"),
    )
    a3 = g3.groupBy("lang").agg(
        F.count("g").alias("total_trigrams"),
        F.count_distinct("g").alias("distinct_trigrams"),
    )
    # FULL outer join, not inner: a lang whose docs all have <3 tokens has
    # bigrams but no trigram rows; the oracle's single GROUP BY still emits
    # it (trigram counts 0, ratio NULL — DuckDB `// 0` and Spark `DIV 0`
    # both yield NULL). Coalesce counts to 0 so the sides agree.
    joined = a2.join(a3, "lang", "full_outer").select(
        "lang",
        F.coalesce("total_bigrams", F.lit(0)).alias("total_bigrams"),
        F.coalesce("distinct_bigrams", F.lit(0)).alias("distinct_bigrams"),
        F.coalesce("total_trigrams", F.lit(0)).alias("total_trigrams"),
        F.coalesce("distinct_trigrams", F.lit(0)).alias("distinct_trigrams"),
    )
    return joined.select(
        "lang",
        "total_bigrams",
        "distinct_bigrams",
        (F.expr("distinct_bigrams * 10000 DIV total_bigrams") / F.lit(10000.0)).alias(
            "distinct2_ratio"
        ),
        "total_trigrams",
        "distinct_trigrams",
        (F.expr("distinct_trigrams * 10000 DIV total_trigrams") / F.lit(10000.0)).alias(
            "distinct3_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# decontaminate_bloom_13gram

_BLOOM_BITS = 1 << 20  # m: 2^20 bits = 16384 64-bit words ≈ 128 KiB

_BLOOM_K = 5  # probes per gram


def _bloom_probes(g: F.Column) -> list[F.Column]:
    """K bit positions in [0, m) per gram — seeded xxhash64 (NON-portable
    on purpose: the bloom never influences the final answer, so the fastest
    JVM hash wins; portability lives in the exact verify stage)."""
    return [
        F.pmod(F.xxhash64(F.lit(i), g), F.lit(_BLOOM_BITS)) for i in range(_BLOOM_K)
    ]


def bench_gram_bloom(bench_grams: DataFrame) -> DataFrame:
    """Build the (word, bits) Bloom bit table over the ``g`` column of
    ``bench_grams`` with ONE bit_or hash aggregate — at most m/64 rows
    regardless of input size."""
    pos = bench_grams.select(F.explode(F.array(*_bloom_probes(F.col("g")))).alias("p"))
    return (
        pos.select(
            F.shiftright(F.col("p"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_probe_candidates(grams: DataFrame, bloom: DataFrame) -> DataFrame:
    """Rows of ``grams`` whose gram ``g`` passes ALL K probes against
    ``bloom`` (word-indexed broadcast join; an absent word row fails the
    probe via the inner join). Superset of the true member rows — never a
    subset. Rows must be distinct: a repeated row would count its probes
    twice."""
    probes = F.array(
        *[
            F.struct(
                F.shiftright(p, 6).alias("word"),
                (p % 64).cast("int").alias("bit"),
            )
            for p in _bloom_probes(F.col("g"))
        ]
    )
    keys = [c for c in grams.columns]
    exploded = grams.select(*keys, F.explode(probes).alias("pr")).select(
        *keys,
        F.col("pr.word").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), pr.bit)").alias("m"),
    )
    return (
        exploded.join(F.broadcast(bloom), "word")
        .filter(F.col("bits").bitwiseAND(F.col("m")) == F.col("m"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__npass"))
        .filter(F.col("__npass") == _BLOOM_K)
        .drop("__npass")
    )


# The flag oracle is shared on purpose: the bloom is a lossless prefilter
# (no false negatives; false positives die in the exact verify join), so
# the two algorithms must produce the identical flag list, and the shared
# oracle is that guarantee under test.
@register("decontaminate_bloom_13gram", oracle=_FLAG_ORACLE)
def q_decontaminate_bloom_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — benchmark decontamination through a Bloom prefilter:
    build the bit table over the benchmark's distinct 13-grams, probe every
    training gram against the broadcast table (5 seeded-xxhash64 bits,
    all-must-pass), then exact-verify only the survivors with the plain
    gram equi-join. Output contract identical to ``contamination_13gram``.

    Plan at 100 TB: ``contamination_13gram`` relies on AQE broadcasting
    the exploded benchmark gram set — fine for MMLU-sized suites, dead
    once the held-out side reaches tens of GB. The bloom table is m/64
    rows (16 K here, ~128 KiB) NO MATTER how many grams feed it, so the
    broadcast never grows; the training side is filtered down to the
    true-hit rate + the tuned false-positive rate before anything heavier
    runs, and the exact verify join's left side is survivor-sized. The
    aggregates (bit_or build, all-probes-pass count, the shared flag
    counts) are map-side-combined hash aggs on bounded keyspaces.
    """
    docs = load(spark, sf_dir, "documents")
    bench = TX.held_out_grams(docs)
    bloom = bench_gram_bloom(bench.select("g").distinct())
    # (doc_id, pos, g) rows are distinct, as the probe count requires
    cand = bloom_probe_candidates(_train_grams(docs), bloom)
    return _flag_counts(cand, bench).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dsir_importance_resample

_DSIR_B = 4096  # hashed-feature buckets

_DSIR_TOP = 100  # resample size

_DSIR_DOCW_CTE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    f AS (SELECT doc_id, {DUCK_WORD_FEATURES} AS fs FROM toks),
    fb AS (
      SELECT doc_id, ({duck_held_out()}) AS is_t,
             ({duck_md5_32('x')}) % {_DSIR_B} AS b
      FROM (SELECT doc_id, UNNEST(fs) AS x FROM f)
    ),
    counts AS (
      SELECT b,
             COUNT(*) FILTER (WHERE is_t) AS ct,
             COUNT(*) FILTER (WHERE NOT is_t) AS cr
      FROM fb GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
    w AS (
      SELECT b, LN((ct + 1.0) / (tt + {_DSIR_B}.0))
               - LN((cr + 1.0) / (tr + {_DSIR_B}.0)) AS lw
      FROM counts CROSS JOIN tot
    ),
    docw AS (
      SELECT doc_id, ROUND(SUM(c * lw), 4) AS dsir_logw
      FROM (SELECT doc_id, b, COUNT(*) AS c FROM fb WHERE NOT is_t
            GROUP BY doc_id, b)
      JOIN w USING (b) GROUP BY doc_id
    )
    """


@register(
    "dsir_importance_resample",
    oracle=f"""
    {_DSIR_DOCW_CTE}
    SELECT CAST(rnk AS INT) AS rank, doc_id, dsir_logw FROM (
      SELECT doc_id, dsir_logw,
             ROW_NUMBER() OVER (ORDER BY dsir_logw DESC, doc_id) AS rnk
      FROM docw
    ) WHERE rnk <= {_DSIR_TOP} ORDER BY rank
    """,
)
def q_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — DSIR data selection (Xie et al. 2023): hashed
    unigram+bigram bag-of-ngrams multinomials fit on the target slice (the
    benchmark-designated ~1/16, standing in for the Wikipedia/books-style
    target distribution) and the raw remainder; each raw document scores
    Σ_f c_f·(ln p̂_target(f) − ln p̂_raw(f)) with Laplace smoothing over
    {_DSIR_B} buckets; the top-{_DSIR_TOP} by (ROUNDED score, doc_id) are
    selected. Rank on the ROUNDED weight with the id tie-break so both
    engines cut the identical set (the impact_truncate idiom).

    Plan at 100 TB: the feature explode is map-only; the two multinomials
    are ONE hash aggregate over a {_DSIR_B}-key space (map-side combine
    absorbs the explode volume); the side totals are a whole-table window
    sum over those {_DSIR_B} rows (one partition, bounded by the bucket
    count, not the corpus); the {_DSIR_B}-row bucket-weight table
    broadcasts into the per-doc scoring join; per-doc scores are one more
    hash agg. The final top-N is the only global ordering and runs on
    one row per raw document — TakeOrdered, no full sort. DSIR's actual
    sampling uses Gumbel noise on these same weights; the deterministic
    top-N here is the testable core (noise is a map-only ``-ln(-ln(u))``
    column away, with u from the portable md5 idiom).
    """
    docw = _dsir_doc_weights(spark, sf_dir)
    rk = Window.orderBy(F.col("dsir_logw").desc(), F.col("doc_id"))
    return (
        docw.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= _DSIR_TOP)
        .select("rank", "doc_id", "dsir_logw")
        .orderBy("rank")
    )


def _dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring frame ``docw(doc_id, dsir_logw)`` — the hashed
    unigram+bigram importance log-ratio per raw document (the deterministic
    core both the top-N selector and the Gumbel sampler rank on)."""
    docs = load(spark, sf_dir, "documents")
    # is_t is projected before the explode: a column selected beside a
    # generator is evaluated above it, once per feature instead of per doc
    fb = (
        docs.select("doc_id", spark_held_out().alias("is_t"), "text")
        .select("doc_id", "is_t", F.explode(TX.word_features("text")).alias("x"))
        .select("doc_id", "is_t", (spark_md5_32(F.col("x")) % _DSIR_B).alias("b"))
    )
    # The tokenize+md5 explode feeds TWO consumers (bucket multinomials and
    # the per-doc scoring agg). Collapse it map-side to per-(doc, side,
    # bucket) counts — exploded volume shrinks to ≤ features-per-doc rows —
    # and persist THAT, so it runs once; both consumers aggregate from it
    # with identical integer counts.
    g = tracked_persist(
        fb.groupBy("doc_id", "is_t", "b").agg(F.count(F.lit(1)).alias("c"))
    )
    counts = g.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_t"), F.col("c")).otherwise(0)).alias("cr"),
    )
    # side totals as whole-table window sums over the bucket rows: counts
    # is aggregated once, with no second aggregate and no cross join
    whole = Window.partitionBy()
    w = counts.select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.sum("ct").over(whole) + float(_DSIR_B)))
            - F.log((F.col("cr") + 1.0) / (F.sum("cr").over(whole) + float(_DSIR_B)))
        ).alias("lw"),
    )
    docw = (
        g.filter(~F.col("is_t"))
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lw")), 4).alias("dsir_logw"))
    )
    return docw

_DSIR_SEED = 7  # sampling seed; part of the query definition, echoed in SQL


@register(
    "dsir_gumbel_topk_sample",
    oracle=f"""
    {_DSIR_DOCW_CTE},
    gum AS (
      SELECT doc_id, dsir_logw,
             ROUND(dsir_logw + (-LN(-LN(
               (({duck_md5_32("'dsir-gumbel|' || CAST(doc_id AS VARCHAR) || '|' || CAST(" + str(_DSIR_SEED) + " AS VARCHAR)")}) + 0.5)
               / 4294967296.0))), 4) AS gumbel_key
      FROM docw
    )
    SELECT CAST(rnk AS INT) AS rank, doc_id, gumbel_key FROM (
      SELECT doc_id, gumbel_key,
             ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id) AS rnk
      FROM gum
    ) WHERE rnk <= {_DSIR_TOP} ORDER BY rank
    """,
)
def q_dsir_gumbel_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — DSIR's ACTUAL sampler (Xie et al. 2023 §2): sample
    top-{_DSIR_TOP} documents with probability ∝ importance weight via the
    Gumbel-top-k trick — rank on ``log w_i + g_i`` where ``g_i =
    -ln(-ln(u_i))`` is standard Gumbel noise and ``u_i ∈ (0,1)`` derives
    from the portable md5 idiom on (doc_id, seed={_DSIR_SEED}), so the
    draw is seeded, replayable, and engine-portable. This closes the gap
    the deterministic top-N arm documented: same ``docw`` scoring frame
    (shared Spark helper AND shared SQL CTE — the two arms cannot drift),
    one extra MAP-ONLY noise column, same TakeOrdered tail.

    Plan at 100 TB: identical to the deterministic arm — the noise adds
    zero shuffles (hash, two LNs, one ADD per row on the one-row-per-doc
    scoring frame); the global top-N on (rounded key, doc_id) remains the
    only total order and runs as TakeOrdered on n_docs rows. Ranking on
    the ROUNDED key with the id tie-break keeps both engines cutting the
    identical set (the impact_truncate idiom; Gumbel keys are sums of
    irrational logs, so exact decimal halves have measure ~zero).
    """
    docw = _dsir_doc_weights(spark, sf_dir)
    u = (
        spark_md5_32(
            F.concat_ws(
                "|", F.lit("dsir-gumbel"), F.col("doc_id"), F.lit(_DSIR_SEED)
            )
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    gum = docw.select(
        "doc_id",
        F.round(F.col("dsir_logw") + (-F.log(-F.log(u))), 4).alias("gumbel_key"),
    )
    rk = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
    return (
        gum.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= _DSIR_TOP)
        .select("rank", "doc_id", "gumbel_key")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# corpus_js_divergence_by_source

_JS_B = 4096  # hashed-unigram buckets (the DSIR precedent)


@register(
    "corpus_js_divergence_by_source",
    oracle=f"""
    WITH fb AS (
      SELECT source, ({duck_md5_32("w")}) % {_JS_B} AS b
      FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
    ),
    sc AS (SELECT source, b, COUNT(*) AS c FROM fb GROUP BY source, b),
    cb AS (SELECT b, SUM(c) AS cc FROM sc GROUP BY b),
    ns AS (SELECT source, SUM(c) AS nst FROM sc GROUP BY source),
    nt AS (SELECT SUM(c) AS n FROM sc),
    grid AS (
      SELECT s.source, s.nst, g.b
      FROM ns s CROSS JOIN (SELECT UNNEST(range({_JS_B})) AS b) g
    ),
    pq AS (
      SELECT grid.source, grid.nst,
             (COALESCE(sc.c, 0) + 1.0) / (grid.nst + {_JS_B}.0) AS p,
             (COALESCE(cb.cc, 0) + 1.0) / (nt.n + {_JS_B}.0) AS q
      FROM grid
      LEFT JOIN sc ON sc.source = grid.source AND sc.b = grid.b
      LEFT JOIN cb ON cb.b = grid.b
      CROSS JOIN nt
    )
    SELECT source, CAST(nst AS BIGINT) AS n_tokens,
           ROUND(SUM(0.5 * (p * LN(2.0 * p / (p + q))
                            + q * LN(2.0 * q / (p + q)))), 4) AS js_div
    FROM pq GROUP BY source, nst ORDER BY source
    """,
)
def q_corpus_js_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — per-source Jensen-Shannon divergence vs the corpus
    mixture over hashed-unigram multinomials: the statistic a data-mixing
    stage (GPT-3-style manual mixture weights, DoReMi-style reweighting)
    reads to rank how "off-mixture" each source is. Each source's token
    distribution is hashed into {_JS_B} buckets (the DSIR idiom — fixed
    model size regardless of vocabulary), Laplace-smoothed against the
    full bucket space, and scored JS(p_s ‖ q) ∈ [0, ln 2] against the
    whole-corpus distribution q.

    Plan at 100 TB: the token explode is map-only and collapses into ONE
    (source, bucket) hash aggregate with map-side combine — at most
    |sources|×{_JS_B} rows survive, MODEL-sized regardless of corpus
    size. The corpus distribution is a second {_JS_B}-row agg over that
    table (not a second corpus pass). The smoothing grid is
    |sources|×{_JS_B} rows built from a `range`, never from data. All
    joins on the grid are broadcasts of model-sized tables; no corpus-
    sized shuffle exists past the first aggregate. Cross-engine floats:
    the per-bucket log terms sum in different orders on the two engines
    (~1e-13 dust) and the result rounds to 4dp — the measure-zero
    rounding-half argument of the DSIR/logprob precedents.
    """
    docs = load(spark, sf_dir, "documents")
    fb = docs.select(
        "source", F.explode(TX.tokens("text")).alias("w")
    ).select("source", (spark_md5_32(F.col("w")) % _JS_B).alias("b"))
    sc = fb.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    cb = sc.groupBy("b").agg(F.sum("c").alias("cc"))
    ns = sc.groupBy("source").agg(F.sum("c").alias("nst"))
    nt = sc.agg(F.sum("c").alias("n"))
    grid = ns.crossJoin(F.broadcast(spark.range(_JS_B).select(F.col("id").alias("b"))))
    pq = (
        grid.join(F.broadcast(sc), ["source", "b"], "left")
        .join(F.broadcast(cb), "b", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "nst",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("nst") + float(_JS_B))).alias("p"),
            ((F.coalesce(F.col("cc"), F.lit(0)) + 1.0) / (F.col("n") + float(_JS_B))).alias("q"),
        )
    )
    two = F.lit(2.0)
    return (
        pq.groupBy("source", "nst")
        .agg(
            F.round(
                F.sum(
                    0.5
                    * (
                        F.col("p") * F.log(two * F.col("p") / (F.col("p") + F.col("q")))
                        + F.col("q") * F.log(two * F.col("q") / (F.col("p") + F.col("q")))
                    )
                ),
                4,
            ).alias("js_div")
        )
        .select("source", F.col("nst").cast("long").alias("n_tokens"), "js_div")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# bigram_kn_logprob_scores

_KN_D = 0.75  # absolute discount; 3/4 is exactly representable in binary


@register(
    "bigram_kn_logprob_scores",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
           FROM (SELECT doc_id, t, UNNEST(range(len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c) AS cu, CAST(COUNT(*) AS DOUBLE) AS fanout
           FROM c2 GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS cc FROM c2 GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM c2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((c - {_KN_D}) / cu
                         + {_KN_D} * fanout / cu * (cc / tt))), 4)
             AS avg_neg_logprob_kn
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN cont ON bg.w2 = cont.w2
    CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_bigram_kn_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — interpolated Kneser-Ney bigram scoring: per document the
    average -ln of p_KN(w2|w1) = (c(w1,w2) - D)/c(w1) + D·N1+(w1,·)/c(w1)
    · p_cont(w2), with continuation probability p_cont(w2) = N1+(·,w2) /
    N1+(·,·) and absolute discount D = 0.75 (Kneser & Ney 1995; Chen &
    Goodman 1999 eq. 20). The smoothing upgrade over the Laplace
    ``bigram_logprob_scores``: a word that is frequent but only ever
    follows ONE context ("Francisco") gets a LOW continuation probability
    instead of a high unigram pseudo-count, which is exactly the error
    mode that makes Laplace-smoothed LM filters over-score boilerplate.
    Every scored bigram appears in the corpus model (the corpus scores
    itself, as in the other rungs of the ladder), so c ≥ 1 ⇒ c - D ≥ 0.25
    and the max(·,0) branch of the general formula is provably dead —
    both engines compute the same single expression.

    Plan at 100 TB: one bigram explode (map-only, in-row `sequence` +
    `transform` — no pre-agg shuffle wider than the explode) → THREE
    model-sized hash aggs, each over the previous model table, not the
    corpus: c2 on (w1,w2) is the only corpus-fed agg; c1 (totals +
    fanout N1+(w1,·)) and cont (N1+(·,w2)) aggregate the bigram-TYPE
    table; tt is a 1-row broadcast. Scoring joins the corpus bigram
    stream against vocabulary-scale tables — AQE broadcasts them — then
    one per-doc agg. Cross-engine floats: c, cu, fanout, cc, tt are all
    exact small integers widened to double; D = 0.75 is exact binary; the
    per-doc mean rounds to 4dp under the measure-zero rounding-half
    argument shared with the other logprob scorers.
    """
    docs = load(spark, sf_dir, "documents")
    ta = docs.select("doc_id", TX.tokens("text").alias("t")).filter(F.size("t") >= 2)
    bg = ta.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.get("t", i).alias("w1"), F.get("t", i + 1).alias("w2")
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c"))
    c1 = c2.groupBy("w1").agg(
        F.sum("c").alias("cu"), F.count(F.lit(1)).cast("double").alias("fanout")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("cc"))
    tot = c2.agg(F.count(F.lit(1)).cast("double").alias("tt"))
    d = F.lit(_KN_D)
    p_kn = (F.col("c") - d) / F.col("cu") + d * F.col("fanout") / F.col("cu") * (
        F.col("cc") / F.col("tt")
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log(p_kn)), 4).alias("avg_neg_logprob_kn"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# psi_drift_by_window

_PSI_B = 10  # value-histogram buckets: [0,50), [50,100), ... [450,inf)

_PSI_SPLIT = "2024-01-16 00:00:00"  # reference window < split <= current

# Shared by the batch query and its Structured-Streaming twin
# (stream_psi_drift_monitor): the streaming arm is a different ALGORITHM
# (stateful streaming histogram + static reference) for the same answer,
# so both register the same oracle — the Bloom/exact-decontamination
# precedent.
PSI_ORACLE_SQL = f"""
    WITH eb AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS wnd,
             LEAST(GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) // 5000,
                   {_PSI_B - 1}) AS b
      FROM events
    ),
    sc AS (SELECT event_type, wnd, b, COUNT(*) AS c FROM eb GROUP BY 1, 2, 3),
    ns AS (SELECT event_type, wnd, SUM(c) AS n FROM sc GROUP BY 1, 2),
    grid AS (
      SELECT t.event_type, g.b
      FROM (SELECT DISTINCT event_type FROM sc) t
      CROSS JOIN (SELECT UNNEST(range({_PSI_B})) AS b) g
    ),
    pq AS (
      SELECT grid.event_type,
             COALESCE(nr.n, 0) AS n_ref, COALESCE(nu.n, 0) AS n_cur,
             (COALESCE(sr.c, 0) + 1.0) / (COALESCE(nr.n, 0) + {_PSI_B}.0) AS q,
             (COALESCE(su.c, 0) + 1.0) / (COALESCE(nu.n, 0) + {_PSI_B}.0) AS p
      FROM grid
      LEFT JOIN sc sr ON sr.event_type = grid.event_type
                     AND sr.b = grid.b AND sr.wnd = 0
      LEFT JOIN sc su ON su.event_type = grid.event_type
                     AND su.b = grid.b AND su.wnd = 1
      LEFT JOIN ns nr ON nr.event_type = grid.event_type AND nr.wnd = 0
      LEFT JOIN ns nu ON nu.event_type = grid.event_type AND nu.wnd = 1
    )
    SELECT event_type,
           CAST(MAX(n_ref) AS BIGINT) AS n_ref,
           CAST(MAX(n_cur) AS BIGINT) AS n_cur,
           ROUND(SUM((p - q) * LN(p / q)), 4) AS psi
    FROM pq GROUP BY event_type ORDER BY event_type
    """


@register("psi_drift_by_window", oracle=PSI_ORACLE_SQL)
def q_psi_drift_by_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+/DQ — Population Stability Index per event type between a
    fixed reference window (ts < {split}) and the current window: PSI =
    Σ_buckets (p_cur - p_ref)·ln(p_cur/p_ref) over a fixed 10-bucket value
    histogram, Laplace-smoothed so empty buckets stay finite. The
    temporal twin of ``corpus_js_divergence_by_source`` (that audits the
    SOURCE axis of the mixture; this audits the TIME axis) and the
    standard production gate between a training-data snapshot and the
    live stream — PSI > 0.2 is the conventional "retrain/investigate"
    threshold.

    Plan at 100 TB: the bucket id is a map-only integer projection —
    ROUND(value·100) to exact integer cents, then integer DIV — so the
    whole corpus collapses into ONE (event_type, window, bucket) hash
    aggregate with map-side combine: at most |types|×2×{B} rows survive,
    model-sized regardless of corpus size. Window totals are a second agg
    over THAT table; the smoothing grid is built from `range`, never from
    data; every grid join is a broadcast. Nothing corpus-sized shuffles
    past the first aggregate, and the scan prunes to (ts, event_type,
    value). Cross-engine notes: integer-cents bucketing sidesteps the
    double-truncation trap (6.55·100 = 654.99… must ROUND, not CAST);
    values carry 2 decimals so value·100 never lands near .5 and the
    round is engine-identical; the PSI sum rounds to 4dp under the
    measure-zero argument. A type absent from one window is scored
    against the uniform smoothed distribution (COALESCE 0 totals) rather
    than dropped — drift of a brand-new event type should read as large,
    not invisible.
    """
    events = load(spark, sf_dir, "events")
    eb = events.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("wnd"),
        psi_value_bucket().alias("b"),
    )
    sc = eb.groupBy("event_type", "wnd", "b").agg(F.count(F.lit(1)).alias("c"))
    return psi_assemble(spark, sc)


def psi_value_bucket() -> "F.Column":
    """The PSI value-histogram bucket id as a map-only integer projection:
    ROUND(value·100) to exact cents, then integer DIV — shared by the
    batch query and its streaming twin so both arms bucket identically.
    Cents clamp at 0 first: Spark DIV truncates toward zero while DuckDB
    ``//`` floors, so a negative value would bucket as 0 vs −1 across
    engines; clamping makes any negative value bucket 0 on
    both arms instead of silently relying on the fixture's value ≥ 0."""
    return F.least(
        F.expr("GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) DIV 5000"),
        F.lit(_PSI_B - 1),
    )


def psi_assemble(spark: SparkSession, sc: DataFrame) -> DataFrame:
    """PSI per event type from a (event_type, wnd∈{0,1}, b, c) count frame
    — the model-sized tail shared by ``psi_drift_by_window`` (one batch
    agg feeds it) and ``stream_psi_drift_monitor`` (the current-window
    half of the frame comes out of a Structured Streaming stateful agg).
    Everything here is |types|×2×buckets-sized; every join broadcasts."""
    ns = sc.groupBy("event_type", "wnd").agg(F.sum("c").alias("n"))
    grid = (
        sc.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spark.range(_PSI_B).select(F.col("id").alias("b"))))
    )
    sr = sc.filter(F.col("wnd") == 0).select("event_type", "b", F.col("c").alias("cr"))
    su = sc.filter(F.col("wnd") == 1).select("event_type", "b", F.col("c").alias("cc_"))
    nr = ns.filter(F.col("wnd") == 0).select("event_type", F.col("n").alias("nrn"))
    nu = ns.filter(F.col("wnd") == 1).select("event_type", F.col("n").alias("nun"))
    bb = float(_PSI_B)
    pq = (
        grid.join(F.broadcast(sr), ["event_type", "b"], "left")
        .join(F.broadcast(su), ["event_type", "b"], "left")
        .join(F.broadcast(nr), "event_type", "left")
        .join(F.broadcast(nu), "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("nrn"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("nun"), F.lit(0)).alias("n_cur"),
            ((F.coalesce(F.col("cr"), F.lit(0)) + 1.0)
             / (F.coalesce(F.col("nrn"), F.lit(0)) + bb)).alias("q"),
            ((F.coalesce(F.col("cc_"), F.lit(0)) + 1.0)
             / (F.coalesce(F.col("nun"), F.lit(0)) + bb)).alias("p"),
        )
    )
    return (
        pq.groupBy("event_type")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 4
            ).alias("psi"),
        )
        .orderBy("event_type")
    )

_QC_BUCKETS = 512  # hashed feature space — the weight table is model-sized

_QC_EPOCHS = 16  # measured: accuracy 0.796 (vs 0.750 majority) on the fixture

_QC_D = 8  # lr = 1/(_QC_D * N); measured stable (D=4 oscillates)

_QC_POSW = 3  # positive-class error weight (curated slice is 1/4 of corpus)

_QC_S = 4_000_000  # shift constant for the portable signed floor-div

_QC_SZ = 4_000_000_000_000  # same, for the hard-sigmoid's z/4 (|z| << 4e12)


def _qc_prefix_sql() -> str:
    """Shared oracle prefix: hashed binary features fx(doc_id, b), weak
    labels lab(doc_id, y), corpus size nn(n), zero-init weights w0."""
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    f AS (SELECT doc_id, {DUCK_WORD_FEATURES} AS feats FROM toks),
    fx AS MATERIALIZED (
      SELECT DISTINCT doc_id, ({duck_md5_32('x')}) % {_QC_BUCKETS} AS b
      FROM (SELECT doc_id, UNNEST(feats) AS x FROM f)
    ),
    lab AS (
      SELECT doc_id, CAST(CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5
                          THEN 1000000 ELSE 0 END AS BIGINT) AS y
      FROM documents
    ),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    w0 AS (SELECT UNNEST(range({_QC_BUCKETS})) AS b, CAST(0 AS BIGINT) AS w)"""


def _qc_epoch_cte(e: int) -> str:
    """One full-batch GD epoch as CTEs: ``w{e-1}`` -> ``w{e}``."""
    return f""",
    z{e} AS (
      SELECT fx.doc_id, SUM(w.w) AS z
      FROM fx JOIN w{e - 1} w ON fx.b = w.b
      GROUP BY fx.doc_id
    ),
    er{e} AS (
      SELECT z.doc_id,
             (LEAST(GREATEST((z.z + {_QC_SZ}) // 4 - {_QC_SZ // 4} + 500000,
                             0), 1000000) - l.y)
             * CASE WHEN l.y > 0 THEN {_QC_POSW} ELSE 1 END AS err
      FROM z{e} z JOIN lab l ON z.doc_id = l.doc_id
    ),
    g{e} AS (
      SELECT fx.b, SUM(er.err) AS g
      FROM fx JOIN er{e} er ON fx.doc_id = er.doc_id
      GROUP BY fx.b
    ),
    w{e} AS MATERIALIZED (
      SELECT w.b,
             CAST(w.w - ((COALESCE(g.g, 0) + {_QC_S} * ({_QC_D} * nn.n))
                    // ({_QC_D} * nn.n)) + {_QC_S} AS BIGINT) AS w
      FROM w{e - 1} w LEFT JOIN g{e} g ON w.b = g.b CROSS JOIN nn
    )"""


def _qc_train_oracle() -> str:
    epochs = "".join(_qc_epoch_cte(e) for e in range(1, _QC_EPOCHS + 1))
    return f"""
    {_qc_prefix_sql()}{epochs}
    SELECT b AS bucket, w AS weight_x1e6 FROM w{_QC_EPOCHS} ORDER BY bucket
    """


def _qc_scores_oracle() -> str:
    epochs = "".join(_qc_epoch_cte(e) for e in range(1, _QC_EPOCHS + 1))
    return f"""
    {_qc_prefix_sql()}{epochs},
    zf AS (
      SELECT fx.doc_id, SUM(w.w) AS z
      FROM fx JOIN w{_QC_EPOCHS} w ON fx.b = w.b
      GROUP BY fx.doc_id
    )
    SELECT l.doc_id, CAST(COALESCE(zf.z, 0) AS BIGINT) AS margin_x1e6,
           COALESCE(zf.z, 0) >= 0 AS keep
    FROM lab l LEFT JOIN zf ON l.doc_id = zf.doc_id
    ORDER BY l.doc_id
    """


def _qc_features(spark: SparkSession, sf_dir: str):
    """(fx, lab, n): hashed binary features, weak labels, corpus size —
    the Spark twin of ``_qc_prefix_sql`` (same feature construction as
    quality_classifier_linear, so the scored and trained feature spaces
    coincide)."""
    from ..operators.scaling import ensure_min_partitions

    docs = ensure_min_partitions(load(spark, sf_dir, "documents"))
    fx = (
        docs.select("doc_id", F.explode(TX.word_features("text")).alias("x"))
        .select("doc_id", (spark_md5_32(F.col("x")) % _QC_BUCKETS).alias("b"))
        .distinct()
    )
    lab = docs.select(
        "doc_id",
        F.when(F.expr("CAST(substring(source, 4) AS INT)") < 5, F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    )
    return fx, lab, docs.count()


def _qc_trained_weights(
    spark: SparkSession, sf_dir: str, epochs: int = _QC_EPOCHS
) -> list[int]:
    """Run the E-epoch full-batch GD loop. Per epoch: ONE broadcast join
    of the (n·feats)-row feature table against the 512-row weight table +
    two hash aggs; the only driver traffic is the MODEL-sized gradient
    (≤ 512 rows — the kmeans-centroid collect precedent) and the update
    runs in exact Python integers. Nothing corpus-sized ever leaves the
    executors; epochs is a knob, cost strictly linear in it.
    ``epochs`` < _QC_EPOCHS replays a prefix of the trajectory.
    The 512-int model is memoized per epochs so the train and serve
    entries share ONE training pass (rules: :mod:`..artifacts`)."""
    return artifacts.memoized(
        spark, "qc_weights", sf_dir, epochs,
        build=lambda: _qc_train(spark, sf_dir, epochs),
    )


def _qc_train(spark: SparkSession, sf_dir: str, epochs: int) -> list[int]:
    fx, lab, n = _qc_features(spark, sf_dir)
    fx = tracked_persist(fx)
    lab = tracked_persist(lab)
    dn = _QC_D * n
    w = [0] * _QC_BUCKETS
    for _ in range(epochs):
        w_df = spark.createDataFrame(
            list(enumerate(w)), "b long, w long"
        )
        z = (
            fx.join(F.broadcast(w_df), "b")
            .groupBy("doc_id")
            .agg(F.sum("w").alias("z"))
        )
        err = z.join(lab, "doc_id").select(
            "doc_id",
            (
                (
                    F.expr(
                        f"LEAST(GREATEST((z + {_QC_SZ}) DIV 4 - {_QC_SZ // 4}"
                        " + 500000, 0), 1000000)"
                    )
                    - F.col("y")
                )
                * F.when(F.col("y") > 0, F.lit(_QC_POSW)).otherwise(F.lit(1))
            ).alias("err"),
        )
        g = {
            r.b: r.g
            for r in fx.join(err, "doc_id")
            .groupBy("b")
            .agg(F.sum("err").alias("g"))
            .collect()
        }
        w = [
            w[b] - (g.get(b, 0) + _QC_S * dn) // dn + _QC_S
            for b in range(_QC_BUCKETS)
        ]
    return w


@register("quality_classifier_train_gd", oracle=_qc_train_oracle())
def q_quality_classifier_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — TRAIN the model-based quality filter: {_QC_EPOCHS}
    epochs of full-batch logistic-regression GD (hard-sigmoid, integer
    micro-unit fixed point, class-balanced error) over hashed
    unigram+bigram binary features, weak labels from source provenance
    (the CCNet / GPT-3 recipe: curated sources positive, rest negative).
    Emits the final {_QC_BUCKETS}-row (bucket, weight) model table — the
    learned counterpart of quality_classifier_linear's documented
    hash-derived stand-in weights, trained over the SAME feature space so
    the serving plan is unchanged (broadcast-join the weight table).

    Plan at 100 TB: the feature table is built once and persisted; each
    epoch is one broadcast join (512-row model) + two hash aggs, all
    map-side combinable, with ONLY the ≤ {_QC_BUCKETS}-row gradient ever
    collected (model-sized, the kmeans-centroid precedent). The full
    oracle replays all {_QC_EPOCHS} epochs as generated CTEs in exact
    integer arithmetic — see the module docstring for the measured
    hyperparameter story.
    """
    w = _qc_trained_weights(spark, sf_dir)
    return spark.createDataFrame(
        [(b, wb) for b, wb in enumerate(w)], "bucket long, weight_x1e6 long"
    ).orderBy("bucket")


@register("quality_classifier_gd_scores", oracle=_qc_scores_oracle())
def q_quality_classifier_gd_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — serve the TRAINED quality filter: per-document integer
    margin Σ w[bucket] and keep = margin ≥ 0 (hard-sigmoid ≥ ½ ⟺ z ≥ 0,
    exactly as quality_classifier_linear's gate rides the integer sum,
    never float rounding). Shares the full training trajectory with
    quality_classifier_train_gd — same memoized weights engine-side, same
    CTE prefix oracle-side (the bpe train/encode pattern) — so the scores
    are definitionally those of the trained model. Measured on the
    fixture: accuracy 0.796, positive recall 106/125, vs the 0.750 /
    0-recall majority collapse (module docstring).

    Plan at 100 TB: scoring is one broadcast join of the corpus feature
    table against the 512-row model + one hash agg — the exact serving
    plan quality_classifier_linear documents for learned weights.
    """
    w = _qc_trained_weights(spark, sf_dir)
    w_df = spark.createDataFrame(
        [(b, wb) for b, wb in enumerate(w)], "b long, w long"
    )
    fx, lab, _ = _qc_features(spark, sf_dir)
    z = (
        fx.join(F.broadcast(w_df), "b")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("z"))
    )
    return (
        lab.join(z, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("z"), F.lit(0)).cast("long").alias("margin_x1e6"),
            (F.coalesce(F.col("z"), F.lit(0)) >= 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# topic_cluster_cards — the cluster-level corpus audit report

_TC_TOP = 3  # terms per card


def _tc_oracle() -> str:
    return f"""
    WITH {EN},{duck_kmeans_cells(SIM.INDEX_CELLS, SIM.INDEX_ROUNDS)},
    toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
    dt AS (SELECT a.cid, t.term FROM toks t JOIN kassign a ON t.doc_id = a.vec_id),
    tf AS (SELECT cid, term, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
    cdf AS (SELECT term, COUNT(*) AS cdf FROM tf GROUP BY 1),
    sc AS (SELECT tf.cid, tf.term, (tf.tf * 10000) // cdf.cdf AS score_x10000
           FROM tf JOIN cdf ON tf.term = cdf.term),
    rk AS (SELECT cid, term, score_x10000,
                  ROW_NUMBER() OVER (PARTITION BY cid
                                     ORDER BY score_x10000 DESC, term) AS rnk
           FROM sc),
    nc AS (SELECT cid, COUNT(*) AS n_docs FROM kassign GROUP BY 1)
    SELECT r.cid AS cluster, CAST(n.n_docs AS BIGINT) AS n_docs,
           CAST(r.rnk AS INT) AS rank, r.term,
           CAST(r.score_x10000 AS BIGINT) AS score_x10000
    FROM rk r JOIN nc n ON r.cid = n.cid
    WHERE r.rnk <= {_TC_TOP} ORDER BY cluster, rank
    """


@register("topic_cluster_cards", oracle=_tc_oracle())
def q_topic_cluster_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — per-cluster TOPIC CARDS: the cells of the family's committed
    k-means index (:func:`operators.similarity.kmeans_index`, the IVF
    entries' clustering; the oracle replays the same generated SQL), each
    labelled with its size and top-{_TC_TOP} most DISTINCTIVE terms —
    the BERTopic-style cluster report (Grootendorst 2022's c-TF-IDF idea)
    a corpus curator reads before weighting or pruning by topic, and the
    aggregate view behind "what IS in this crawl slice". Distinctiveness
    is the integer ratio (tf_in_cluster · 10⁴) // clusters_containing_term
    — the c-TF-IDF shape with the transcendental idf replaced by an exact
    integer cluster-df divisor, so the ranking replays bit-identically on
    both engines (ties broken by term; the registry rounding rule).

    Plan at 100 TB: ONE corpus token pass (explode → (cluster, term) hash
    agg, map-side combinable); the embedding side is a read of the stored
    cell assignment; everything downstream is bounded by k·|vocab| (tf),
    |vocab| (cluster-df), and k·{_TC_TOP} (the cards). The doc→cluster
    equi-join shuffles on the id key — near-uniform by construction. No
    collect anywhere.
    """
    _, assign, _ = SIM.kmeans_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    dt = toks.join(
        assign, toks.doc_id == assign.vec_id
    ).select("cid", "term")
    tf = dt.groupBy("cid", "term").agg(F.count(F.lit(1)).alias("tf"))
    cdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    sc = tf.join(cdf, "term").select(
        "cid", "term", F.expr("(tf * 10000) DIV cdf").alias("score_x10000")
    )
    from pyspark.sql import Window

    rk = sc.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("cid").orderBy(
                F.col("score_x10000").desc(), F.col("term")
            )
        ),
    ).filter(F.col("rank") <= _TC_TOP)
    nc = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        rk.join(nc, "cid")
        .select(
            F.col("cid").alias("cluster"),
            F.col("n_docs").cast("long"),
            F.col("rank").cast("int"),
            "term",
            F.col("score_x10000").cast("long"),
        )
        .orderBy("cluster", "rank")
    )


# ---------------------------------------------------------------------------
# semantic_decontaminate_topk

_SD_TAU = 3000  # flag threshold, integer ten-thousandths. 0.30 flags 36
# of 458 train docs at sf0.01 on the random fixture (0.4, the semdedup
# pair threshold, flags only 2 — too thin to discriminate hash drift);
# a production run with real embeddings sets ~0.95


@register(
    "semantic_decontaminate_topk",
    oracle=f"""
    {duck_hash_assign(1)},
    {DUCK_QASSIGN},
    ev AS (SELECT * FROM qassign WHERE {duck_held_out('vec_id')}),
    tr AS (SELECT * FROM qassign WHERE NOT ({duck_held_out('vec_id')})),
    sc AS (
      SELECT t.vec_id AS doc_id, e.vec_id AS eval_id,
             {duck_int_cos("t.q", "t.s", "e.q", "e.s")} AS cos_x1e4
      FROM tr t JOIN ev e ON t.cluster = e.cluster
    ),
    best AS (
      SELECT doc_id, eval_id, cos_x1e4,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cos_x1e4 DESC, eval_id) AS rn
      FROM sc
    )
    SELECT doc_id, eval_id AS nearest_eval_id, cos_x1e4
    FROM best WHERE rn = 1 AND cos_x1e4 >= {_SD_TAU} ORDER BY doc_id
    """,
)
def q_semantic_decontaminate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — SEMANTIC decontamination: for every train document,
    its nearest held-out (benchmark-designated) document by cosine within
    its centroid cell; emitted when similarity ≥ {_SD_TAU}/10⁴. The
    embedding-level sibling of ``contamination_13gram`` /
    ``decontaminate_bloom_13gram`` over the SAME eval slice (shared md5
    id predicate): exact n-gram checks miss paraphrased or re-templated
    eval leakage, which lands exactly here. Scores are the
    pure-integer quantized cosine (int_cos_x1e4) — the first NEW operator
    born onto the graph family's float-free hash contract.

    Plan at 100 TB: the eval side of a real audit is tiny (an eval suite,
    ≤ 10⁵ docs) and broadcasts whole; here both sides ride the shared
    nearest-centroid cells so the candidate join is the within-cell
    equi-shuffle (Σ|cell|·|eval∩cell| rows, LINEAR in n via the auto-k
    cell sizing the family already pins), never all-pairs. Per-train
    argmax is ONE max_by hash aggregate — no per-row window. Threshold +
    id tie-break keep both engines cutting the identical flag list.
    """
    from ..operators.similarity import (
        int_cos_x1e4,
        nearest_centroid,
        quantize_vectors,
    )

    emb = load(spark, sf_dir, "embeddings")
    qa = quantize_vectors(nearest_centroid(emb, k=8))
    ev = qa.filter(spark_held_out("vec_id")).select(
        F.col("cluster"),
        F.col("vec_id").alias("eval_id"),
        F.col("__q").alias("eq"),
        F.col("__s").alias("es"),
    )
    tr = qa.filter(~spark_held_out("vec_id")).select(
        F.col("cluster"),
        F.col("vec_id").alias("doc_id"),
        F.col("__q").alias("tq"),
        F.col("__s").alias("ts"),
    )
    sc = tr.join(ev, "cluster").select(
        "doc_id",
        "eval_id",
        int_cos_x1e4(F.col("tq"), F.col("ts"), F.col("eq"), F.col("es")).alias(
            "cos_x1e4"
        ),
    )
    best = sc.groupBy("doc_id").agg(
        F.max_by(
            F.struct(F.col("eval_id"), F.col("cos_x1e4")),
            F.struct(F.col("cos_x1e4").alias("c"), (-F.col("eval_id")).alias("ne")),
        ).alias("b")
    )
    return (
        best.select(
            "doc_id",
            F.col("b.eval_id").alias("nearest_eval_id"),
            F.col("b.cos_x1e4").alias("cos_x1e4"),
        )
        .filter(F.col("cos_x1e4") >= _SD_TAU)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# contamination_span_profile

@register(
    "contamination_span_profile",
    oracle=f"""
    WITH {DUCK_HELD_OUT_GRAMS},
    hit AS (SELECT DISTINCT doc_id, pos FROM grams{DECON_N}
            WHERE NOT ({duck_held_out()}) AND g IN (SELECT g FROM bench)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hit
    ),
    runs AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
             FROM isl GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(run_len) AS BIGINT) AS n_hit_positions,
           CAST(MAX(run_len) + {DECON_N - 1} AS BIGINT) AS longest_span_tokens
    FROM runs GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_contamination_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — contamination SEVERITY, not just the boolean flag: for
    every training document that contamination_13gram would flag, the
    number of maximal CONTIGUOUS contaminated spans, the total count of
    contaminated 13-gram positions, and the LONGEST shared span in tokens
    (= longest run of consecutive matched positions + 12). The boolean
    flag treats one unlucky idiom and a wholesale-quoted benchmark answer
    identically; the data recipes that redact rather than drop (the
    excision arm, decontaminate_excise_13gram) need exactly this profile
    to decide which — a 13-token span is an idiom, a 200-token span is a
    leak.

    Islands-and-gaps on matched gram POSITIONS: consecutive positions
    share ``pos − row_number()`` (the standard gaps-and-islands key), so
    one window + one agg turn the position set into maximal runs. Uses
    the SAME md5-designated eval slice and positional-gram construction
    as the whole 13-gram family, so the profiles describe the
    identical contamination event set.

    Plan at 100 TB: the eval gram table is suite-sized — AQE broadcasts
    it; the train side explodes positional grams map-side and equi-joins
    on the gram string (no all-pairs); the islands window partitions by
    doc_id over HIT positions only (corpus-sparse — contaminated docs'
    matched grams, not the corpus), then two hash aggs. Nothing new
    shuffles the full corpus beyond the gram join the boolean flag
    already pays.
    """
    docs = load(spark, sf_dir, "documents")
    bench = TX.held_out_grams(docs).select("g").distinct()
    hit = (
        _train_grams(docs)
        .join(bench, "g")
        .select("doc_id", "pos")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hit.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("run_len").cast("long").alias("n_hit_positions"),
            (F.max("run_len") + DECON_N - 1).cast("long").alias("longest_span_tokens"),
        )
        .orderBy("doc_id")
    )

_COV_ROUNDS = 5  # documents selected (greedy rounds)


def _cov_round_cte(r: int, b: int = 1) -> str:
    """One greedy round as CTEs: gains vs cov{r-1}, top-``b`` pick (with
    in-round rank), selected set + covered set advance. MATERIALIZED pins
    each round's result so the CTE chain cannot re-expand the prior
    rounds (the NN-Descent oracle's lineage lesson, same fix). ``b = 1``
    is the exact greedy; ``b > 1`` is BATCH greedy — gains are measured
    against the covered set BEFORE the round, within-batch overlap
    deliberately not discounted (the documented batch trade)."""
    return f""",
    new{r} AS (
      SELECT d.doc_id, COUNT(g.g) AS gain
      FROM ids d
      LEFT JOIN (SELECT dg.doc_id, dg.g FROM dg
                 WHERE NOT EXISTS (SELECT 1 FROM cov{r - 1} c WHERE c.g = dg.g)) g
        ON g.doc_id = d.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM sel{r - 1})
      GROUP BY d.doc_id
    ),
    pick{r} AS MATERIALIZED (
      SELECT doc_id, gain, rk FROM (
        SELECT doc_id, gain,
               ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS rk
        FROM new{r})
      WHERE rk <= {b}
    ),
    sel{r} AS MATERIALIZED (
      SELECT doc_id FROM sel{r - 1} UNION ALL SELECT doc_id FROM pick{r}
    ),
    cov{r} AS MATERIALIZED (
      SELECT g FROM cov{r - 1}
      UNION
      SELECT dg.g FROM dg JOIN pick{r} p ON dg.doc_id = p.doc_id
    )"""

# The distinct (doc_id, gram) table the coverage trainer and the novelty
# readout share.
_DG_CTES = f"""{duck_grams()},
    dg AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM grams{DECON_N})"""

_COV_PREFIX = f"""
    WITH {_DG_CTES},
    ids AS (SELECT DISTINCT doc_id FROM documents),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0),
    cov0 AS (SELECT CAST(NULL AS VARCHAR) AS g WHERE 1 = 0)"""


def _cov_oracle() -> str:
    rounds = "".join(_cov_round_cte(r) for r in range(1, _COV_ROUNDS + 1))
    finals = "\n      UNION ALL\n".join(
        f"""      SELECT {r} AS rank, doc_id, CAST(gain AS BIGINT) AS gain,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS covered_total
      FROM pick{r}"""
        for r in range(1, _COV_ROUNDS + 1)
    )
    return f"""
    {_COV_PREFIX}{rounds}
    SELECT CAST(rank AS INT) AS rank, doc_id, gain, covered_total FROM (
{finals}
    ) ORDER BY rank
    """


@register("greedy_gram_coverage_select", oracle=_cov_oracle())
def q_greedy_gram_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — greedy max-coverage SELECTION: pick {_COV_ROUNDS}
    documents, each round taking the document whose distinct 13-token
    grams add the most grams not yet covered by the picks so far (ties →
    lowest doc_id; zero-gain documents stay eligible so the output is
    always exactly {_COV_ROUNDS} rows). Emits (rank, doc_id, gain,
    covered_total) — the marginal-gain curve IS the submodular-selection
    diagnostic: a steep-then-flat curve says a small diverse core exists,
    a flat curve says the corpus is redundancy-free at this gram width.

    This is the SELECTION rung of the curation stack (the dedup families
    remove redundancy after collection; this builds a maximally-diverse
    subset before training) — the greedy (1 - 1/e) algorithm for monotone
    submodular functions, applied to n-gram coverage the way
    facility-location selection applies it to embedding similarity.

    Plan at 100 TB: the gram table builds once (13-token shingles,
    the decontamination family's unit) and persists; each round is ONE
    hash anti-join on the gram key (new grams vs the covered set) + one
    hash aggregate + a 1-row TakeOrdered — all equi-key, nothing
    quadratic, rounds a fixed constant. Driver state is {_COV_ROUNDS}
    rows (the kmeans/percentile precedent: parameter-sized, never
    corpus-sized); the covered set stays DISTRIBUTED (localCheckpoint
    between rounds — the NN-Descent lineage-truncation lesson, since each
    round references it twice). Selecting M ≫ 5 at scale would batch
    picks per round (stochastic greedy, Mirzasoleiman et al. 2015) —
    same join shapes, fewer rounds.
    """
    out = [
        (rnd, doc_id, gain, total)
        for rnd, _rk, doc_id, gain, total in _greedy_select(
            spark, sf_dir, rounds=_COV_ROUNDS, batch=1
        )
    ]
    return spark.createDataFrame(
        out, "rank int, doc_id long, gain long, covered_total long"
    )


def _dg_frame(docs: DataFrame) -> DataFrame:
    """The distinct ``(doc_id, g)`` 13-gram table — the Spark twin of
    ``_DG_CTES``, shared by the coverage trainer and the novelty readout."""
    return TX.positional_grams(docs).select("doc_id", "g").distinct()


def _greedy_select(
    spark: SparkSession, sf_dir: str, rounds: int, batch: int
) -> list[tuple[int, int, int, int, int]]:
    """Shared driver-walked greedy: ``rounds`` rounds of top-``batch``
    marginal-gain picks. Returns (round, rank_in_round, doc_id, gain,
    covered_total_after_round) tuples — rounds·batch rows of driver
    state, parameter-sized. batch=1 IS the exact greedy (the flagship);
    batch>1 measures gains against the pre-round covered set only."""
    from ..caching import tracked_persist

    docs = load(spark, sf_dir, "documents")
    dg = tracked_persist(_dg_frame(docs))
    # DISTINCT ids, mirrored in the oracle's ``ids`` CTE: on duplicate-id
    # input an undeduped candidate list would let the engines diverge
    # (the oracle's LEFT JOIN would multiply a gain by the id's
    # multiplicity while Spark kept per-row gains — the edit-distance
    # adjacent-band class) and batch > 1 could pick the same
    # id twice in one round. With both sides deduped, a duplicated id is
    # one candidate with the union of its grams on both engines.
    ids = docs.select("doc_id").distinct()
    covered = spark.createDataFrame([], "g string")
    sel_ids: list[int] = []
    out: list[tuple[int, int, int, int, int]] = []
    for r in range(1, rounds + 1):
        new = dg.join(covered, "g", "left_anti")
        gains = (
            ids.join(
                new.groupBy("doc_id").agg(F.count("g").alias("gain")),
                "doc_id",
                "left",
            )
            .na.fill({"gain": 0})
            .filter(~F.col("doc_id").isin(sel_ids) if sel_ids else F.lit(True))
        )
        picks = gains.orderBy(F.col("gain").desc(), "doc_id").limit(batch).collect()
        sel_ids.extend(p.doc_id for p in picks)
        covered = (
            covered.unionByName(
                dg.join(
                    F.broadcast(
                        spark.createDataFrame(
                            [(p.doc_id,) for p in picks], "doc_id long"
                        )
                    ),
                    "doc_id",
                    "semi",
                ).select("g")
            )
            .distinct()
            .localCheckpoint()
        )
        total = covered.count()
        out.extend(
            (r, i + 1, p.doc_id, p.gain, total) for i, p in enumerate(picks)
        )
    return out

_COVB_ROUNDS = 2  # batch-greedy rounds

_COVB_B = 5  # picks per round


def _covb_oracle() -> str:
    rounds = "".join(
        _cov_round_cte(r, b=_COVB_B) for r in range(1, _COVB_ROUNDS + 1)
    )
    finals = "\n      UNION ALL\n".join(
        f"""      SELECT {r} AS round, CAST(rk AS INT) AS rank_in_round, doc_id,
             CAST(gain AS BIGINT) AS gain,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS covered_total
      FROM pick{r}"""
        for r in range(1, _COVB_ROUNDS + 1)
    )
    return f"""
    {_COV_PREFIX}{rounds}
    SELECT CAST(round AS INT) AS round, rank_in_round, doc_id, gain,
           covered_total FROM (
{finals}
    ) ORDER BY round, rank_in_round
    """


@register("greedy_coverage_select_batched", oracle=_covb_oracle())
def q_greedy_coverage_select_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — BATCH greedy max-coverage, the M ≫ rounds scale path
    of greedy_gram_coverage_select: {_COVB_ROUNDS} rounds each picking
    the top-{_COVB_B} documents by marginal gain against the covered set
    as of the round START (within-batch overlap deliberately not
    discounted — the standard batch-greedy trade: B× fewer barrier
    rounds for a bounded approximation loss; the stochastic-greedy line
    of Mirzasoleiman et al. 2015 formalizes the same rounds-vs-quality
    dial). Emits (round, rank_in_round, doc_id, gain, covered_total) —
    covered_total is the post-round cumulative distinct-gram count, so
    consecutive rounds' totals measure what the batch ACTUALLY added vs
    the sum of its nominal gains: the gap IS the within-batch
    redundancy, a selection-quality readout the exact greedy never shows.

    Plan at 100 TB: identical join shapes to the flagship (one gram-key
    anti-join + hash agg per round), but selecting M documents costs
    M/B barrier rounds instead of M — the knob that makes greedy
    selection feasible when M is thousands. Driver state = rounds·B
    rows; the covered set stays distributed. Shares the Spark body
    (_greedy_select) and the oracle round generator (_cov_round_cte)
    with the exact entry, so the two tiers cannot drift; batch=1
    equivalence with the flagship is pinned by test.
    """
    rows = _greedy_select(spark, sf_dir, rounds=_COVB_ROUNDS, batch=_COVB_B)
    return spark.createDataFrame(
        rows,
        "round int, rank_in_round int, doc_id long, gain long, covered_total long",
    )


# ---------------------------------------------------------------------------
# fuzzy_decontaminate_minhash — GPT-3-style fuzzy (near-dup) decontamination

_FUZZ_T = 0.5  # Jaccard threshold (matches the minhash_near_dups entry)


def _fuzz_pair_ctes() -> str:
    """The SHARED exact train×bench pair table ``p (tid, bid, jaccard)``
    of QUALIFYING pairs: 3-gram Jaccard via the shared inverted-index
    shingle CTE (functions.text.DUCK_SHINGLES) against the shared benchmark
    slice (functions.text.duck_held_out — the same eval set every
    contamination entry uses). The threshold compares the UNROUNDED
    ratio (the ssjoin precedent; rounding only for display — a pair with
    exact Jaccard in [T−5e-5, T) must NOT qualify via round-up) and
    lives HERE so every consumer inherits the same boundary
    rule. One text, two consumers (the batch per-doc rollup and the
    streaming pair emitter) — the _CCNET_CTES discipline, so the two
    fuzzy-decontamination oracles cannot drift.

    Duplicate-id contract: a duplicated ``doc_id`` is a DATA
    ERROR here, asserted loudly on BOTH engines rather than collapsed —
    the ``uq`` guard below errors the oracle, and the Spark arms run the
    matching construction-time probe (``assert_unique_doc_ids``).
    Rationale: the per-row shingle arrays (Spark) and the exploded
    postings + one sizes row per document row (oracle) inflate
    DIFFERENTLY on duplicate ids, and the union-collapse the greedy
    entries use would cost this production path a full-corpus doc_id
    shuffle of the shingle arrays (the greedy gram table is already
    exploded+distinct, so its collapse was free). Pinned by the
    duplicate-id fixture test: both engines must RAISE."""

    return f"""{DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    uq AS (
      SELECT CASE WHEN COUNT(*) <> COUNT(DISTINCT doc_id)
                  THEN CAST(error('duplicate doc_id in documents: fuzzy decontamination requires unique ids') AS BIGINT)
                  ELSE 1 END AS ok
      FROM documents
    ),
    bench AS (
      -- the uq guard rides the bench slice because bench is ALWAYS built
      -- (inter's IN/NOT IN sides), so the assert fires even when the pair
      -- table would come out empty; conjuncts evaluate eagerly in DuckDB
      SELECT doc_id FROM documents
      WHERE {duck_held_out()} AND (SELECT ok FROM uq) = 1
    ),
    inter AS (
      SELECT a.doc_id AS tid, b.doc_id AS bid, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle
      WHERE a.doc_id NOT IN (SELECT doc_id FROM bench)
        AND b.doc_id IN (SELECT doc_id FROM bench)
      GROUP BY 1, 2
    ),
    p AS (
      SELECT tid, bid,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.tid = sa.doc_id
      JOIN sizes sb ON inter.bid = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_FUZZ_T}
    )"""


def _fuzzy_decon_oracle() -> str:
    """Per-doc rollup over the shared pair table (already thresholded on
    the unrounded ratio inside ``p``; the shared ``uq`` uniqueness guard
    rides the ``bench`` CTE). The oracle is exact all-pairs
    (the minhash_near_dups precedent: LSH recall at this threshold is
    overwhelmingly-probably 1, so the verified LSH output must equal the
    exact answer — a silent recall loss IS a red row)."""
    return f"""
    WITH {_fuzz_pair_ctes()}
    SELECT tid AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
           MAX(jaccard) AS max_jaccard
    FROM p GROUP BY tid ORDER BY doc_id
    """


@register("fuzzy_decontaminate_minhash", oracle=_fuzzy_decon_oracle())
def q_fuzzy_decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — FUZZY decontamination, the GPT-3 appendix-C method the
    contamination family lacked: a training document is contaminated if
    it is a NEAR-duplicate (3-gram shingle Jaccard ≥ {_FUZZ_T}) of any
    benchmark document — catching paraphrase-level leakage the exact
    13-gram flag misses and the semantic arm only scores. Same eval
    slice as every contamination entry (the shared md5 bench predicate);
    emits one row per contaminated train doc: (doc_id, n_bench_matches,
    max_jaccard) — the drop list plus the evidence strength.

    Pipeline: MinHash band buckets on BOTH slices (the shared
    lsh_band_frame — one banding definition with the near-dup self-join),
    cross-corpus candidates = train×bench pairs sharing a (band_idx,
    band_hash) bucket (an equi-join, never train×bench all-pairs), exact
    Jaccard verify on the candidates, per-doc aggregate. The oracle is
    EXACT all-pairs cross-Jaccard — it matches iff LSH recall is 100% on
    this corpus (miss prob ~3e-12 per qualifying pair at 16 bands × 2
    rows), the minhash_near_dups contract extended across the corpus
    boundary.

    Plan at 100 TB: the bench side is eval-suite-sized — its band table
    broadcasts; candidates are bucket collisions only, then one
    shingle-array verify join and a per-doc hash aggregate. The xxhash64
    banding is engine-internal but only generates CANDIDATES; the
    answer's every value comes from the exact verify, which is why the
    entry is fully value-hash-checkable.
    """
    from ..operators.dedup import lsh_band_frame

    docs = load(spark, sf_dir, "documents")
    assert_unique_doc_ids(docs, "fuzzy_decontaminate_minhash")
    train = docs.filter(~spark_held_out())
    bench = docs.filter(spark_held_out())
    cand = (
        lsh_band_frame(train, "doc_id", "text")
        .withColumnRenamed("doc_id", "__tid")
        .join(
            F.broadcast(
                lsh_band_frame(bench, "doc_id", "text").withColumnRenamed(
                    "doc_id", "__bid"
                )
            ),
            ["band_idx", "band_hash"],
        )
        .select("__tid", "__bid")
        .distinct()
    )
    tsh = train.select(
        F.col("doc_id").alias("__tid"), TX.shingles(F.col("text")).alias("__ts")
    )
    bsh = bench.select(
        F.col("doc_id").alias("__bid"), TX.shingles(F.col("text")).alias("__bs")
    )
    jac = F.size(F.array_intersect(F.col("__ts"), F.col("__bs"))) / F.size(
        F.array_union(F.col("__ts"), F.col("__bs"))
    )
    return (
        cand.join(tsh, "__tid")
        .join(F.broadcast(bsh), "__bid")
        .filter(jac >= _FUZZ_T)  # UNROUNDED compare — the shared p CTE's rule
        .select("__tid", "__bid", F.round(jac, 4).alias("__j"))
        .groupBy(F.col("__tid").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_matches"),
            F.max("__j").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# community_capped_select — cluster-balanced curation over the communities

_CAP_K = 4  # docs kept per community


def _cap_oracle() -> str:
    """Composes the SHARED LPA trajectory (`_lpa_cte_chain` — the
    identical clustering the registered community entry checks) with the
    SHARED CCNet scoring CTE (no CTE-name overlap between the chains,
    verified at authoring) and a per-community top-{_CAP_K} window."""

    return f"""
    {_lpa_cte_chain()},
    {_CCNET_CTES},
    keepers AS (
      SELECT l.lab AS community, l.node AS doc_id, sc.s AS unigram_nlp,
             ROW_NUMBER() OVER (PARTITION BY l.lab
                                ORDER BY sc.s, l.node) AS rk
      FROM lp{_LPA_ROUNDS} l JOIN sc ON sc.doc_id = l.node
    )
    SELECT community, CAST(rk AS INT) AS rank_in_community,
           doc_id, unigram_nlp
    FROM keepers WHERE rk <= {_CAP_K}
    ORDER BY community, doc_id
    """


@register("community_capped_select", oracle=_cap_oracle())
def q_community_capped_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 × X4 — community-CAPPED selection: keep the
    {_CAP_K} highest-quality documents per LPA community (lowest shared
    CCNet unigram-NLP score = CCNet's "head"; ties → lowest doc_id) —
    cluster-balanced curation, the DataComp/SemDeDup-style move that
    stops one giant topic island from dominating the kept set while
    still keeping its best exemplars. Emits (community,
    rank_in_community, doc_id, unigram_nlp) for the kept rows.

    Pure composition of two audited shared definitions: the LPA label
    frame (`lpa_labels_durable` / `_lpa_cte_chain` — the clustering the
    community entry hash-checks, served from its VersionedMart commit)
    and the CCNet scorer (`ccnet_bucketed` — the score four
    other entries share). doc_id ≡ vec_id by the fixture contract (the
    SemDeDup/semantic-decontamination precedent).

    Plan at 100 TB: the LPA cost is paid ONCE per corpus (committed
    table, the durable-graph posture); the cap itself is ONE
    per-community top-{_CAP_K} window — grouped top-k partitioned on the
    community key, never a global sort — plus one equi-join.
    """
    from pyspark.sql import Window


    lp = lpa_labels_durable(spark, sf_dir)
    scored = ccnet_bucketed(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "unigram_nlp"
    )
    w = Window.partitionBy("lab").orderBy("unigram_nlp", "node")
    return (
        lp.join(scored, "node")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CAP_K)
        .select(
            F.col("lab").alias("community"),
            F.col("rk").alias("rank_in_community"),
            F.col("node").alias("doc_id"),
            "unigram_nlp",
        )
        .orderBy("community", "doc_id")
    )


# ---------------------------------------------------------------------------
# filter_ablation_matrix — which quality rules reject the same documents?


def _ablation_oracle() -> str:
    """Replays the SHARED Gopher metric + rule texts (gopher_quality_flags'
    `_GOPHER_M_CTES` / `_GOPHER_RULES_SQL` — one rule set, two consumers)
    and counts per-pair co-rejections over a literal rule grid so the
    output shape is fixed (every pair present, zero-filled)."""

    fails = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS rule FROM m WHERE NOT ({pred})"
        for name, pred in sorted(_GOPHER_RULES_SQL.items())
    )
    names = sorted(_GOPHER_RULES_SQL)
    grid = ", ".join(
        f"('{a}', '{b}')" for a in names for b in names if a <= b
    )
    return f"""
    WITH {_GOPHER_M_CTES},
    ff AS ({fails}),
    co AS (
      SELECT a.rule AS rule_a, b.rule AS rule_b, COUNT(*) AS c
      FROM ff a JOIN ff b ON a.doc_id = b.doc_id AND a.rule <= b.rule
      GROUP BY 1, 2
    )
    SELECT g.rule_a, g.rule_b,
           CAST(COALESCE(co.c, 0) AS BIGINT) AS n_both_fail
    FROM (VALUES {grid}) g(rule_a, rule_b)
    LEFT JOIN co ON co.rule_a = g.rule_a AND co.rule_b = g.rule_b
    ORDER BY g.rule_a, g.rule_b
    """


@register("filter_ablation_matrix", oracle=_ablation_oracle())
def q_filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — the quality-filter ABLATION matrix: for every
    unordered pair of Gopher rules, how many documents BOTH reject
    (diagonal = each rule's total rejections) — the redundancy audit a
    filter designer reads before adding or dropping a rule (the
    FineWeb-style ablation discipline: a rule whose rejections are a
    subset of another's adds latency, not quality). Fixed 10-row shape
    (4 rules → 10 unordered pairs incl. diagonal), zero-filled from a
    literal rule grid so absent overlaps are visible as 0, not missing.

    Shared-definition discipline: the metrics AND the thresholds are the
    factored `gopher_metric_frame` / `gopher_rule_cols` texts the flags
    entry consumes — the ablation provably audits the registered filter,
    not a restatement of it.

    Plan at 100 TB: the metric pass is the flags entry's map-only scan;
    rejections explode to ≤|rules| rows per doc, the self-join is on
    doc_id with ≤|rules|² fan-out per doc (bounded by the rule count,
    not the corpus), then one model-sized hash agg — output is
    |rules|²-sized regardless of corpus.
    """

    m = gopher_metric_frame(load(spark, sf_dir, "documents"))
    rules = gopher_rule_cols()
    names = sorted(rules)
    # per-doc failed-rule array (in sorted-name order), pairs emitted
    # IN-ROW (each rule with every later-or-equal rule) — one corpus
    # scan, no self-join (a join shape would evaluate the metric pass
    # twice)
    arr = F.filter(
        F.array(
            *[F.when(~rules[n], F.lit(n)).otherwise(F.lit(None)) for n in names]
        ),
        lambda x: x.isNotNull(),
    )
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 1, F.size(arr)),
                lambda y: F.struct(x.alias("rule_a"), y.alias("rule_b")),
            ),
        )
    )
    co = (
        m.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.rule_a").alias("rule_a"), F.col("p.rule_b").alias("rule_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = spark.createDataFrame(
        [(x, y) for x in names for y in names if x <= y], "rule_a string, rule_b string"
    )
    # no broadcast hint: Spark cannot build-left a left-outer join — it
    # would warn and drop the hint; both sides are |rules|²-row model
    # tables anyway.
    return (
        grid.join(co, ["rule_a", "rule_b"], "left")
        .select(
            "rule_a",
            "rule_b",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_both_fail"),
        )
        .orderBy("rule_a", "rule_b")
    )

#: funnel stage names, in survival-level order — ONE list consumed by both
#: the oracle generator and the Spark arm so a rename/insertion cannot
#: drift between engines
_FUNNEL_STAGES = [
    "raw",
    "gopher",
    "classifier",
    "exact_dedup",
    "decontaminated",
    "fuzzy_decontaminated",
    "community_capped",
    "coverage_core",
]


def _funnel_oracle() -> str:
    """The funnel oracle: the Gopher metric and rule texts, the feature bag,
    the linear weight sum and the held-out gram set are the shared
    fragments, and the last three stages embed the REGISTERED oracle texts
    (REGISTRY lookup; the three entries are registered earlier in this
    module, so the lookups resolve). Those three are MATERIALIZED: inlined,
    DuckDB planned them into the level join, and the oracle took about 4x
    as long at sf0.1."""
    fz = REGISTRY["fuzzy_decontaminate_minhash"].oracle
    ck = REGISTRY["community_capped_select"].oracle
    cr = REGISTRY["greedy_gram_coverage_select"].oracle
    stages = _FUNNEL_STAGES
    rows = "\n      UNION ALL ".join(
        f"""SELECT {i}, '{n}',
             CAST(COUNT(*) FILTER (WHERE lv >= {i}) AS BIGINT),
             CAST(COALESCE(SUM(ntok) FILTER (WHERE lv >= {i}), 0) AS BIGINT) FROM lvl"""
        for i, n in enumerate(stages[1:], start=1)
    )
    return f"""
    WITH {_GOPHER_M_CTES},
    g AS (SELECT doc_id, n_words AS ntok, {_GOPHER_PASS_SQL} AS gp
          FROM m WHERE NOT ({duck_held_out()})),
    clf AS (SELECT doc_id, {_DUCK_LINEAR_WSUM} >= 0 AS cp
            FROM (SELECT doc_id, {DUCK_WORD_FEATURES} AS feats FROM toks
                  WHERE NOT ({duck_held_out()}))),
    fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    surv2 AS (SELECT g.doc_id, fp.fp
              FROM g JOIN clf USING (doc_id) JOIN fp USING (doc_id)
              WHERE g.gp AND clf.cp),
    first AS (SELECT MIN(doc_id) AS doc_id FROM surv2 GROUP BY fp),
    {DUCK_HELD_OUT_GRAMS},
    cont AS (SELECT DISTINCT doc_id FROM grams{DECON_N}
             WHERE g IN (SELECT g FROM bench)),
    fz AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({fz})),
    ck AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({ck})),
    cr AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({cr})),
    lvl AS (
      SELECT g.doc_id, g.ntok,
             CASE WHEN NOT g.gp THEN 0
                  WHEN NOT clf.cp THEN 1
                  WHEN f.doc_id IS NULL THEN 2
                  WHEN c.doc_id IS NOT NULL THEN 3
                  WHEN z.doc_id IS NOT NULL THEN 4
                  WHEN k.doc_id IS NULL THEN 5
                  WHEN r.doc_id IS NULL THEN 6
                  ELSE 7 END AS lv
      FROM g JOIN clf USING (doc_id)
      LEFT JOIN first f ON g.doc_id = f.doc_id
      LEFT JOIN cont c ON g.doc_id = c.doc_id
      LEFT JOIN fz z ON g.doc_id = z.doc_id
      LEFT JOIN ck k ON g.doc_id = k.doc_id
      LEFT JOIN cr r ON g.doc_id = r.doc_id
    )
    SELECT stage_idx, stage, n_docs, n_tokens FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage,
             CAST(COUNT(*) FILTER (WHERE lv >= 0) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(ntok) FILTER (WHERE lv >= 0), 0) AS BIGINT) AS n_tokens
      FROM lvl
      UNION ALL {rows}
    ) ORDER BY stage_idx
    """


@register("curation_funnel_report", oracle=_funnel_oracle())
def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — the curation-funnel audit table:
    per-stage surviving document and token counts through raw → Gopher
    rules → model-based classifier → exact dedup (keep-first among
    survivors) → benchmark decontamination → FUZZY decontamination →
    community cap → coverage core. Every corpus release publishes this
    table (it is how filter regressions and over-aggressive rules get
    caught); here it is ONE query composing seven already-oracled
    operator families over the non-benchmark corpus side.

    The last three stages intersect the funnel survivors with the
    REGISTERED frames (REGISTRY callables — no restatement): documents
    fuzzy-matched to the benchmark drop out at stage 5; stage 6 keeps
    survivors inside ``community_capped_select``'s per-community top-K;
    stage 7 keeps the ``greedy_gram_coverage_select`` picks — the final
    row reads "of the diverse core, this much survives the whole
    funnel". Construction runs the composed entries' own jobs (the
    registry LAZINESS contract: greedy's driver-walked rounds, the
    fuzzy probe).

    Plan at 100 TB: the Gopher/classifier gates are map-only
    expressions; dedup adds one fingerprint hash agg over stage-2
    survivors; decontamination adds the distinct-ref-gram semi-join
    (benchmark side broadcasts); the last three stages join against a
    drop list bounded by the eval suite, a keeper set bounded by
    |communities|·K, and a pick set of 5 — all broadcast-sized. The
    funnel itself is ONE aggregate over the per-doc survival level —
    eight FILTERed sums, no per-stage rescans — and the eight report
    rows explode from that single row.
    """

    docs_all = load(spark, sf_dir, "documents")
    docs = docs_all.filter(~spark_held_out()).select(
        "doc_id",
        "text",
        (_linear_wsum(TX.word_features("text")) >= 0).alias("cp"),
        F.md5("text").alias("fp"),
    )
    # Two consumers read `base` (the dedup groupBy and the final level
    # join); without a materialization point Spark re-runs the whole
    # Gopher + classifier expression tree — the funnel's dominant cost —
    # once per consumer. tracked_persist keeps it one scan; the harness's
    # materialized_scope releases it after the action.
    base = tracked_persist(
        gopher_metric_frame(docs).select(
            "doc_id",
            F.col("n_words").alias("ntok"),
            gopher_pass().alias("gp"),
            "cp",
            "fp",
        )
    )
    first = (
        base.filter(F.col("gp") & F.col("cp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("isfirst"))
    )
    bench = TX.held_out_grams(docs_all).select("g").distinct()
    cont = (
        _train_grams(docs_all)
        .join(bench, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("contam"))
    )
    # the three REGISTERED frames — one definition per rule on each
    # engine (the oracle embeds the same entries' SQL); all three are
    # broadcast-sized (eval-suite drop list / |communities|·K keepers /
    # 5 picks)
    fuzzy_drop = (
        REGISTRY["fuzzy_decontaminate_minhash"]
        .fn(spark, sf_dir)
        .select("doc_id", F.lit(True).alias("fz"))
    )
    cap_keep = (
        REGISTRY["community_capped_select"]
        .fn(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("ck"))
    )
    core_pick = (
        REGISTRY["greedy_gram_coverage_select"]
        .fn(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("cr"))
    )
    lv = (
        F.when(~F.col("gp"), 0)
        .when(~F.col("cp"), 1)
        .when(F.col("isfirst").isNull(), 2)
        .when(F.col("contam").isNotNull(), 3)
        .when(F.col("fz").isNotNull(), 4)
        .when(F.col("ck").isNull(), 5)
        .when(F.col("cr").isNull(), 6)
        .otherwise(7)
    )
    lvl = (
        base.join(first, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .join(F.broadcast(fuzzy_drop), "doc_id", "left")
        .join(F.broadcast(cap_keep), "doc_id", "left")
        .join(F.broadcast(core_pick), "doc_id", "left")
        .select("doc_id", "ntok", lv.alias("lv"))
    )
    n_stages = len(_FUNNEL_STAGES)
    stats = lvl.agg(
        *[
            F.sum((F.col("lv") >= i).cast("long")).alias(f"d{i}")
            for i in range(n_stages)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("lv") >= i, F.col("ntok")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"t{i}")
            for i in range(n_stages)
        ],
    )
    names = _FUNNEL_STAGES
    return (
        stats.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("stage_idx"),
                            F.lit(n).alias("stage"),
                            F.col(f"d{i}").alias("n_docs"),
                            F.col(f"t{i}").alias("n_tokens"),
                        )
                        for i, n in enumerate(names)
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# gram_novelty_scores — per-document corpus-uniqueness readout


def _novelty_oracle() -> str:
    """One gram-df aggregate over the SHARED coverage gram table
    (_DG_CTES — the trainer's own definition) and a per-doc
    rollup; the ratio is 10000-scaled integer floor division so both
    engines emit identical BIGINTs."""

    return f"""
    WITH {_DG_CTES},
    df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM dg GROUP BY g)
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE df.c = 1) AS BIGINT) AS n_unique,
           CAST(COUNT(*) FILTER (WHERE df.c = 1) * 10000
                // COUNT(*) AS BIGINT) AS novelty_bp
    FROM dg JOIN df USING (g)
    GROUP BY dg.doc_id
    ORDER BY doc_id
    """


@register("gram_novelty_scores", oracle=_novelty_oracle())
def q_gram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — per-document GRAM NOVELTY: of a document's distinct
    13-token grams, the share that appear NOWHERE else in the corpus
    (document frequency 1), as exact basis points. The per-document
    inverse of the coverage/dedup families: coverage selection maximizes
    new grams across picks, the dedup funnels remove low-novelty PAIRS —
    this scores every document individually, the memorization-risk /
    near-duplication readout a curation run ranks by (a 0-novelty
    document is entirely reconstructible from the rest of the corpus;
    Lee et al. 2022's motivation at document grain). Emits (doc_id,
    n_grams, n_unique, novelty_bp) for every document with >= 1 gram.

    Shared-definition discipline: the gram table IS the coverage
    trainer's (`_dg_frame` / `_DG_CTES` — one definition per engine), so
    this readout and the greedy selection can never disagree about what
    a gram is.

    Plan at 100 TB: one (doc, gram) distinct table (the trainer's own
    build), one gram-keyed hash agg for df, one equi-join back, one
    per-doc hash agg — all map-side-combinable, nothing quadratic,
    output corpus-sized. The 10000-scaled floor division keeps the
    ratio integer-exact on both engines (the epochs_bp/score_x1e12
    precedent).
    """

    dg = tracked_persist(_dg_frame(load(spark, sf_dir, "documents")))
    df_ = dg.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        dg.join(df_, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.expr("n_unique * 10000 DIV n_grams").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )
