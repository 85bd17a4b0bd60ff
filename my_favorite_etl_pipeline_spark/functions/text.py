"""Text-analysis building blocks ([EXT] X4, SURVEY.md §2.9).

Everything is built from native column expressions (split/higher-order
functions/regex) — no Python UDFs — so the operators stay inside Catalyst
codegen and scale linearly with the corpus. Driver mandate: language-ID,
quality scoring, token counting, document fingerprinting for an LLM
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprs import let

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Real pipelines plug in fastText/CLD3 via a Pandas UDF; the
# heuristic keeps the operator UDF-free and oracle-checkable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "des", "une"),
    "zh": ("de5", "shi4", "le5", "zai4"),
}

STOPWORDS: tuple[str, ...] = ("a", "the", "and", "of", "to", "in")

# BPE-ish word/number/punctuation splitter: runs of letters, runs of digits,
# or single non-space symbols — a cheap stand-in for a real tokenizer's
# pre-tokenization regex.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the corpus is space-separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_tokens(col: Column | str) -> Column:
    """Regex pre-tokenization — ``regexp_extract_all`` stays JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def ngrams(col: Column | str, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity — the unit for repetition metrics
    (duplicate-gram fractions need occurrence counts, so no dedup here).

    Built with sequence+transform over the token array: one pass, no
    explode, no shuffle; the array stays inside the row. The token array is
    let-bound (see functions.exprs) so the per-gram element_at lookups share
    one split() evaluation.
    """
    return let(
        tokens(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit."""
    return F.array_distinct(ngrams(col, n))


#: Gram width of benchmark decontamination (the GPT-3 / Llama 13-gram rule).
DECON_N = 13


def positional_grams(docs: DataFrame, n: int = DECON_N) -> DataFrame:
    """``(doc_id, pos, g)``: every word n-gram of ``docs(doc_id, text)`` at
    its 0-based start position, with multiplicity; documents shorter than
    ``n`` tokens emit no row. Map-only, so it serves batch and streaming
    frames alike. Consumers that need each document's distinct grams take
    ``distinct()`` of it or aggregate with set semantics."""
    return docs.select("doc_id", F.posexplode(ngrams("text", n)).alias("pos", "g"))


def held_out_grams(docs: DataFrame) -> DataFrame:
    """The held-out benchmark's grams: :func:`positional_grams` over the
    :func:`spark_held_out` slice of ``docs``."""
    return positional_grams(docs.filter(spark_held_out()))


def duck_grams(n: int = DECON_N) -> str:
    """DuckDB twin of :func:`positional_grams`: CTE text defining
    ``grams{n}(doc_id, pos, g)`` over ``documents``. Callers select the
    held-out side with :func:`duck_held_out` on ``doc_id``."""
    return f"""grams{n} AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1:pos + {n}], ' ') AS g
      FROM (SELECT doc_id, t, UNNEST(range(len(t) - {n - 1})) AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE len(t) >= {n})
    )"""


def word_features(col: Column | str) -> Column:
    """The hashed classifiers' feature bag: the tokens, then every adjacent
    bigram joined by ``_`` (multiplicity kept). Shared by the linear and
    gradient-descent quality classifiers, DSIR and the curation funnel.
    The token array is let-bound (see functions.exprs): the bigram lambda
    reads it twice per position, and an unbound ``split`` there would be
    evaluated again for every lookup — O(n²) per document."""
    return let(
        tokens(col),
        lambda toks: F.concat(
            toks,
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.concat(F.get(toks, i), F.lit("_"), F.get(toks, i + 1)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )


# DuckDB twin of ``word_features`` over a token list ``t``.
DUCK_WORD_FEATURES = """list_concat(t, CASE WHEN len(t) >= 2
               THEN list_transform(range(len(t) - 1), i -> t[i+1] || '_' || t[i+2])
               ELSE [] END)"""


# DuckDB twin of ``shingles(text, 3)``: the CTE pair ``toks``/``sh`` with
# one row per document and its distinct 3-gram list ``s``. Oracles embed it
# with an f-string at import time, so each oracle stays one self-contained
# SQL string.
DUCK_SHINGLES = """
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


def duck_jaccard_pairs(threshold: float) -> str:
    """DuckDB twin of ``operators.dedup.near_dup_pairs``: CTE text, after
    :data:`DUCK_SHINGLES`, ending in ``jp(id_a, id_b, j)`` — every document
    pair ``id_a < id_b`` whose UNROUNDED shingle Jaccard ``j`` is at least
    ``threshold`` (callers that return it round it to 4 places).

    Exact all-pairs by an inverted-index equi-join, not the O(n²)
    inequality join (a single-threaded nested loop in DuckDB): a pair with
    j > 0 shares a shingle, so joining the (doc, shingle) postings on the
    shingle counts |A∩B| for every such pair, and |A∪B| = |A| + |B| − |A∩B|.
    The CTE is ``jp``, not ``p``: the PageRank prefix already binds ``p``.
    """
    return f"""
    {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b, j FROM (
        SELECT inter.id_a, inter.id_b,
               CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
        FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id)
      WHERE j >= {threshold}
    )"""


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def distinct_token_ratio(col: Column | str) -> Column:
    """Lexical diversity: distinct/total tokens — low values flag boilerplate."""
    toks = tokens(col)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-hit count per candidate language (the n-gram LID heuristic)."""
    toks = tokens(col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # order matters: URLs before emails (URLs may embed @); simple RE2-safe
    # character classes so the DuckDB oracle applies the identical regex
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9() -]{7,}[0-9]", "<PHONE>"),
)


def scrub_pii(col: Column | str) -> Column:
    """Training-data PII redaction: URLs, emails, phone-shaped numbers →
    typed placeholder tokens. A chain of native regexp_replace — codegen'd,
    no UDF; real pipelines extend PII_PATTERNS, the dataflow is identical."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 is bit-identical across engines (unlike xxhash/murmur), which keeps
    the dedup-by-fingerprint operator oracle-checkable end to end.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(c)))


# The held-out eval slice: ids whose md5 starts with hex '0', a stable
# pseudo-random ~1/16 of the corpus. md5 is bit-identical in every engine,
# so both halves select the same rows. documents.doc_id and embeddings.vec_id
# share one id space, so text and vector passes audit the same slice.
def spark_held_out(id_col: str = "doc_id") -> Column:
    """True for rows of the held-out eval slice."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 1) == "0"


def duck_held_out(id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`spark_held_out` as a SQL predicate."""
    return f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 1) = '0'"


# DuckDB twin of ``held_out_grams`` as the distinct gram set: CTE text
# defining ``grams13`` and ``bench(g)``.
DUCK_HELD_OUT_GRAMS = f"""{duck_grams()},
    bench AS (SELECT DISTINCT g FROM grams{DECON_N} WHERE {duck_held_out()})"""
