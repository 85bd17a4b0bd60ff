"""Tokenizer plans: term statistics, subword vocabularies and chunking.

- term statistics: top-50 term frequencies, mergeable frequent-term
  sketches and BPE-ish pre-token counts;
- trainable vocabularies: BPE merges, WordPiece merges and a unigram LM
  (EM with Viterbi segmentation), plus encode-time fertility per
  language;
- fixed-size document chunking.

Each training loop is unrolled into a fixed number of rounds on both
engines, so the learned vocabulary is oracle-checked merge by merge.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..registry import register
from ..sources.tables import load


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


# ---------------------------------------------------------------------------
# tokenizer_fertility_by_lang


@register(
    "tokenizer_fertility_by_lang",
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
             AS bpe_tokens,
           (CAST(SUM(LENGTH(text)) AS BIGINT) * 10000
              // CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT)) / 10000.0
             AS ws_fertility,
           (CAST(SUM(LENGTH(text)) AS BIGINT) * 10000
              // CAST(SUM(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)) / 10000.0
             AS bpe_fertility
    FROM documents GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — tokenizer-fertility audit: chars-per-token by language for the
    whitespace and BPE-ish tokenizers (the multilingual-budget table every
    tokenizer change re-publishes: high-fertility languages pay more
    sequence length per character).

    Plan at 100 TB: pure map + ONE lang-keyed hash aggregate of integer
    sums; tokenization counts stay in-row (size over split /
    regexp_extract_all, whole-stage codegen — same JVM-side discipline as
    bpe_ish_token_counts). Fertility ratios are fixed-point int·10⁴ DIV.
    """
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(TX.token_count("text")).alias("ws_tokens"),
        F.sum(F.size(TX.bpe_ish_tokens("text"))).alias("bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        "ws_tokens",
        "bpe_tokens",
        (F.expr("total_chars * 10000 DIV ws_tokens") / F.lit(10000.0)).alias("ws_fertility"),
        (F.expr("total_chars * 10000 DIV bpe_tokens") / F.lit(10000.0)).alias("bpe_fertility"),
    )


# ---------------------------------------------------------------------------
# bpe_train_merges — distributed BPE tokenizer training

_BPE_ROUNDS = 10


# Symbol sequences ride ONE string per word with DOUBLE-space separators:
# "  h  i  </w>  ". A merge of (a, b) is then the literal (non-regex)
# replacement ' a  b ' -> ' ab ': each match consumes ONE space from each
# boundary, leaving one for the neighbor, so immediately-adjacent
# occurrences ("a b a b", and runs "o o o o" for a==b) still match —
# left-to-right non-overlapping scanning on both engines reproduces
# exactly the classic greedy BPE merge pass. (A single-space encoding
# breaks here: the first match eats the boundary space the second needs.)


def _px_cte(r: int) -> str:
    """Adjacent symbol-pair positions of round ``r`` over ``w{r-1}`` —
    the round plumbing SHARED by the count-scored (BPE) and
    likelihood-scored (WordPiece) trainers."""
    return f"""px{r} AS (
      SELECT t, cnt, UNNEST(range(len(t) - 1)) AS i
      FROM (SELECT string_split(trim(seq), '  ') AS t, cnt FROM w{r - 1})
    )"""


def _merge_w_cte(r: int) -> str:
    """Apply round ``r``'s winning merge (``best{r}``) into ``w{r}`` via
    the double-space literal REPLACE (module comment) — the OTHER shared
    half of the round plumbing. ``word`` rides along untouched so the
    encode oracle can map words to their final segmentations."""
    return f"""w{r} AS MATERIALIZED (
      SELECT w.word, REPLACE(w.seq, ' ' || b.a || '  ' || b.b || ' ',
                                    ' ' || b.a || b.b || ' ') AS seq, w.cnt
      FROM w{r - 1} w CROSS JOIN best{r} b
    )"""


def _bpe_round_cte(r: int) -> str:
    """One BPE round: shared pair plumbing + the COUNT argmax (the one
    CTE where the two trainers differ) + the shared merge pass."""
    return f""",
    {_px_cte(r)},
    best{r} AS MATERIALIZED (
      SELECT a, b, CAST(c AS BIGINT) AS c FROM (
        SELECT t[i + 1] AS a, t[i + 2] AS b, SUM(cnt) AS c
        FROM px{r} GROUP BY 1, 2
      ) ORDER BY c DESC, a, b LIMIT 1
    ),
    {_merge_w_cte(r)}"""

#: Word-frequency vocab + char-level init — the shared opening of EVERY
#: merge-based tokenizer trainer (BPE here; the WordPiece-scored twin in
#: WordPiece consumes the same text, so the two trainers provably start
#: from the identical symbol table).
_BPE_INIT_CTES = """
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT word, '  ' || array_to_string(
               list_transform(range(length(word)),
                              i -> substr(word, CAST(i + 1 AS INT), 1)),
               '  ') || '  </w>  ' AS seq, cnt
      FROM wc
    )"""


def _bpe_cte_prefix() -> str:
    """Shared oracle prefix through ``w{_BPE_ROUNDS}`` — word-frequency
    vocab, char-level init, and all training rounds. Consumed by the
    trainer oracle (merge-table selection) AND the encode oracle (word →
    segmentation map), so the tokenizer that encodes is provably the
    tokenizer that was trained (the _knn_refined_cte precedent)."""
    rounds = "".join(_bpe_round_cte(r) for r in range(1, _BPE_ROUNDS + 1))
    return f"{_BPE_INIT_CTES}{rounds}"


def _bpe_oracle() -> str:
    final = " UNION ALL ".join(
        f"SELECT {r} AS r, a, b, c FROM best{r}" for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    {_bpe_cte_prefix()}
    SELECT CAST(r AS INT) AS merge_rank, a AS lhs, b AS rhs, c AS pair_count
    FROM ({final}) ORDER BY merge_rank
    """


@register("bpe_train_merges", oracle=_bpe_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r9) — distributed BPE tokenizer TRAINING (Sennrich et al.
    2016): learn the first {_BPE_ROUNDS} merge rules from the corpus. The
    engine so far tokenizes with a fixed regex (`bpe_ish_tokens`) and
    audits fertility; this operator closes the loop — it trains the merge
    table a real tokenizer would ship. Each round counts adjacent symbol
    pairs (weighted by word frequency), picks the argmax by (count DESC,
    lhs, rhs), and applies the merge; output is the ranked merge table
    with the pair count at selection time.

    Plan at 100 TB: the ONLY corpus-sized pass is the word-frequency hash
    aggregate (map-side combine absorbs the token explode) — exactly how
    production BPE trainers (subword-nmt, HuggingFace) scale: training
    runs on the (word, count) VOCAB table, corpus-size-independent. Each
    round is one vocab-sized pair-count hash agg + a 1-row TakeOrdered
    collect (parameter-sized, the k-centroids precedent) + a map-only
    literal string replace; round count is a constant. The double-space
    merge encoding (module comment) makes the merge a literal REPLACE on
    both engines, so the oracle replays every round as generated
    MATERIALIZED CTEs (the NN-Descent/Lloyd precedent) and the driver
    hash-checks the full training trajectory, not just the final table.
    Determinism: integer pair counts, binary-collation (count, lhs, rhs)
    tie-break — both engines select identical merges every round.
    """
    merges, _ = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_init_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted ``(word, seq, cnt)`` char-level init vocab — the
    Spark twin of ``_BPE_INIT_CTES``, shared by the BPE trainer and the
    WordPiece-scored trainer so both start from the identical
    symbol table."""
    from ..caching import tracked_persist

    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(TX.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.col("word").substr(i + 1, F.lit(1)),
    )
    return tracked_persist(
        wc.select(
            "word",
            F.concat(F.lit("  "), F.array_join(chars, "  "), F.lit("  </w>  ")).alias(
                "seq"
            ),
            "cnt",
        )
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the {_BPE_ROUNDS}-round BPE training loop; return the learned
    ``(rank, lhs, rhs, count)`` merge table AND the final vocab frame
    ``(word, seq, cnt)`` with every merge applied — the word →
    segmentation map the encode pass joins against (production tokenizers
    memoize exactly this table)."""
    cur = bpe_init_vocab(spark, sf_dir)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, _BPE_ROUNDS + 1):
        best = (
            symbol_pair_counts(cur)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()[0]
        )
        merges.append((r, best.a, best.b, int(best.c)))
        cur = apply_merge(cur, best.a, best.b)
    return merges, cur


def symbol_pair_counts(cur: DataFrame) -> DataFrame:
    """Weighted adjacent symbol-pair counts ``(a, b, c)`` over the vocab
    frame — the Spark twin of ``_px_cte`` + its pair aggregate, shared by
    the BPE and WordPiece trainers."""
    toks = F.split(F.trim(F.col("seq")), "  ")
    return (
        cur.select(
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.struct(
                            F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("c"))
    )


def apply_merge(cur: DataFrame, a: str, b: str) -> DataFrame:
    """The double-space literal-REPLACE merge pass — the Spark twin of
    ``_merge_w_cte``, shared by both trainers."""
    return cur.withColumn(
        "seq",
        F.replace(F.col("seq"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")),
    )


@register(
    "bpe_encode_fertility",
    oracle=f"""
    {_bpe_cte_prefix()},
    enc AS (
      SELECT word, len(string_split(trim(seq), '  ')) AS nt
      FROM w{_BPE_ROUNDS}
    ),
    inst AS (
      SELECT lang, word FROM (
        SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST((SUM(nt) * 10000) // COUNT(*) AS BIGINT) AS fert_x10000
    FROM inst JOIN enc USING (word)
    GROUP BY lang ORDER BY lang
    """,
)
def q_bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r9) — BPE ENCODE, the serving half of `bpe_train_merges`:
    apply the trained merge table to the corpus and report per-language
    fertility (trained-BPE tokens per word, ×10⁴ fixed-point; token
    counts INCLUDE the `</w>` marker). Where `tokenizer_fertility_by_lang`
    audits two FIXED tokenizers, this audits the tokenizer the engine
    itself just trained — train and encode share one merge table by
    construction (Spark: same `_bpe_learn` frame; oracle: same generated
    CTE prefix).

    Plan at 100 TB: encoding does NOT re-segment every token instance —
    the merge chain applies once to the (word, count) VOCAB table (the
    segmentation-memo trick real tokenizers use), and the corpus-sized
    side is one (lang, word) hash agg joined against that broadcastable
    word → token-count map. Integer counts and int·10⁴ DIV fertility —
    no float anywhere, both engines agree exactly.
    """
    _, vocab = _bpe_learn(spark, sf_dir)
    enc = vocab.select(
        "word", F.size(F.split(F.trim(F.col("seq")), "  ")).alias("nt")
    )
    docs = load(spark, sf_dir, "documents")
    inst = (
        docs.select("lang", F.explode(TX.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        inst.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("CAST((n_tokens * 10000) DIV n_words AS BIGINT)").alias(
                "fert_x10000"
            ),
        )
        .orderBy("lang")
    )

_ULM_MAXW = 12  # vocab word-length cap (documented filter; fixture max is 8)

_ULM_MAXP = 4  # max piece length (seed substrings)

_ULM_SEED_TOP = 120  # seed inventory: top pieces by corpus frequency

_ULM_ROUNDS = 2  # hard-EM rounds (probe: fixed after round 1 on the fixture)

_ULM_FIX = 1_000_000  # fixed-point micro-units for log-probs


def _round_half_away(x: float) -> int:
    """Half-away-from-zero rounding — matches Spark ``ROUND``/DuckDB
    ``ROUND`` exactly; Python's built-in ``round`` is banker's and would
    diverge at exact halves."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# oracle CTE generators (the bpe_train_merges pattern: every EM round replays
# as generated MATERIALIZED CTEs, so the driver hash-checks the trajectory)


def _ulm_seed_cte() -> str:
    """Vocab + substring seed + initial model ``m0(piece, c, lp)``."""
    return f"""
    WITH wc AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' AND length(word) <= {_ULM_MAXW} GROUP BY word
    ),
    subs AS (
      SELECT substr(word, ij.i + 1, ij.j) AS piece, cnt FROM (
        SELECT word, cnt, length(word) AS L,
               UNNEST(flatten(list_transform(range(length(word)),
                 i -> list_transform(range(1, {_ULM_MAXP + 1}),
                        j -> {{'i': i, 'j': j}})))) AS ij
        FROM wc) t
      WHERE ij.i + ij.j <= L
    ),
    scnt AS MATERIALIZED (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM subs GROUP BY piece
    ),
    chars AS MATERIALIZED (SELECT piece FROM scnt WHERE length(piece) = 1),
    sel AS (SELECT piece, c FROM scnt ORDER BY c DESC, piece LIMIT {_ULM_SEED_TOP}),
    mu0 AS (
      SELECT piece, c FROM sel
      UNION ALL
      SELECT s.piece, s.c FROM scnt s JOIN chars ch ON s.piece = ch.piece
      WHERE s.piece NOT IN (SELECT piece FROM sel)
    ),
    m0 AS MATERIALIZED (
      SELECT piece, c,
             CAST(ROUND(LN(CAST(c AS DOUBLE) / t.t) * {_ULM_FIX}) AS BIGINT) AS lp
      FROM mu0 CROSS JOIN (SELECT CAST(SUM(c) AS BIGINT) AS t FROM mu0) t
    )"""


def _ulm_dp_cte(tag: str, model_cte: str) -> str:
    """Viterbi DP over ``wc`` under model ``model_cte``, unrolled as one map
    CTE + {_ULM_MAXW} position CTEs (MATERIALIZED: each step references its
    accumulator many times, and DuckDB would inline plain CTEs exponentially
    — the mmr-oracle lesson). Final best-path struct lands in ``fin_{tag}``.
    """
    parts = [
        f""",
    mp_{tag} AS MATERIALIZED (
      SELECT MAP(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS mp
      FROM {model_cte}
    ),
    d_{tag}_0 AS (
      SELECT word, cnt, length(word) AS L,
             [{{'s': CAST(0 AS BIGINT), 'nn': 0, 'pc': '',
                'seg': CAST(NULL AS VARCHAR)}}] AS acc
      FROM wc
    )"""
    ]
    for i in range(1, _ULM_MAXW + 1):
        cands = []
        for j in range(1, _ULM_MAXP + 1):
            if j > i:
                continue
            pc = f"substr(word, {i - j + 1}, {j})"
            lk = f"list_extract(map_extract(mp, {pc}), 1)"
            prev = f"acc[{i - j + 1}]"
            cands.append(
                f"CASE WHEN {lk} IS NOT NULL THEN "
                f"{{'s': {prev}.s + {lk}, 'nn': {prev}.nn - 1, 'pc': {pc}, "
                f"'seg': concat_ws(' ', {prev}.seg, {pc})}} END"
            )
        best = (
            f"list_extract(list_sort([{', '.join(cands)}], "
            f"'DESC', 'NULLS LAST'), 1)"
        )
        parts.append(
            f""",
    d_{tag}_{i} AS MATERIALIZED (
      SELECT word, cnt, L,
             CASE WHEN L >= {i} THEN list_append(acc, {best}) ELSE acc END AS acc
      FROM d_{tag}_{i - 1} CROSS JOIN mp_{tag}
    )"""
        )
    parts.append(
        f""",
    fin_{tag} AS MATERIALIZED (
      SELECT word, cnt, acc[L + 1] AS fin FROM d_{tag}_{_ULM_MAXW}
    )"""
    )
    return "".join(parts)


def _ulm_mstep_cte(r: int, tag: str) -> str:
    """M-step: segmentation piece counts (weighted by word frequency) +
    single-char floor → new model ``m{r}(piece, c, lp)``."""
    return f""",
    cs{r} AS MATERIALIZED (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT UNNEST(string_split(fin.seg, ' ')) AS piece, cnt FROM fin_{tag})
      GROUP BY piece
    ),
    mu{r} AS (
      SELECT piece, c FROM cs{r}
      UNION ALL
      SELECT ch.piece, CAST(1 AS BIGINT) FROM chars ch
      WHERE ch.piece NOT IN (SELECT piece FROM cs{r})
    ),
    m{r} AS MATERIALIZED (
      SELECT piece, c,
             CAST(ROUND(LN(CAST(c AS DOUBLE) / t.t) * {_ULM_FIX}) AS BIGINT) AS lp
      FROM mu{r} CROSS JOIN (SELECT CAST(SUM(c) AS BIGINT) AS t FROM mu{r}) t
    )"""


def _ulm_cte_prefix() -> str:
    """Shared oracle prefix through the final model ``m{_ULM_ROUNDS}`` —
    consumed by the trainer oracle AND the encode oracle, so the tokenizer
    that encodes is provably the tokenizer that was trained (the
    ``_bpe_cte_prefix`` precedent)."""
    parts = [_ulm_seed_cte()]
    for r in range(1, _ULM_ROUNDS + 1):
        parts.append(_ulm_dp_cte(f"r{r}", f"m{r - 1}"))
        parts.append(_ulm_mstep_cte(r, f"r{r}"))
    return "".join(parts)


def _ulm_train_oracle() -> str:
    return f"""
    {_ulm_cte_prefix()}
    SELECT piece, CAST(c AS BIGINT) AS cnt, lp AS logp_x1e6
    FROM m{_ULM_ROUNDS} ORDER BY piece
    """


def _ulm_encode_oracle() -> str:
    return f"""
    {_ulm_cte_prefix()}{_ulm_dp_cte("enc", f"m{_ULM_ROUNDS}")},
    enc AS (SELECT word, CAST(-fin.nn AS BIGINT) AS nt FROM fin_enc),
    inst AS (
      SELECT lang, word FROM (
        SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST((SUM(nt) * 10000) // COUNT(*) AS BIGINT) AS fert_x10000
    FROM inst JOIN enc USING (word)
    GROUP BY lang ORDER BY lang
    """


# ---------------------------------------------------------------------------
# Spark side


def _ulm_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (word, cnt) vocab table — the ONLY corpus-sized pass in the whole
    trainer (one hash aggregate with map-side combine); everything after is
    vocab- or model-sized, exactly like ``bpe_train_merges``."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens("text")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= _ULM_MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _ulm_viterbi(mp: Column) -> Column:
    """Best segmentation of ``word`` under piece→log-prob map ``mp`` as ONE
    JVM-side higher-order-function expression (no UDF): ``F.aggregate`` over
    positions 1..len builds the DP table as an array of
    ``struct(s, nn, pc, seg)`` — integer score, negated piece count, last
    piece, full segmentation string — and returns the final position's
    struct. Per-position argmax is ``array_max`` over ≤{_ULM_MAXP} candidate
    structs (null-skipping, same semantics as the oracle's
    ``list_sort DESC NULLS LAST``); candidate pieces at one position have
    distinct lengths hence distinct ``pc``, so the (s, nn, pc) prefix always
    decides the comparison before ``seg`` is reached."""
    word = F.col("word")

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for j in range(1, _ULM_MAXP + 1):
            piece = F.substr(word, i - F.lit(j) + 1, F.lit(j))
            lp = F.try_element_at(mp, piece)
            prev = F.try_element_at(acc, i - F.lit(j) + 1)
            cands.append(
                F.when(
                    (i >= F.lit(j)) & lp.isNotNull(),
                    F.struct(
                        (prev.getField("s") + lp).cast("long").alias("s"),
                        (prev.getField("nn") - F.lit(1)).alias("nn"),
                        piece.alias("pc"),
                        F.concat_ws(" ", prev.getField("seg"), piece).alias("seg"),
                    ),
                )
            )
        return F.concat(acc, F.array(F.array_max(F.array(*cands))))

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("s"),
            F.lit(0).alias("nn"),
            F.lit("").alias("pc"),
            F.lit(None).cast("string").alias("seg"),
        )
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        init,
        step,
        lambda acc: F.element_at(acc, -1),
    )


def _ulm_segment(wc: DataFrame, model: dict[str, int]) -> DataFrame:
    """(word, cnt, fin) under a driver-held model dict — the model is
    parameter-sized (≤ {_ULM_SEED_TOP} + |alphabet| pieces, the k-centroids
    precedent), embedded as a literal map so the whole Viterbi pass is one
    map-only JVM expression over the vocab table."""
    mp = F.create_map(
        *[F.lit(x) for kv in sorted(model.items()) for x in kv]
    )
    return wc.select("word", "cnt", _ulm_viterbi(mp).alias("fin"))


def _ulm_model_from_counts(
    counts: dict[str, int], char_set: frozenset[str]
) -> dict[str, tuple[int, int]]:
    """M-step on driver-held counts: single-char floor (count 1 for any
    alphabet char the segmentation dropped), then integer micro-log-probs.
    Returns piece → (count, lp)."""
    full = dict(counts)
    for ch in char_set:
        if ch not in full:
            full[ch] = 1
    tot = sum(full.values())
    return {
        p: (c, _round_half_away(math.log(c / tot) * _ULM_FIX))
        for p, c in full.items()
    }


def _ulm_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, tuple[int, int]], DataFrame]:
    """Run the {_ULM_ROUNDS}-round hard-EM loop; return the final model
    (piece → (count, lp)) AND the persisted vocab frame (word, cnt) for the
    encode pass. Each round is one vocab-sized Viterbi pass + one
    model-sized count collect — corpus-size-independent after the vocab
    aggregate, exactly how SentencePiece trains (on the word-frequency
    table, not the raw corpus)."""
    from ..caching import tracked_persist

    wc = tracked_persist(_ulm_wc(spark, sf_dir))

    # seed inventory: substrings of length 1..{_ULM_MAXP} weighted by word
    # count; top-{_ULM_SEED_TOP} by (count DESC, piece) + every single char
    ij = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.length("word") - 1),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.lit(_ULM_MAXP)),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    scnt = (
        wc.select("word", "cnt", F.explode(ij).alias("ij"))
        .filter(F.col("ij.i") + F.col("ij.j") <= F.length("word"))
        .select(
            F.substr(F.col("word"), F.col("ij.i") + 1, F.col("ij.j")).alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    )
    from ..caching import tracked_persist as _tp

    scnt = _tp(scnt)
    sel = scnt.orderBy(F.col("c").desc(), "piece").limit(_ULM_SEED_TOP).collect()
    chars = scnt.filter(F.length("piece") == 1).collect()
    char_set = frozenset(r.piece for r in chars)
    seed_counts = {r.piece: int(r.c) for r in sel}
    for r in chars:
        seed_counts.setdefault(r.piece, int(r.c))
    tot = sum(seed_counts.values())
    model = {
        p: _round_half_away(math.log(c / tot) * _ULM_FIX)
        for p, c in seed_counts.items()
    }

    final: dict[str, tuple[int, int]] = {}
    for _ in range(_ULM_ROUNDS):
        seg = _ulm_segment(wc, model)
        rows = (
            seg.select(
                F.explode(F.split(F.col("fin.seg"), " ")).alias("piece"), "cnt"
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
            .collect()
        )
        final = _ulm_model_from_counts(
            {r.piece: int(r.c) for r in rows}, char_set
        )
        model = {p: lp for p, (_, lp) in final.items()}
    return final, wc


@register("unigram_lm_train_model", oracle=_ulm_train_oracle())
def q_unigram_lm_train_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r10) — unigram-LM tokenizer TRAINING (Kudo 2018), the
    SentencePiece-family twin of ``bpe_train_merges``: seed a piece
    inventory from the top-{_ULM_SEED_TOP} corpus substrings (length ≤
    {_ULM_MAXP}) plus the full alphabet, then run {_ULM_ROUNDS} hard-EM
    rounds — Viterbi-segment the (word, count) vocab under the current
    model, re-estimate piece log-probs from the weighted segmentation
    counts (single-char floor keeps every word segmentable). Output is the
    final model table (piece, count, integer micro-log-prob).

    Plan at 100 TB: the ONLY corpus-sized pass is the word-frequency hash
    aggregate — training then runs on the vocab table (words ≤ {_ULM_MAXW}
    chars, a documented trainer cap), with the model re-estimated from ONE
    model-sized collect per round (the k-centroids precedent). The Viterbi
    DP is a single JVM higher-order-function expression (aggregate over
    positions, array_max over candidate structs — no UDF, no shuffle), so
    each EM round is one map-only pass + one hash aggregate. The oracle
    replays seed + every EM round as generated MATERIALIZED CTEs (the BPE
    pattern), hash-checking the full training trajectory; integer
    micro-log-prob scores make path selection bit-identical across engines
    (module header).
    """
    model, _ = _ulm_learn(spark, sf_dir)
    rows = [(p, c, lp) for p, (c, lp) in sorted(model.items())]
    return spark.createDataFrame(
        rows, "piece string, cnt long, logp_x1e6 long"
    ).orderBy("piece")


@register("unigram_lm_encode_fertility", oracle=_ulm_encode_oracle())
def q_unigram_lm_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r10) — unigram-LM ENCODE, the serving half of
    ``unigram_lm_train_model`` (the ``bpe_encode_fertility`` shape): Viterbi-
    segment the vocab under the FINAL trained model and report per-language
    fertility (tokens per word, ×10⁴ fixed-point). Train and encode share
    one model by construction — Spark: the same ``_ulm_learn`` output;
    oracle: the same generated CTE prefix through ``m{_ULM_ROUNDS}``.

    Plan at 100 TB: encoding never re-segments token instances — Viterbi
    applies once to the vocab table (the segmentation-memo trick; the DP's
    negated-piece-count field IS the token count, no backtracking), and the
    corpus-sized side is one (lang, word) hash agg joined against that
    broadcastable word → token-count map. Integer token counts and int·10⁴
    DIV fertility — the output hash contract contains no floats at all.
    """
    model, wc = _ulm_learn(spark, sf_dir)
    enc = _ulm_segment(wc, {p: lp for p, (_, lp) in model.items()}).select(
        "word", (-F.col("fin.nn")).cast("long").alias("nt")
    )
    docs = load(spark, sf_dir, "documents")
    inst = docs.select("lang", F.explode(TX.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        inst.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("CAST((n_tokens * 10000) DIV n_words AS BIGINT)").alias(
                "fert_x10000"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# wordpiece_train_merges — likelihood-scored merge training

_WP_ROUNDS = 8  # merge rules learned

_WP_SCALE = 10**12  # fixed-point quantum for the likelihood score
# Loud-overflow bounds (ADVICE r14): Spark's non-ANSI int64 wraps silently
# where DuckDB errors, so the score expression asserts its own operand
# bounds — c*SCALE and ca*cb must both fit int64. Production rescales
# counts before scoring (the score is scale-invariant).

_WP_C_MAX = (2**63 - 1) // _WP_SCALE  # 9_223_372


def _wp_round_cte(r: int) -> str:
    """One WordPiece round: the SHARED pair plumbing (_px_cte)
    and merge pass (_merge_w_cte), with the LIKELIHOOD argmax as
    the one trainer-specific CTE — unigram counts ug{r} + pair counts
    pc{r}, pick best{r} by the 1e12-quantized score
    count(a,b)·SCALE // (count(a)·count(b)) (ties → score DESC, lhs,
    rhs — the floor-quantized score IS the selection contract, so both
    engines pick identically)."""

    prev = f"w{r - 1}"
    return f""",
    {_px_cte(r)},
    ug{r} AS (
      SELECT s, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT UNNEST(string_split(trim(seq), '  ')) AS s, cnt FROM {prev})
      GROUP BY s
    ),
    pc{r} AS (
      SELECT t[i + 1] AS a, t[i + 2] AS b, CAST(SUM(cnt) AS BIGINT) AS c
      FROM px{r} GROUP BY 1, 2
    ),
    best{r} AS MATERIALIZED (
      SELECT a, b, c, score FROM (
        SELECT p.a, p.b, p.c,
               p.c * {_WP_SCALE} // (ua.c * ub.c) AS score
        FROM pc{r} p JOIN ug{r} ua ON ua.s = p.a JOIN ug{r} ub ON ub.s = p.b
      ) ORDER BY score DESC, a, b LIMIT 1
    ),
    {_merge_w_cte(r)}"""


def _wp_oracle() -> str:

    rounds = "".join(_wp_round_cte(r) for r in range(1, _WP_ROUNDS + 1))
    final = " UNION ALL ".join(
        f"SELECT {r} AS r, a, b, c, score FROM best{r}"
        for r in range(1, _WP_ROUNDS + 1)
    )
    return f"""
    {_BPE_INIT_CTES}{rounds}
    SELECT CAST(r AS INT) AS merge_rank, a AS lhs, b AS rhs,
           c AS pair_count, score AS score_x1e12
    FROM ({final}) ORDER BY merge_rank
    """


@register("wordpiece_train_merges", oracle=_wp_oracle())
def q_wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (late r14) — WordPiece-scored tokenizer TRAINING (Schuster &
    Nakajima 2012; the BERT tokenizer's objective): identical merge
    machinery to ``bpe_train_merges`` but the round's winner maximizes
    the LIKELIHOOD gain count(a,b) / (count(a)·count(b)) instead of the
    raw pair count — the pair whose merge most increases corpus
    likelihood under a unigram symbol model, which demotes
    frequent-but-independent pairs BPE greedily fuses. Completes the
    trainer triad (BPE count-greedy / unigram-LM EM-prune / WordPiece
    likelihood-greedy). Emits (merge_rank, lhs, rhs, pair_count,
    score_x1e12).

    Shared-definition discipline: both trainers open from the SAME init
    text (_BPE_INIT_CTES / bpe_init_vocab — one symbol-table
    definition) and use the SAME double-space literal-REPLACE merge pass,
    so the two entries differ in exactly one CTE: the argmax rule.

    Determinism contract: the selection score is the 1e12-quantized
    floor of the likelihood ratio in BIGINT (exact on both engines; the
    score expression ASSERTS its operand bounds with raise_error so a
    corpus large enough to overflow fails LOUDLY on both engines instead
    of wrapping silently in non-ANSI Spark — ADVICE r14; production
    rescales counts, the score is scale-invariant), ties → (score DESC,
    lhs, rhs) binary collation. Every round replays as generated
    MATERIALIZED CTEs — the driver hash-checks the full trajectory.

    Plan at 100 TB: as the BPE entry — ONE corpus-sized pass (the word-
    frequency hash agg), then every round runs on the VOCAB table:
    one pair-count agg + one unigram agg + a 1-row TakeOrdered collect
    (parameter-sized driver state) + a map-only literal replace.
    """

    cur = bpe_init_vocab(spark, sf_dir)
    out: list[tuple[int, str, str, int, int]] = []
    for r in range(1, _WP_ROUNDS + 1):
        toks = F.split(F.trim(F.col("seq")), "  ")
        ug = (
            cur.select(F.explode(toks).alias("s"), "cnt")
            .groupBy("s")
            .agg(F.sum("cnt").alias("uc"))
        )
        best = (
            symbol_pair_counts(cur)
            .join(ug.withColumnRenamed("s", "a").withColumnRenamed("uc", "ca"), "a")
            .join(ug.withColumnRenamed("s", "b").withColumnRenamed("uc", "cb"), "b")
            .select(
                "a",
                "b",
                "c",
                # guarded fixed-point score: wraps-silently is unacceptable
                # where the oracle errors loudly (non-ANSI int64 vs DuckDB).
                # The product bound is exact: ca*cb <= M iff ca <= M DIV cb
                # for positive ints (counts are >= 1), so the guard raises
                # only where DuckDB itself would overflow — not one-sided
                F.expr(
                    f"IF(c <= {_WP_C_MAX} AND ca <= {2**63 - 1} DIV cb, "
                    f"c * {_WP_SCALE} DIV (ca * cb), "
                    f"raise_error('wordpiece_train_merges: symbol count "
                    f"exceeds the int64 fixed-point bound - rescale counts "
                    f"before scoring'))"
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), "a", "b")
            .limit(1)
            .collect()[0]
        )
        out.append((r, best.a, best.b, int(best.c), int(best.score)))
        cur = apply_merge(cur, best.a, best.b)
    return spark.createDataFrame(
        out,
        "merge_rank int, lhs string, rhs string, pair_count long, score_x1e12 long",
    )
