"""[EXT] curation round 10 — unigram-LM (SentencePiece-style) tokenizer
training and serving (SURVEY.md §2.9 X4; no reference citation exists — the
citation is BASELINE.json's LLM-data mandate; method: Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with Multiple
Subword Candidates").

The BPE twin completed the *merge-based* tokenizer family in r9
(``bpe_train_merges`` / ``bpe_encode_fertility``); this module completes the
*probabilistic* family the other mainstream tokenizer stack (SentencePiece
unigram) uses: seed a piece inventory from frequent substrings, run hard-EM
rounds (Viterbi-segment the vocab under the current model, re-estimate piece
probabilities from the segmentation counts), and serve by Viterbi-encoding
with the final model.

Feasibility was measured BEFORE implementation (a standalone probe, end
of r9): EM is deterministic
across runs under the (score, fewer-pieces, lexicographically-larger-piece)
tie-break, fixed-point 1e-6 quantized log-probs converge, and the Viterbi DP
depth equals the word length (≤ 8 on the fixture) — so the whole DP unrolls
as a bounded number of per-position steps on both engines.

Determinism contract (the registry-header rule, applied up front rather than
retrofitted like the r9 graph family):

- log-probs are INTEGER micro-units (``ROUND(LN(c/tot)·10⁶)`` as BIGINT) —
  Viterbi sums and compares integers, so path selection is bit-identical
  across engines; the only float op is one LN per model piece per round
  (model-sized), rounded at 1e-6 of a transcendental (measure-zero).
- the DP tie-break is a STRUCT max on (score, -n_pieces, piece): at any
  position the candidate pieces are suffixes of distinct lengths, hence
  distinct strings, so the struct comparison always decides by the third
  field at the latest — no hidden path ambiguity.
- all single characters stay in the model every round (count floor 1), the
  standard unigram-LM guarantee that every word stays segmentable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..registry import register
from ..sources.tables import load

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
