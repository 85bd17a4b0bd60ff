"""Unigram-LM tokenizer family (plans/llm_ext9.py): model contract,
EM determinism, and train↔encode consistency — the test shape of the BPE
twin (tests/test_llm_ext8.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.registry import REGISTRY


def test_unigram_model_contract(spark, sf_dir):
    """The trained model must (a) contain every character of every vocab
    word (the single-char floor — every word stays segmentable), (b) carry
    strictly negative integer micro-log-probs (probabilities < 1), and
    (c) have counts consistent with a probability model: the micro-log-prob
    equals round(ln(cnt / Σcnt)·1e6) for every piece."""
    import math

    from my_favorite_etl_pipeline_spark.functions import text as TX
    from my_favorite_etl_pipeline_spark.plans.tokenizers import (
        _ULM_MAXP,
        _ULM_MAXW,
        _round_half_away,
    )
    from my_favorite_etl_pipeline_spark.sources.tables import load

    rows = REGISTRY["unigram_lm_train_model"].fn(spark, sf_dir).collect()
    assert rows
    model = {r.piece: (r.cnt, r.logp_x1e6) for r in rows}
    assert all(1 <= len(p) <= _ULM_MAXP for p in model)
    assert all(lp < 0 for _, lp in model.values())
    tot = sum(c for c, _ in model.values())
    for p, (c, lp) in model.items():
        assert lp == _round_half_away(math.log(c / tot) * 1_000_000), p

    chars = {
        ch
        for r in load(spark, sf_dir, "documents")
        .select(F.explode(TX.tokens("text")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= _ULM_MAXW))
        .distinct()
        .collect()
        for ch in r.word
    }
    assert chars <= set(model), sorted(chars - set(model))[:5]


def test_unigram_training_deterministic(spark, sf_dir):
    a = [tuple(r) for r in REGISTRY["unigram_lm_train_model"].fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in REGISTRY["unigram_lm_train_model"].fn(spark, sf_dir).collect()]
    assert a == b


def test_unigram_encode_consistent_with_training(spark, sf_dir):
    """Viterbi encoding under the trained model must (a) give every word
    1..len(word) tokens (bounded by the char fallback), so per-language
    totals sit between word count and character count, and (b) report the
    exact fixed-point fertility of its own totals. Words longer than the
    trainer's vocab cap are excluded on both sides (documented filter)."""
    from my_favorite_etl_pipeline_spark.functions import text as TX
    from my_favorite_etl_pipeline_spark.plans.tokenizers import _ULM_MAXW
    from my_favorite_etl_pipeline_spark.sources.tables import load

    rows = REGISTRY["unigram_lm_encode_fertility"].fn(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    base = {
        r.lang: (r.n_words, r.n_chars)
        for r in docs.select("lang", F.explode(TX.tokens("text")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= _ULM_MAXW))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
        )
        .collect()
    }
    assert {r.lang for r in rows} == set(base)
    for r in rows:
        n_words, n_chars = base[r.lang]
        assert r.n_words == n_words
        assert n_words <= r.n_tokens <= n_chars
        # a real subword model must beat the char-level baseline
        assert r.n_tokens < n_chars
        assert r.fert_x10000 == (r.n_tokens * 10000) // r.n_words
