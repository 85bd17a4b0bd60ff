"""X1-X3 — dedup tiers and similarity search ([EXT], SURVEY §2.9)."""

import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.functions.text import shingles
from my_favorite_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_dups,
    simhash_near_dups,
)
from my_favorite_etl_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        Row(doc_id=2, text=base.replace("dog", "cat")),  # near dup of 0
        Row(doc_id=3, text="completely different words about spark engines running fast"),
        Row(doc_id=4, text="short text"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    assert exact_dedup(_corpus(spark), ["text"]).count() == 4


def test_lsh_finds_exact_and_near_dups(spark):
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(_corpus(spark)).collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band
    hits = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_dups(_corpus(spark), threshold=0.5).collect()}
    assert hits[(0, 1)] == 1.0
    assert (0, 2) in hits and 0.5 <= hits[(0, 2)] < 1.0
    assert all(3 not in p and 4 not in p for p in hits)


def test_lsh_matches_exact_jaccard(spark):
    """LSH candidates ⊇ all pairs with Jaccard ≥ 0.5 on this corpus (recall check)."""
    df = _corpus(spark)
    sh = df.select("doc_id", shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(F.array_union("a.sh", "b.sh"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"), jac.alias("j"))
        .filter("j >= 0.5")
        .collect()
    }
    lsh = {(r.id_a, r.id_b) for r in minhash_near_dups(df, threshold=0.5).collect()}
    assert lsh == exact


def test_simhash_near_dups(spark):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(_corpus(spark), max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0  # identical text → identical signature
    assert all(h <= 3 for h in pairs.values())


def _emb(spark, n=50, dim=8, seed=7):
    rng = random.Random(seed)
    rows = [
        Row(vec_id=i, label=i % 5, embedding=[rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_brute_force_topk_matches_python(spark):
    emb = _emb(spark)
    data = {r.vec_id: r.embedding for r in emb.collect()}
    q = data[0]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    expected = sorted(data, key=lambda i: (-round(cos(data[i], q), 4), i))[:5]
    got = [r.vec_id for r in brute_force_topk(emb, emb.filter("vec_id = 0"), k=5).collect()]
    assert got == expected
    assert got[0] == 0  # self-similarity = 1.0 tops the list


def test_all_pairs_and_lsh_cosine(spark):
    from my_favorite_etl_pipeline_spark.operators.similarity import (
        all_pairs_cosine,
        lsh_pairs_cosine,
    )

    emb = _emb(spark, n=60, dim=64)
    exact = {(r.id_a, r.id_b) for r in all_pairs_cosine(emb, threshold=0.2).collect()}
    assert exact  # random 64-dim vectors: some pairs exceed 0.2
    lsh = {(r.id_a, r.id_b) for r in lsh_pairs_cosine(emb, threshold=0.2).collect()}
    assert lsh <= exact  # LSH verify step never admits a below-threshold pair
    assert len(lsh) >= 0.5 * len(exact)  # banded recall stays reasonable


def test_ivf_topk_subset_of_probed_cells(spark):
    emb = _emb(spark)
    out = ivf_topk(emb, emb.filter("vec_id = 0"), k=5, n_probe=2)
    rows = out.collect()
    assert len(rows) == 5
    labels = {r.vec_id % 5 for r in rows}  # label = vec_id % 5 by construction
    assert len(labels) <= 2  # results only from probed cells
    assert rows[0].vec_id == 0  # query's own cell is always nearest


def test_lsh_cosine_short_vectors_clamp_bands(spark):
    """Vectors shorter than n_bands*band_bits must not hash trailing empty
    bands to a shared constant (which would collapse the band join to
    all-pairs). With dim=8 and band_bits=4 only 2 bands exist per row."""
    from my_favorite_etl_pipeline_spark.operators.similarity import (
        all_pairs_cosine,
        lsh_pairs_cosine,
    )

    emb = _emb(spark, n=40, dim=8)
    exact = {(r.id_a, r.id_b) for r in all_pairs_cosine(emb, threshold=0.2).collect()}
    lsh = {(r.id_a, r.id_b) for r in lsh_pairs_cosine(emb, threshold=0.2).collect()}
    assert lsh <= exact  # verify step still exact
    # candidate generation must be banded, not all-pairs: the internal side
    # explodes to exactly 2 bands per row, never 16
    import my_favorite_etl_pipeline_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    n_usable = F.greatest(
        F.lit(1), F.least(F.lit(16), F.floor(F.size(F.col("embedding")) / 4))
    ).cast("int")
    assert emb.select(n_usable.alias("n")).distinct().collect()[0]["n"] == 2


def test_salted_join_rejects_replication_unsafe_how(spark):
    import pytest
    from pyspark.sql import Row

    from my_favorite_etl_pipeline_spark.operators.skew import salted_join

    large = spark.createDataFrame([Row(k=1, v=1)])
    small = spark.createDataFrame([Row(k=1, name="x"), Row(k=9, name="unmatched")])
    for how in ("right", "rightouter", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(large, small, "k", how=how)
    # left_anti remains supported and correct under replication
    got = salted_join(large, small.filter("k = 9"), "k", how="left_anti").collect()
    assert [r.k for r in got] == [1]


def test_semdedup_pairs_subset_of_exact_with_decent_recall(spark, sf_dir):
    """SemDeDup's within-cluster pairs must be a strict SUBSET of the exact
    all-pairs result at the same threshold (it can only miss cross-cluster
    pairs, never invent one), with non-trivial recall on the fixture."""
    from my_favorite_etl_pipeline_spark.operators.similarity import (
        all_pairs_cosine,
        semdedup_pairs,
    )
    from my_favorite_etl_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b) for r in all_pairs_cosine(emb, 0.4).collect()}
    clustered = {(r.id_a, r.id_b) for r in semdedup_pairs(emb, 0.4).collect()}
    assert clustered <= exact
    assert exact  # fixture produces near-dup pairs
    # within-cluster recall floor. Recall is structurally ~1/k-ish for the
    # borderline (cos≈threshold) pairs that straddle cluster boundaries, so
    # this floor is calibrated to the default k=8 — raise k, lower recall.
    assert len(clustered) / len(exact) >= 0.2


def test_kmeans_iterate_centroids_shape_and_recall(spark, sf_dir):
    """Lloyd-refined centroids: exactly k rows, full-dim arrays, and the
    within-cluster pairs they induce are still a subset of the exact
    all-pairs result (the refinement must never invent a pair)."""
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.operators.similarity import (
        all_pairs_cosine,
        kmeans_iterate,
    )
    from my_favorite_etl_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cent = kmeans_iterate(emb, k=8, n_iter=1).collect()
    assert len(cent) == 8
    assert sorted(r.cid for r in cent) == list(range(8))
    dim = emb.select(F.size("embedding")).head()[0]
    assert all(len(r.centroid) == dim for r in cent)
    assert all(all(v is not None for v in r.centroid) for r in cent)


def test_exact_span_matches_merges_runs_and_splits_gaps(spark):
    """Two disjoint shared spans with the SAME alignment must stay two
    rows (the gaps-and-islands grouping), each merged to maximal length."""
    from my_favorite_etl_pipeline_spark.operators.dedup import exact_span_matches

    c1 = [f"c{i}" for i in range(22)]
    c2 = [f"z{i}" for i in range(22)]
    d1 = c1 + [f"x{i}" for i in range(5)] + c2
    d2 = c1 + [f"y{i}" for i in range(5)] + c2
    docs = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2))], "doc_id long, text string"
    )
    rows = {
        (r.a_start, r.b_start, r.span_tokens)
        for r in exact_span_matches(docs, min_tokens=20).collect()
    }
    assert rows == {(0, 0, 22), (27, 27, 22)}


def test_excise_span_duplicates_cuts_loser_side_only(spark):
    """Lower-id doc keeps every span; higher-id doc loses all matched
    positions (deduplicated); untouched docs pass through with 0 removed."""
    from my_favorite_etl_pipeline_spark.operators.dedup import excise_span_duplicates

    c1 = [f"c{i}" for i in range(22)]
    c2 = [f"z{i}" for i in range(22)]
    d1 = c1 + [f"x{i}" for i in range(5)] + c2
    d2 = c1 + [f"y{i}" for i in range(5)] + c2
    d3 = [f"u{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2)), (3, " ".join(d3))],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in excise_span_duplicates(docs, min_tokens=20).collect()}
    assert out[1].clean_text == " ".join(d1) and out[1].n_removed_tokens == 0
    assert out[2].clean_text == " ".join(f"y{i}" for i in range(5))
    assert out[2].n_removed_tokens == 44
    assert out[3].clean_text == " ".join(d3) and out[3].n_removed_tokens == 0


def _ref_spans(docs: dict, w: int) -> set:
    """Pure-Python reference for exact_span_matches: brute-force every
    alignment, merge consecutive matching positions into maximal spans."""
    import itertools

    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(sorted(docs.items()), 2):
        A, B = ta.split(" "), tb.split(" ")
        matches = [
            (i, j)
            for i in range(len(A) - w + 1)
            for j in range(len(B) - w + 1)
            if A[i : i + w] == B[j : j + w]
        ]
        bydiff: dict = {}
        for i, j in matches:
            bydiff.setdefault(i - j, []).append(i)
        for d, iis in bydiff.items():
            iis = sorted(iis)
            start = prev = iis[0]
            for i in iis[1:]:
                if i == prev + 1:
                    prev = i
                    continue
                out.add((ia, ib, start, start - d, prev - start + w))
                start = prev = i
            out.add((ia, ib, start, start - d, prev - start + w))
    return out


def test_exact_span_matches_random_vs_reference(spark):
    """30 random docs over a small alphabet (forcing chance collisions)
    plus planted duplicate segments: the DataFrame plan must agree with a
    brute-force Python reference on the full span set, and the excision
    must remove exactly the reference's losing-side positions."""
    import random

    from my_favorite_etl_pipeline_spark.operators.dedup import (
        excise_span_duplicates,
        exact_span_matches,
    )

    rng = random.Random(7)
    W = 5
    docs: dict[int, str] = {}
    for i in range(30):
        n = rng.randint(0, 40)
        docs[i] = " ".join(f"t{rng.randint(0, 7)}" for _ in range(n))
    # plant shared segments (some longer than W, at different offsets)
    seg = " ".join(f"s{k}" for k in range(9))
    docs[3] = f"{docs[3]} {seg}".strip()
    docs[11] = f"{seg} {docs[11]}".strip()
    docs[17] = f"x0 x1 {seg}"
    ref = _ref_spans(docs, W)

    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens)
        for r in exact_span_matches(sdf, min_tokens=W).collect()
    }
    assert got == ref

    removed_ref: dict[int, set] = {}
    for _, db, _, bs, st in ref:
        removed_ref.setdefault(db, set()).update(range(bs, bs + st))
    out = {r.doc_id: r for r in excise_span_duplicates(sdf, min_tokens=W).collect()}
    for did, text in docs.items():
        toks = text.split(" ")
        keep = [t for p, t in enumerate(toks) if p not in removed_ref.get(did, set())]
        assert out[did].clean_text == " ".join(keep), did
        assert out[did].n_removed_tokens == len(removed_ref.get(did, set())), did


def test_mmr_rerank_respects_id_col(spark):
    """mmr_rerank must honor a non-default id_col end-to-end (the greedy
    pandas function once hard-coded 'vec_id' in its output columns, so any
    other id_col crashed at runtime with a schema/column mismatch)."""
    from my_favorite_etl_pipeline_spark.operators.similarity import mmr_rerank

    rng = random.Random(7)
    rows = [Row(item_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows)
    query = spark.createDataFrame([Row(embedding=rows[0].embedding)])
    out = mmr_rerank(corpus, query, k=5, shortlist=10, id_col="item_id").collect()
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    assert len({r.item_id for r in out}) == 5
    # rank 1 is pure relevance: the query's own vector wins
    assert out[0].item_id == 0


def test_ceil_frac_exact_on_integral_products(spark):
    """ceil_frac must equal the true rational ceiling everywhere — in
    particular at integral t·n, the boundary the PPJoin prefix theorem
    depends on (the float form is correct there only by a half-ULP
    rounding margin; this helper is exact by construction)."""
    from fractions import Fraction

    from my_favorite_etl_pipeline_spark.operators.dedup import ceil_frac

    ns = list(range(1, 64))
    df = spark.createDataFrame([Row(n=n) for n in ns])
    for t in (0.5, 0.8, 0.9):
        got = {
            r.n: r.c
            for r in df.select("n", ceil_frac(F.col("n"), t).alias("c")).collect()
        }
        fr = Fraction(t).limit_denominator(10**6)
        for n in ns:
            exact = -((-n * fr.numerator) // fr.denominator)  # true ceil
            assert got[n] == exact == math.ceil(fr * n), (t, n, got[n])


def test_ngram_jaccard_pairs_matches_literal_allpairs(spark, sf_dir):
    """r15-opt: the registered ngram_jaccard_pairs now runs the exact
    inverted-index equi-join (the shape its DuckDB oracle always used);
    this pins the rewrite's result against the literal O(n²) inequality
    join it replaced — same pairs, same rounded jaccard values."""
    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.registry import REGISTRY
    from my_favorite_etl_pipeline_spark.sources.tables import load

    with materialized_scope():
        got_rows = [
            (r.id_a, r.id_b, r.jaccard)
            for r in REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
        ]
    got = set(got_rows)
    # multiset guard (ADVICE r15): the equi-join rewrite must emit each
    # (id_a, id_b) pair exactly once — a duplicate-row regression would
    # survive a set-only comparison
    assert len(got_rows) == len(got)
    docs = load(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(
        F.array_union("a.sh", "b.sh")
    )
    expected = {
        (r.id_a, r.id_b, r.jaccard)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
        .collect()
    }
    assert got == expected and len(got) > 0


# The signature expressions as they were before the single-mask rewrite: 64
# literal masks (xxhash64) and 64 unrolled ``when``s over two md5 halves
# (portable). Kept as the reference the shared function must reproduce.
def _reference_simhash_bits(text_col):
    from my_favorite_etl_pipeline_spark.functions.text import tokens
    from my_favorite_etl_pipeline_spark.operators.dedup import _chunks_from_sums

    tok_hashes = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(1 << b if b < 63 else -(2**63)).cast("long") for b in range(64)])
    bitvec = lambda h: F.transform(  # noqa: E731
        masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
    )
    sums = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda x, y: x + y),
    )
    return _chunks_from_sums(sums)


def _reference_simhash_bits_portable(text_col):
    from my_favorite_etl_pipeline_spark.functions.text import tokens
    from my_favorite_etl_pipeline_spark.operators.dedup import _chunks_from_sums

    tok_hashes = F.transform(
        tokens(text_col),
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )

    def bitvec(h):
        return F.array(
            *[
                F.when(
                    (h["lo"] if b < 32 else h["hi"]).bitwiseAND(F.lit(1 << (b % 32)).cast("long"))
                    != 0,
                    1,
                ).otherwise(-1)
                for b in range(64)
            ]
        )

    sums = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda x, y: x + y),
    )
    return _chunks_from_sums(sums)


def test_simhash_signatures_match_the_unrolled_reference(spark, sf_dir):
    """Both signatures equal the unrolled reference on every fixture
    document and on single tokens chosen for their sign bits: an md5 low
    word with bit 31 set, an md5 high word with bit 31 set (a negative
    packed word), a negative xxhash64, and the empty text."""
    import hashlib

    from my_favorite_etl_pipeline_spark.operators.dedup import (
        simhash_bits,
        simhash_bits_portable,
    )
    from my_favorite_etl_pipeline_spark.sources.tables import load

    cands = spark.createDataFrame([(f"tok{i}",) for i in range(64)], ["text"])
    neg_xx = cands.filter(F.xxhash64("text") < 0).first().text
    md5 = {t: hashlib.md5(t.encode()).hexdigest() for t in (f"tok{i}" for i in range(64))}
    lo_bit31 = next(t for t, m in md5.items() if int(m[8], 16) >= 8)
    hi_bit31 = next(t for t, m in md5.items() if int(m[0], 16) >= 8)
    picked = spark.createDataFrame(
        [(-1, neg_xx), (-2, lo_bit31), (-3, hi_bit31), (-4, ""), (-5, f"{neg_xx} {lo_bit31}")],
        "doc_id long, text string",
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(picked)
    got = docs.select(
        "doc_id",
        simhash_bits("text").alias("x"),
        _reference_simhash_bits("text").alias("x_ref"),
        simhash_bits_portable("text").alias("p"),
        _reference_simhash_bits_portable("text").alias("p_ref"),
    ).collect()
    assert len(got) > 5
    for r in got:
        assert (r.x, r.p) == (r.x_ref, r.p_ref), r.doc_id
