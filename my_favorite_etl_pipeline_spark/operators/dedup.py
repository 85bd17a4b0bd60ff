"""Deduplication operators ([EXT] X1/X2, SURVEY.md §2.9).

Four tiers, each with a different cost/recall point, all shuffle-bounded:

- exact: hash groupBy on the full text (or md5 fingerprint) — one shuffle.
- keep-first: row_number window over a dedup key — the upsert-compaction twin.
- MinHash+LSH: shingle → K minhashes → band-bucket join → verify exact
  Jaccard on candidates only. Candidate generation is bounded by bucket
  collisions, NEVER all-pairs: at 100 TB the band groupBy is the only
  shuffle and skewed buckets split under AQE.
- SimHash: 64-bit signature; chunk-equality blocking (pigeonhole: hamming
  ≤ 3 over 4 chunks ⇒ some 16-bit chunk equal) bounds the pair join.

Hash functions are Spark's xxhash64 (seeded by band/permutation index) —
deterministic across runs and partitionings.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..functions.exprs import let
from .scaling import ensure_min_partitions
from ..functions.text import DECON_N, positional_grams, shingles

MINHASH_PERMS = 32  # 16 bands x 2 rows: P(miss | j>=0.9) ~ (1-0.81)^16 ≈ 3e-12
MINHASH_BAND_ROWS = 2



def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """X1 — drop exact duplicates over ``key_cols``. One hash shuffle."""
    return df.dropDuplicates(key_cols)


def minhash_signature(text_col: Column | str, num_perms: int = MINHASH_PERMS) -> Column:
    """Array of ``num_perms`` minhash values over 3-gram shingles.

    Permutation i is xxhash64(shingle, i) — seeding by index replaces the
    classic (a*x+b) mod p permutation family; min over the shingle set is
    computed per-row with array_min (no explode, no shuffle). The shingle
    array is let-bound so the ``num_perms`` min-hash lambdas share ONE
    evaluation of it (Catalyst does not CSE through lambdas).
    """
    return let(
        shingles(text_col),
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(num_perms - 1)),
            lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, i))),
        ),
    )


def lsh_band_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
) -> DataFrame:
    """The exploded LSH band table ``(id, band_idx, band_hash)`` — the
    shared blocking unit for both the self-join (near-dup pairs) and the
    cross-corpus join (fuzzy decontamination, r14): two documents — from
    the same frame or different frames — are candidates iff they share a
    (band_idx, band_hash) bucket."""
    df = ensure_min_partitions(df)
    n_bands = num_perms // band_rows
    band_hashes = let(
        minhash_signature(F.col(text_col), num_perms),
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.xxhash64(
                *[F.element_at(sig, (b * band_rows + r + 1).cast("int")) for r in range(band_rows)]
            ),
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(band_hashes).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
) -> DataFrame:
    """X2 candidate generation — band-bucket join, the 100 TB-safe shape.

    explode(bands) → groupBy-free self-join on (band index, band hash):
    only documents sharing a band bucket ever meet. Returns distinct
    (id_a, id_b) with id_a < id_b.
    """
    # the band frame feeds BOTH sides of the bucket self-join — persist so
    # the 32-permutation minhash signature runs once per doc, not twice
    # (r15-opt, guide §5)
    banded = tracked_persist(
        lsh_band_frame(df, id_col, text_col, num_perms, band_rows)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ceil_frac(n, threshold: float):
    """Exact ``ceil(threshold·n)`` for an integer column ``n``.

    ``F.ceil(F.lit(t) * n)`` is correct only by a delicate argument: when
    t·n is integral, the product's float error (n times the constant's
    representation error) must stay inside half an ULP so rounding
    recovers the exact integer — true for 0.9·10 (measured), but the
    margin is a factor ~2 at worst-case constants and there is no test
    that would catch a threshold where it crosses. Ceiling a boundary
    that a RECALL THEOREM depends on deserves arithmetic that is exact
    by construction (mid-r15 audit): rationalize t (p/q — exact for
    0.5/0.8/0.9/...) and compute (n·p + q − 1) // q in integers; the
    double division below is exact (operands ≪ 2⁵³) so floor is exact.
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10**6)
    p, q = fr.numerator, fr.denominator
    return F.floor((n * F.lit(p) + F.lit(q - 1)) / F.lit(q)).cast("int")


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT set-similarity candidate generation via prefix filtering
    (SSJoin/PPJoin, Xiao et al. 2008) — 100% recall at ``threshold``,
    unlike MinHash LSH which is merely overwhelmingly-probably complete.

    Theorem: order every shingle by a single global order (ascending corpus
    frequency, rarest first); if J(A,B) >= t then the prefixes of length
    ``|X| - ceil(t*|X|) + 1`` must share a token. So exploding ONLY the
    prefix (~(1-t)·|X| + 1 tokens) and equi-joining on the token yields a
    candidate superset of every qualifying pair — never all-pairs, and an
    equi-join (hash-partitionable) rather than the BroadcastNestedLoopJoin
    a ``id_a < id_b``-only condition degenerates to. Frequency ordering
    puts the RAREST tokens in the prefix, so bucket sizes stay small even
    for corpora with heavy-hitter shingles; a size-ratio filter
    (t·max(|A|,|B|) <= min(|A|,|B|), necessary for J >= t) prunes inside
    the join. Cost: one agg for frequencies + one join + one re-agg — all
    equi-shuffles that scale; candidates then go to ``jaccard_verify``.

    Tokens are ``xxhash64``-hashed int64s, not the raw ~25-byte shingle
    strings (r16-opt, guide §2.3 "narrower types"): every shuffle in the
    funnel (frequency agg, ranked re-agg, prefix self-join) carries and
    compares 8-byte keys, and the per-doc (f, t) sort orders longs. The
    global rarest-first order ties on the HASH instead of the string —
    a different but equally valid fixed order, so the prefix theorem's
    100%-recall guarantee is untouched (any fixed order works); a hash
    collision can only ADD candidates (merged postings), never lose a
    qualifying pair, and candidates are verified exactly downstream.
    """
    return _prefix_candidates(_hashed_shingles(df, id_col, text_col), id_col, threshold)


def _hashed_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, sh)``: each document's shingle set as ``xxhash64`` int64s,
    upsized and persisted — the one frame both the prefix-filter funnel
    and the exact verify read, so a document is shingled once."""
    return tracked_persist(
        ensure_min_partitions(df).select(
            F.col(id_col),
            F.transform(shingles(F.col(text_col)), lambda x: F.xxhash64(x)).alias("sh"),
        )
    )


def _prefix_candidates(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """``prefix_filter_pairs`` over the hashed shingle frame ``sh``."""
    # the postings feed the frequency agg AND the ranked re-agg (an explode
    # of the persisted sh, map-only); pref self-joins, so persist it
    tok = sh.select(id_col, F.explode("sh").alias("t"))
    pref = tracked_persist(_rarest_first_prefix(tok, id_col, threshold))
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.n") * F.lit(threshold) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(threshold) <= F.col("a.n")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _rarest_first_prefix(tok: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """``(id, n, t)``: each document's first ``n - ceil(threshold·n) + 1``
    tokens under the global rarest-first order (corpus frequency, then
    token), from the exploded ``(id, t)`` postings ``tok``; ``n`` is the
    document's token count. The prefix both funnels join on."""
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    ranked = (
        tok.join(freq, "t")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("f", "t"))).alias("ord"))
    )
    n = F.size("ord")
    plen = F.greatest(n - ceil_frac(n, threshold) + 1, F.lit(1))
    return ranked.select(
        F.col(id_col),
        n.alias("n"),
        F.explode(F.slice(F.transform("ord", lambda s: s["t"]), F.lit(1), plen)).alias("t"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """X2 — ordered CONTAINMENT pairs C(A,B) = |A∩B|/|A| >= num/den over
    3-gram shingles (Broder 1997's second coefficient — the
    doc-inside-doc direction the symmetric Jaccard funnels are blind to).

    Asymmetric prefix theorem: if C(A,B) >= t then at most
    n_a − ceil(t·n_a) of A's shingles miss B, so among A's first
    n_a − ceil(t·n_a) + 1 shingles under any fixed global order at least
    one lands in B — joining A's PREFIX (rarest-first order) against B's
    FULL posting list is a 100%-recall candidate funnel; ``ceil_frac``
    keeps the ceiling exact where float ceil loses a slot. Candidates
    verify exactly via array_intersect; the threshold compares
    c·den >= n_a·num in integers so the boundary is engine-portable.

    Returns (doc_id, container_id, n_shingles, n_shared, containment_bp).
    """
    sh = tracked_persist(
        ensure_min_partitions(df).select(
            F.col(id_col), shingles(F.col(text_col)).alias("sh")
        )
    )
    tok = tracked_persist(sh.select(id_col, F.explode("sh").alias("t")))
    pref = _rarest_first_prefix(tok, id_col, num / den).select(
        F.col(id_col).alias("ida"), "t"
    )
    cand = (
        pref.join(tok.select(F.col(id_col).alias("idb"), "t"), "t")
        .filter(F.col("ida") != F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    a, b = sh.alias("sa"), sh.alias("sb")
    c = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    na = F.size(F.col("sa.sh"))
    return (
        cand.join(a, cand.ida == F.col(f"sa.{id_col}"))
        .join(b, cand.idb == F.col(f"sb.{id_col}"))
        .select(
            F.col("ida").alias("doc_id"),
            F.col("idb").alias("container_id"),
            na.cast("long").alias("n_shingles"),
            c.cast("long").alias("n_shared"),
        )
        .filter(F.col("n_shared") * den >= F.col("n_shingles") * num)
        .withColumn(
            "containment_bp",
            F.expr("CAST(n_shared * 10000 DIV n_shingles AS BIGINT)"),
        )
    )


def jaccard_verify(
    sh: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """X2 verification — exact shingle Jaccard on candidates only, from
    the persisted hashed shingle frame ``sh`` (:func:`_hashed_shingles`).

    Joins the (small) candidate set back to the corpus twice; at scale both
    joins broadcast the pair list. Returns (id_a, id_b, jaccard) for the
    pairs whose UNROUNDED Jaccard is ≥ ``threshold``; the returned
    ``jaccard`` is rounded to 4 places. Filtering before rounding keeps
    the rule of every DuckDB twin (``functions.text.duck_jaccard_pairs``):
    a pair at J = 0.89995 is not a 0.9 near-duplicate.

    Shingles ride as ``xxhash64`` int64 arrays (r16-opt): 3× narrower
    persisted/joined rows and an integer intersect/union instead of a
    string one. Distinct sets ⇒ hashed sizes equal string sizes unless
    two distinct shingles inside one compared pair collide —
    P ≤ C(|A∪B|,2)/2^64 ≈ 3e-16 per pair, the stream_ingest /
    MinHash-family collision contract.
    """
    a = sh.alias("sa")
    b = sh.alias("sb")
    jac = (
        F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
        / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
    )
    return (
        pairs.join(a, pairs.id_a == F.col(f"sa.{id_col}"))
        .join(b, pairs.id_b == F.col(f"sb.{id_col}"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """X2 end-to-end — LSH candidates + exact verification."""
    pairs = lsh_candidate_pairs(df, id_col, text_col)
    return jaccard_verify(_hashed_shingles(df, id_col, text_col), pairs, id_col, threshold)


def near_dup_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """X2 end-to-end, exact — prefix-filter candidates + exact
    verification over ``docs(doc_id, text)``: every pair with shingle
    Jaccard ≥ ``threshold``, at 100% recall by the prefix theorem. The
    twin of :func:`minhash_near_dups`; same ``(id_a, id_b, jaccard)``
    contract. Both stages read one hashed shingle frame."""
    sh = _hashed_shingles(docs, "doc_id", "text")
    return jaccard_verify(sh, _prefix_candidates(sh, "doc_id", threshold), "doc_id", threshold)


# the masks 1 << b as foldable calls: the optimizer makes them one array
# literal (a transform over sequence(0, 63) is rebuilt per token, ~20% slower)
_SIMHASH_MASKS = "array(" + ", ".join(f"shiftleft(1L, {b})" for b in range(64)) + ")"


def md5_word64(token: Column) -> Column:
    """The first 64 bits of ``md5(token)`` as a signed long: hex chars 1-8
    are bits 32-63 and chars 9-16 bits 0-31. md5 is bit-identical in every
    engine, so a signature over these hashes is DuckDB-reproducible."""
    return F.conv(F.substring(F.md5(token), 1, 16), 16, -10).cast("long")


def simhash_bits(
    text_col: Column | str,
    token_hash: Callable[[Column], Column] = lambda t: F.xxhash64(t),
) -> Column:
    """64-bit SimHash signature as an array of four 16-bit chunk values.

    Per 64-bit token hash h, each bit contributes +1/-1; the sign of the
    per-bit sum is the signature bit. One aggregate over the token array
    with a vector accumulator — no explode, no shuffle. Chunked (not one
    int64) so blocking needs no bit surgery. ``token_hash`` picks the
    sketch's hyperplanes: Spark's xxhash64 by default, or the portable
    :func:`md5_word64`.
    """
    from ..functions.text import tokens

    sums = F.aggregate(
        F.transform(tokens(text_col), token_hash),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.expr(_SIMHASH_MASKS),
            lambda s, m: s + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return _chunks_from_sums(sums)


def simhash_bits_portable(text_col: Column | str) -> Column:
    """:func:`simhash_bits` over :func:`md5_word64`: the oracle-reproducible
    signature (the hash changes the hyperplanes, not the sketch quality)."""
    return simhash_bits(text_col, md5_word64)


def _chunks_from_sums(sums: Column) -> Column:
    """64 per-bit sums → sign bits → four 16-bit chunk values (first bit of
    each chunk most significant, matching the ``acc*2 + bit`` fold)."""
    # let-bind the per-bit sums: the chunk extraction references them 4×
    return let(
        F.transform(sums, lambda s: F.when(s > 0, 1).otherwise(0)),
        lambda sign_bits: F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda c: F.aggregate(
                F.slice(sign_bits, c.cast("int") * 16 + 1, 16),
                F.lit(0),
                lambda acc, bit: acc * 2 + bit,
            ),
        ),
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits_fn=simhash_bits,
) -> DataFrame:
    """X2 (SimHash flavor) — chunk-blocked near-dup pairs.

    Pigeonhole: hamming ≤ 3 over 64 bits ⇒ at least one of the 4 16-bit
    chunks is equal → block on (chunk index, chunk value), verify hamming
    on candidates. Same bounded-candidates shape as MinHash LSH.
    ``bits_fn`` selects the signature hash (xxhash64 default;
    :func:`simhash_bits_portable` for the oracle-reproducible md5 variant).
    """
    sigs = ensure_min_partitions(df).select(
        F.col(id_col), bits_fn(F.col(text_col)).alias("sig")
    )
    # blocked feeds BOTH sides of the chunk-bucket self-join — persist so
    # the signature fold (64-bit accumulator over every token hash; the
    # portable variant pays two md5s per token) runs once, not twice
    # (r15-opt, guide §5)
    blocked = tracked_persist(
        sigs.select(
            id_col, "sig", F.posexplode("sig").alias("chunk_idx", "chunk_val")
        )
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.sig"),
            F.col("b.sig"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _span_tokens(docs: DataFrame, min_tokens: int) -> DataFrame:
    """(doc_id, __t token array) for docs long enough to hold one gram.

    Fanned out to core count (the per-position hashing below is CPU-bound
    and a single-row-group scan would serialize it on one task) and
    tracked-persisted: the pairwise path consumes it THREE times (gram
    hashes + both verify sides), and without a materialization point each
    branch re-splits the corpus."""
    return tracked_persist(
        ensure_min_partitions(
            docs.select("doc_id", F.split("text", " ").alias("__t")).filter(
                F.size("__t") >= min_tokens
            )
        )
    )


def _span_gram_hashes(toks: DataFrame, min_tokens: int) -> DataFrame:
    """(doc_id, pos, gh) — xxhash64 of the ``min_tokens``-gram at each start
    position. The gram STRING is built only transiently inside the lambda
    and never materialized as a column, so downstream shuffles move an
    8-byte key instead of a ~min_tokens-word string (~10× narrower)."""
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - min_tokens),
                lambda i: F.xxhash64(
                    F.array_join(F.slice("__t", i + 1, min_tokens), " ")
                ),
            )
        ).alias("pos", "gh"),
    )


def exact_span_matches(
    docs: DataFrame, min_tokens: int = 20, max_gram_df: int | None = None
) -> DataFrame:
    """X1/X2 — maximal exact token spans shared across ``docs(doc_id, text)``.

    The substring-dedup primitive of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", which removes exact
    duplicate spans of >= 50 BPE tokens corpus-wide), re-expressed as
    relational dataflow instead of a suffix array:

    1. every document emits the 64-bit xxhash64 of its ``min_tokens``-gram
       at each start position (map-only; one row per token — the gram
       string itself is never materialized, so the join below shuffles
       8-byte keys, not 20-token strings);
    2. gram hashes equi-join across documents (``id_a < id_b``), then every
       candidate pair is VERIFIED against the original token arrays
       (``slice(ta, pa, k) == slice(tb, pb, k)`` after an equi-join back to
       the docs) — hash collisions are filtered out, so the result is
       byte-exact gram equality and recall is 100% by construction;
    3. consecutive matching positions merge into MAXIMAL spans with the
       gaps-and-islands trick: within a (pair, ``pos_a - pos_b``) group,
       ``pos_a - row_number()`` is constant exactly along a consecutive
       run, so grouping on it yields one row per maximal span — two
       disjoint shared spans with the same alignment stay separate.

    ``max_gram_df`` guards the pairwise OUTPUT against viral boilerplate: a
    gram shared by k documents emits k(k-1)/2 pair rows, so licence headers
    / navigation chrome make this reporting shape quadratic per hot gram.
    With a cap, grams whose (hash-bucket) document frequency exceeds it are
    dropped before the self-join — the cap is computed on the hash, so an
    (astronomically rare) collision can only make the cap bind EARLIER,
    never miss it. Note the cap drops capped grams GLOBALLY, not per pair:
    a maximal span between one below-cap doc pair gets split (or shortened)
    wherever an interior gram happens to be viral corpus-wide — the cap
    trades span completeness for bounded output on ALL pairs, not just
    hot-gram pairs. Corpus-wide EXCISION never needs the pair
    set at all:
    :func:`span_removal_positions` is the O(df)-per-gram path — use it, not
    a huge ``max_gram_df``, when the goal is removal rather than reporting.

    The islands window partitions by (doc pair, alignment), whose groups
    are bounded by document length — never a corpus-scale sort.
    Suffix-array construction is inherently sequential; this shape trades
    its O(n log n) for equi-joins that AQE can split arbitrarily wide.

    Returns (doc_a, doc_b, a_start, b_start, span_tokens); starts are
    0-based token offsets, span_tokens >= min_tokens.
    """
    from pyspark.sql import Window

    toks = _span_tokens(docs, min_tokens)
    grams = _span_gram_hashes(toks, min_tokens)
    if max_gram_df is not None:
        dfw = Window.partitionBy("gh")
        grams = grams.withColumn("__df", F.count(F.lit(1)).over(dfw)).filter(
            F.col("__df") <= max_gram_df
        ).drop("__df")
    a, b = grams.alias("ga"), grams.alias("gb")
    cand = a.join(
        b,
        (F.col("ga.gh") == F.col("gb.gh")) & (F.col("ga.doc_id") < F.col("gb.doc_id")),
    ).select(
        F.col("ga.doc_id").alias("doc_a"),
        F.col("gb.doc_id").alias("doc_b"),
        F.col("ga.pos").alias("pa"),
        F.col("gb.pos").alias("pb"),
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("__t").alias("__ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("__t").alias("__tb"))
    matches = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.slice(F.col("__ta"), F.col("pa") + 1, min_tokens)
            == F.slice(F.col("__tb"), F.col("pb") + 1, min_tokens)
        )
        .select("doc_a", "doc_b", "pa", "pb")
    )
    run = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
    return (
        matches.withColumn("diff", F.col("pa") - F.col("pb"))
        .withColumn("grp", F.col("pa") - F.row_number().over(run))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.max("pa") - F.min("pa") + min_tokens).alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def span_removal_positions(docs: DataFrame, min_tokens: int = 20) -> DataFrame:
    """X1/X2 — the (doc, pos) token-removal set for corpus-wide span
    excision, WITHOUT materializing doc pairs: per distinct gram the
    minimum doc id is the keeper, and every other occurrence contributes
    its ``min_tokens`` covered positions to the removal set.

    Output per gram is O(df) — one row per non-keeper occurrence — where
    the pairwise formulation (:func:`exact_span_matches` → explode spans)
    emits O(df²) rows for a gram shared by df documents. The two removal
    sets are IDENTICAL (pinned by ``test_span_canonical_equals_pairwise``):
    a position p in doc D is excised by the pairwise rule iff some matched
    span vs a lower-id doc covers p, i.e. iff some gram start q in
    [p-k+1, p] of D also occurs in a doc < D; and min(doc holding that
    gram) < D is exactly the same condition. Intra-doc repeats excise
    nothing in either formulation (pairs require doc_a < doc_b; the keeper
    keeps every one of its occurrences).

    One exchange: the window groups by (gh, g) — the 64-bit hash spreads
    the partitioning, the gram string disambiguates collisions exactly, and
    each gram occurrence is shuffled once (the unavoidable width of any
    exact grouping; contrast the pairwise variant, which avoids shipping
    gram strings entirely because candidate pairs can be re-verified
    against the docs). The position explode is map-side and bounded by
    k = ``min_tokens`` per occurrence.

    Returns distinct (doc_id, pos) rows.
    """
    from pyspark.sql import Window

    grams = positional_grams(ensure_min_partitions(docs), min_tokens).withColumn(
        "gh", F.xxhash64("g")
    )
    keepw = Window.partitionBy("gh", "g")
    return (
        grams.withColumn("__keep", F.min("doc_id").over(keepw))
        .filter(F.col("doc_id") > F.col("__keep"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_tokens - 1)
            ).alias("pos"),
        )
        .distinct()
    )


def excise_span_duplicates(docs: DataFrame, min_tokens: int = 20) -> DataFrame:
    """X1/X2 — cut duplicated spans out of the corpus (Lee et al. 2021,
    the excision step of exact-substring dedup).

    Policy: for every duplicated gram the LOWER-id document is canonical
    and keeps its copy; every other occurrence has the covered token range
    removed. A document can lose several (possibly overlapping) spans to
    different keepers — positions are deduplicated before removal.

    The removal set comes from :func:`span_removal_positions` — O(df) rows
    per duplicated gram, the shape that survives viral boilerplate (a
    licence header in 10⁶ docs); the pairwise :func:`exact_span_matches`
    spans derive the identical set at O(df²) per hot gram.

    Dataflow after the removal set: distinct (doc, pos) → left join
    against the per-token explode of the corpus → re-assemble surviving
    tokens in position order. Every join is an equi-join on (doc, pos);
    the re-assembly aggregate is per-document, so no stage sees more than
    one document's tokens in a single group.

    Returns (doc_id, clean_text, n_removed_tokens) for EVERY input
    document (untouched docs come through with 0 removed).
    """
    removed = span_removal_positions(docs, min_tokens).withColumn("__cut", F.lit(True))
    return _reassemble_without(docs, removed)


def _reassemble_without(docs: DataFrame, removed: DataFrame) -> DataFrame:
    """Cut a distinct (doc_id, pos, __cut) removal set out of every document
    of ``docs(doc_id, text)`` and re-join the surviving tokens in position
    order. Equi-join on (doc_id, pos); the aggregate is per-document, so no
    group exceeds one doc's tokens. Every input doc comes back (untouched
    docs with 0 removed)."""
    tokens = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    return (
        tokens.join(removed, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__cut").isNull(), F.struct("pos", "tok"))
                        )
                    ),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.when(F.col("__cut").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )


def excise_against_reference(
    docs: DataFrame, ref: DataFrame, min_tokens: int = DECON_N
) -> DataFrame:
    """X4+ — decontamination by EXCISION: every ``min_tokens``-gram of
    ``docs`` that appears ANYWHERE in the reference corpus ``ref`` (the
    benchmark / eval suite) has its covered token range cut out, and the
    cleaned documents are reassembled. The surgical alternative to
    drop-the-whole-document decontamination (``contamination_13gram``):
    Lee et al. 2021 and the Llama recipes prefer excision because a long
    crawl page quoting one benchmark question is still mostly good tokens.

    Scale shape: the reference side reduces to its DISTINCT gram set —
    eval-suite-sized, orders of magnitude below the corpus — so the semi
    join broadcasts under AQE and the training side never reshuffles; the
    position explode is bounded by k per hit. Output is one row per input
    doc (untouched docs pass through with 0 removed).

    SINGLE-PASS semantics (same as Lee et al.'s excision): every gram of
    the ORIGINAL text that matches the reference is removed, but splicing
    the text around a cut can in principle assemble a NEW matching gram
    from the survivors. One pass is the standard trade (the artifact needs
    ~k tokens of the reference split across both edges of a cut); run the
    operator to a fixpoint if a hard zero-overlap guarantee is required —
    each pass only shrinks documents, so it terminates.
    """
    ref_grams = positional_grams(ref, min_tokens).select("g").distinct()
    removed = (
        positional_grams(docs, min_tokens)
        .join(ref_grams, "g", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_tokens - 1)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("__cut", F.lit(True))
    )
    return _reassemble_without(docs, removed)


# ---------------------------------------------------------------------------
# character-level near-dup (banded Levenshtein funnel, r12)

EDIT_DISTANCE_CHARS = "etaoinsrhldcum "  # q=1 count-filter alphabet


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: int = 5,
    band: int = 8,
    chars: str = EDIT_DISTANCE_CHARS,
) -> DataFrame:
    """X2+ (r12) — CHARACTER-level near-dup pairs within Levenshtein
    distance ``tau`` via the block → count-filter → verify funnel:

    1. BLOCK on exact length bands (edit ≥ |Δlen|, so a qualifying pair's
       lengths differ by ≤ τ; with τ < band width the pair lands in the
       same or adjacent band — two hash equi-joins, never all-pairs);
    2. COUNT FILTER — the q=1 Ukkonen bound: one edit moves at most two
       character-histogram cells by 1, so edit ≥ L1(histograms)/2; the
       ``len(chars)`` integer counters evaluate INSIDE the join condition
       and prune before any quadratic work (needs no alphabet
       completeness, only that counted chars count identically);
    3. VERIFY with Spark's threshold-bounded Levenshtein (O(τ·L) diagonal
       band; returns −1 above τ).

    Caller contract: counts are per-CODEPOINT; for cross-engine replay
    restrict to text where codepoints == bytes (ASCII) or normalize first.
    ``id_col`` must be UNIQUE: pairs are identified and ordered by id
    (``doc_a < doc_b``), so two distinct rows sharing an id would collapse
    to one identity and their pair would be dropped (same-band arm) —
    dedupe or synthesize a surrogate key first. The adjacent-band arm
    additionally guards ``__id != __id`` so equal-id rows can never emit a
    degenerate ``doc_a == doc_b`` row.
    Returns (doc_a < doc_b, edit_dist ≤ τ), one row per qualifying pair.
    """
    if tau >= band:
        raise ValueError(f"tau ({tau}) must be < band width ({band})")
    hist = [
        (
            F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit(c)))
        ).cast("long").alias(f"__c{i}")
        for i, c in enumerate(chars)
    ]
    # the banded projection feeds FOUR join inputs (two self-joins × two
    # sides); persisting it runs the len(chars) per-row replace() histogram
    # scans once instead of four times, and ensure_min_partitions fans the
    # single-row-group scan out to core count — without it the cached frame
    # kept the scan's 2 partitions and the whole band join + Levenshtein
    # verify ran on 2 tasks (r15-opt, guide §5 / §2.5 input skew)
    d = tracked_persist(
        ensure_min_partitions(df).select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
            F.length(text_col).cast("long").alias("__n"),
            F.floor(F.length(text_col) / band).cast("long").alias("__band"),
            *hist,
        )
    )
    a, b = d.alias("a"), d.alias("b")
    l1 = sum(
        F.abs(F.col(f"a.__c{i}") - F.col(f"b.__c{i}")) for i in range(len(chars))
    )
    close = (F.abs(F.col("a.__n") - F.col("b.__n")) <= tau) & (l1 <= 2 * tau)
    same_band = a.join(
        b,
        (F.col("a.__band") == F.col("b.__band"))
        & (F.col("a.__id") < F.col("b.__id"))
        & close,
    ).select(
        F.col("a.__id").alias("doc_a"),
        F.col("b.__id").alias("doc_b"),
        F.col("a.__t").alias("__ta"),
        F.col("b.__t").alias("__tb"),
    )
    next_band = a.join(
        b,
        (F.col("b.__band") == F.col("a.__band") + 1)
        & (F.col("a.__id") != F.col("b.__id"))
        & close,
    ).select(
        F.least("a.__id", "b.__id").alias("doc_a"),
        F.greatest("a.__id", "b.__id").alias("doc_b"),
        F.col("a.__t").alias("__ta"),
        F.col("b.__t").alias("__tb"),
    )
    lev = F.levenshtein("__ta", "__tb", tau)
    return (
        same_band.unionByName(next_band)
        .withColumn("edit_dist", lev.cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    )
