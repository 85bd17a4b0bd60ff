"""Round-14 curation operators: submodular (facility-location-style) data
SELECTION by marginal n-gram coverage.

The selection side of the curation stack the registry did not yet have: the
dedup families remove redundancy AFTER the fact; greedy max-coverage picks
the next document whose 13-token grams add the MOST unseen grams to the
already-selected set — the classic (1 - 1/e) greedy for monotone submodular
coverage (Nemhauser et al. 1978; used for training-data subset selection in
the CRAIG / facility-location line of work). Reference scope: the reference
DAG curates by filtering only (`dag:135-200`); this extends the [EXT]
LLM-data surface the build mandate names.

Determinism contract (the repo's standard): gains are exact integer counts
of distinct gram strings, ties break on lowest doc_id, zero-gain documents
remain eligible (COALESCE(gain, 0) on BOTH engines) so every round picks
exactly one document and the output shape is fixed at _COV_ROUNDS rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..functions import text as TX
from ..registry import register
from ..sources.tables import load

_COV_ROUNDS = 5  # documents selected (greedy rounds)
_COV_N = 13  # gram width — the decontamination family's unit, reused


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


# The distinct (doc_id, gram) table — factored (r15) so the coverage
# trainer and the novelty readout (llm_ext14) share ONE gram definition.
_DG_CTES = f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(t[pos + 1:pos + {_COV_N}], ' ') AS g
      FROM (SELECT doc_id, t, UNNEST(range(len(t) - {_COV_N - 1})) AS pos
            FROM toks WHERE len(t) >= {_COV_N})
    )"""

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
    """X4+ (r14) — greedy max-coverage SELECTION: pick {_COV_ROUNDS}
    documents, each round taking the document whose distinct {_COV_N}-token
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

    Plan at 100 TB: the gram table builds once ({_COV_N}-token shingles,
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
    """The distinct ``(doc_id, g)`` {_COV_N}-token gram table — the Spark
    twin of ``_DG_CTES``, factored (r15) so the coverage trainer and the
    novelty readout (llm_ext14) share ONE gram definition per engine."""
    return docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), n=_COV_N)).alias("g")
    ).distinct()


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
    # multiplicity while Spark kept per-row gains — the llm_ext12
    # adjacent-band class, r14 review) and batch > 1 could pick the same
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
    """X4+ (r14) — BATCH greedy max-coverage, the M ≫ rounds scale path
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
# ivf_recall_report — the serving index's recall, as a driver row

_IVR_K = 10  # panel depth on both arms (matches embedding_topk_ivf_batch)


def _ivr_oracle() -> str:
    """Both arms off the SHARED llm_ext8 prefix: the probed candidates
    (``cand``) ARE the serving entry's, and the exact arm scores the same
    double-precision 4dp cosine over the full corpus — so the report
    measures exactly the pipeline it audits."""
    from .llm_ext8 import IVF_BATCH_CTES

    return f"""
    WITH {IVF_BATCH_CTES},
    iv10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM cand) WHERE rn <= {_IVR_K}
    ),
    ex AS (
      SELECT q.query_id, e.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> e.v[i] * q.qv[i]))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> e.v[i] * e.v[i]))) * q.qn),
             4) AS cos_sim
      FROM e CROSS JOIN qs q
    ),
    ex10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM ex) WHERE rn <= {_IVR_K}
    ),
    ov AS (
      SELECT x.query_id, COUNT(i.vec_id) AS n_common, COUNT(*) AS n_exact
      FROM ex10 x LEFT JOIN iv10 i
        ON i.query_id = x.query_id AND i.vec_id = x.vec_id
      GROUP BY x.query_id
    )
    SELECT query_id, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 10000 // n_exact AS BIGINT) AS recall_x1e4
    FROM ov ORDER BY query_id
    """


@register("ivf_recall_report", oracle=_ivr_oracle())
def q_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r14) — the serving index's RECALL as a driver-checkable row:
    per batch-panel query (vec_id % 100 == 0, the embedding_topk_ivf_batch
    panel), exact top-{_IVR_K} by the family's 4dp double cosine vs the
    IVF probe-3 top-{_IVR_K}, reporting (n_common, recall_x1e4). Recall
    floors have lived in tests since r7; this makes the production
    quality number a REGISTRY readout the driver value-hashes every
    window it's seated — the ann_cell_size_report pattern applied to
    retrieval quality (an index regression shows up as a changed row,
    not a silently-weaker test margin). Denominator = the ACTUAL exact
    panel size (the matryoshka short-panel rule).

    Plan at 100 TB: the IVF arm is the serving entry's own plan
    (broadcast centroids + probe table, one corpus pass); the exact arm
    is one broadcast panel × corpus map pass + a per-query top-k window
    — the measurement instrument, run over a sampled panel in
    production exactly like matryoshka_prefix_recall. Shared oracle
    prefix (llm_ext8.IVF_BATCH_CTES) pins the audit to the audited
    pipeline's text.
    """
    from ..operators.similarity import cosine, ensure_min_partitions, ivf_topk_batch

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    iv10 = ivf_topk_batch(emb, queries, k=_IVR_K, n_probe=3).select(
        "query_id", "vec_id"
    )
    qpanel = F.broadcast(
        queries.select("query_id", F.col("embedding").alias("__qvec"))
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    ex10 = (
        ensure_min_partitions(emb)
        .crossJoin(qpanel)
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 4).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVR_K)
        .select("query_id", "vec_id")
    )
    return (
        ex10.join(
            iv10.withColumn("__hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("long").alias("n_common"),
            F.count(F.lit(1)).cast("long").alias("__ne"),
        )
        .select(
            "query_id",
            "n_common",
            F.expr("CAST(n_common * 10000 div __ne AS BIGINT)").alias("recall_x1e4"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# curriculum_shard_order — easy→hard ordering INSIDE each training shard


def _curriculum_oracle() -> str:
    """The base shuffle's shard buckets (llm_ext2.training_shard_assignment
    text) composed with the SHARED CCNet scoring CTE (llm_ext5._CCNET_CTES,
    the same text perplexity_buckets_ccnet and epoch_repeat_plan consume) —
    three entries, one scoring definition, zero drift."""
    from .llm_ext5 import _CCNET_CTES

    return f"""
    WITH {_CCNET_CTES},
    k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':shuffle:42') AS key
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) % 8 AS INT)
               AS shard
      FROM k
    )
    SELECT b.doc_id, s.shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.shard
                                   ORDER BY b.unigram_nlp, b.doc_id)
                AS BIGINT) AS pos,
           b.unigram_nlp
    FROM bucketed b JOIN s ON s.doc_id = b.doc_id
    ORDER BY shard, pos
    """


@register("curriculum_shard_order", oracle=_curriculum_oracle())
def q_curriculum_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r14) — CURRICULUM ordering inside each training shard: the
    same md5 shard buckets as training_shard_assignment (membership
    unchanged — the loader still streams the same shards), but the
    WITHIN-shard order is easiest-first by the shared CCNet unigram
    negative-log-probability score (ascending = most-predictable text
    first, the classic curriculum-learning schedule; Bengio et al. 2009).
    Emits (doc_id, shard, pos, unigram_nlp) — swap this frame for the
    base shuffle's at shard-write time and the run trains curriculum-
    ordered with zero other pipeline changes.

    Composition contract: shard buckets are BYTE-IDENTICAL to the base
    shuffle's (same md5 seed-space ':shuffle:42'), and the score is the
    SHARED ccnet_bucketed frame (one scoring definition across
    perplexity_buckets_ccnet, epoch_repeat_plan, and this entry — the
    epoch_repeat_plan factoring rule). Only the within-shard ORDER BY
    differs from the base shuffle: (unigram_nlp, doc_id) instead of
    (md5 key, doc_id).

    Plan at 100 TB: identical dataflow to the base shuffle —
    repartition(shard) + sortWithinPartitions((score, doc_id)) +
    partitioned write; the scoring pass is the existing one-corpus-pass
    token join. A window per shard, never a global sort.
    """
    from .llm_ext5 import ccnet_bucketed

    scored = ccnet_bucketed(spark, sf_dir).select("doc_id", "unigram_nlp")
    keyed = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle:42"))
            ).alias("__key"),
        )
        .withColumn(
            "shard",
            (
                (F.expr("locate(substr(__key, 1, 1), '0123456789abcdef')") - 1) % 8
            ).cast("int"),
        )
        .select("doc_id", "shard")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("unigram_nlp", "doc_id")
    return (
        keyed.join(scored, "doc_id")
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
            "unigram_nlp",
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# fuzzy_decontaminate_minhash — GPT-3-style fuzzy (near-dup) decontamination

_FUZZ_T = 0.5  # Jaccard threshold (matches the minhash_near_dups entry)


def _assert_unique_doc_ids(docs: DataFrame, entry: str) -> None:
    """Construction-time uniqueness probe (registry LAZINESS contract: a
    plan may run a tiny scalar job while being built). The Spark mirror
    of the oracle's ``uq`` error() guard — one count/count_distinct
    aggregate over the bare id column (map-side partial agg, no text
    shuffled), so the production path pays ~nothing and a duplicate-id
    input fails LOUDLY on both engines instead of diverging silently
    (ADVICE r14: per-row shingle arrays vs exploded postings inflate
    differently on duplicates)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("d")
    ).first()
    if row.n != row.d:
        raise ValueError(
            f"{entry}: duplicate doc_id rows in documents input "
            f"(rows={row.n}, distinct ids={row.d}); fuzzy decontamination "
            "requires unique ids — dedupe upstream (dedup_exact_groups)"
        )


def _fuzz_pair_ctes() -> str:
    """The SHARED exact train×bench pair table ``p (tid, bid, jaccard)``
    of QUALIFYING pairs: 3-gram Jaccard via the shared inverted-index
    shingle CTE (llm_ext._DUCK_SHINGLES) against the shared benchmark
    slice (llm_ext3._BENCH_PRED_SQL — the same eval set every
    contamination entry uses). The threshold compares the UNROUNDED
    ratio (the ssjoin precedent; rounding only for display — a pair with
    exact Jaccard in [T−5e-5, T) must NOT qualify via round-up, r14
    review) and lives HERE so every consumer inherits the same boundary
    rule. One text, two consumers (the batch per-doc rollup and the
    streaming pair emitter) — the _CCNET_CTES discipline, so the two
    fuzzy-decontamination oracles cannot drift.

    Duplicate-id contract (ADVICE r14): a duplicated ``doc_id`` is a DATA
    ERROR here, asserted loudly on BOTH engines rather than collapsed —
    the ``uq`` guard below errors the oracle, and the Spark arms run the
    matching construction-time probe (``_assert_unique_doc_ids``).
    Rationale: the per-row shingle arrays (Spark) and the exploded
    postings + one sizes row per document row (oracle) inflate
    DIFFERENTLY on duplicate ids, and the union-collapse the greedy
    entries use would cost this production path a full-corpus doc_id
    shuffle of the shingle arrays (the greedy gram table is already
    exploded+distinct, so its collapse was free). Pinned by the
    duplicate-id fixture test: both engines must RAISE."""
    from .llm_ext import _DUCK_SHINGLES
    from .llm_ext3 import _BENCH_PRED_SQL

    return f"""{_DUCK_SHINGLES},
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
      WHERE {_BENCH_PRED_SQL} AND (SELECT ok FROM uq) = 1
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
    """X4+ (r14) — FUZZY decontamination, the GPT-3 appendix-C method the
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
    from .llm_ext3 import _bench_pred

    docs = load(spark, sf_dir, "documents")
    _assert_unique_doc_ids(docs, "fuzzy_decontaminate_minhash")
    train = docs.filter(~_bench_pred())
    bench = docs.filter(_bench_pred())
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
# doremi_domain_weights — multiplicative-weights domain reweighting

_MW_ROUNDS = 4  # weight-update rounds (DoReMi's T, scaled to the fixture)
_MW_DEN = 10_000  # per-round factor = (DEN + excess_micro) / DEN, exact ints
_MW_PPM = 1_000_000  # weights normalized to parts-per-million each round


def _doremi_oracle() -> str:
    """Replays the per-source loss aggregation over the SHARED CCNet
    scoring CTE (llm_ext5._CCNET_CTES — one scoring definition across
    perplexity_buckets_ccnet / epoch_repeat_plan / curriculum_shard_order
    / this entry) and every multiplicative-weights round as generated
    CTEs in exact BIGINT arithmetic (the GD-training / greedy-coverage
    precedent). Every SUM is CAST back to BIGINT at the generator so no
    HUGEINT reaches an output column (the r12 lint contract)."""
    from .llm_ext5 import _CCNET_CTES

    rounds = []
    prev = "w0"
    for r in range(1, _MW_ROUNDS + 1):
        rounds.append(
            f"""u{r} AS (SELECT source, w * ({_MW_DEN} + excess_micro) AS u
             FROM {prev}),
    w{r} AS (SELECT ex.source, ex.excess_micro,
                    u.u * {_MW_PPM}
                      // (SELECT CAST(SUM(u) AS BIGINT) FROM u{r}) AS w
             FROM ex JOIN u{r} u USING (source))"""
        )
        prev = f"w{r}"
    avg = " + ".join(f"w{r}.w" for r in range(1, _MW_ROUNDS + 1))
    joins = "\n    ".join(
        f"JOIN w{r} ON w{r}.source = ex.source" for r in range(1, _MW_ROUNDS + 1)
    )
    return f"""
    WITH {_CCNET_CTES},
    dm AS (SELECT doc_id, CAST(ROUND(s * 10000) AS BIGINT) AS m FROM sc),
    ds AS (SELECT d.source, dm.m
           FROM documents d JOIN dm ON d.doc_id = dm.doc_id),
    agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(m) AS BIGINT) AS sm
            FROM ds GROUP BY source),
    ctot AS (SELECT CAST(SUM(sm) AS BIGINT) // CAST(SUM(n_docs) AS BIGINT) AS l0
             FROM agg),
    ex AS (SELECT source, n_docs, sm // n_docs AS loss_micro,
                  GREATEST(sm // n_docs - (SELECT l0 FROM ctot), 0) AS excess_micro
           FROM agg),
    w0 AS (SELECT source, excess_micro,
                  {_MW_PPM} // (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS w
           FROM ex),
    {",".join(rounds)}
    SELECT ex.source, ex.n_docs, ex.loss_micro, ex.excess_micro,
           w{_MW_ROUNDS}.w AS w_final_ppm,
           ({avg}) // {_MW_ROUNDS} AS w_avg_ppm
    FROM ex
    {joins}
    ORDER BY ex.source
    """


@register("doremi_domain_weights", oracle=_doremi_oracle())
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (late r14) — DoReMi-style domain mixture reweighting (Xie et
    al. 2023): the data-side half of Domain Reweighting with Minimax
    Optimization — per-domain EXCESS loss drives multiplicative-weights
    rounds, and the round-AVERAGED weights are the mixture the main run
    trains on. Honest scope: DoReMi proper alternates proxy-model
    training with the update; with a FIXED scorer (the SHARED CCNet
    unigram-NLP score — one definition across four entries) the operator
    is the update schedule itself, the piece that turns measured
    per-domain losses into sampling weights.

    Exact integer contract: per-doc scores → micro-units (the 4dp score
    ×10000, exactly representable), per-source loss = floor-mean of
    micro-units, excess = max(loss − corpus loss, 0), and each round
    multiplies by (10000 + excess)/10000 then renormalizes to
    parts-per-million with floor division — no float anywhere past the
    shared scorer, so the whole trajectory value-hash-replays in SQL.

    Plan at 100 TB: corpus-scale work is the shared scorer (one token
    explode + two hash aggs) plus ONE per-source aggregate; the MW
    iteration runs on |domains| rows of driver state (the GD-gradient /
    histogram-walk precedent — model-sized by definition) and the result
    re-enters Spark as a |domains|-row frame.
    """
    from .llm_ext5 import ccnet_bucketed

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    scored = ccnet_bucketed(spark, sf_dir).select("doc_id", "unigram_nlp")
    per_source = (
        docs.join(scored, "doc_id")
        .withColumn("m", F.round(F.col("unigram_nlp") * 10000).cast("long"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("m").alias("sm"),
        )
        .collect()  # model-sized: one row per domain
    )
    tot_m = sum(r.sm for r in per_source)
    tot_n = sum(r.n_docs for r in per_source)
    l0 = tot_m // tot_n
    srcs = sorted(per_source, key=lambda r: r.source)
    loss = {r.source: r.sm // r.n_docs for r in srcs}
    excess = {s: max(v - l0, 0) for s, v in loss.items()}
    # Loud-overflow bound (ADVICE r14): the oracle computes u·PPM in
    # BIGINT where u = w·(DEN + excess) and w ≤ PPM, so excess must keep
    # PPM·(DEN + excess)·PPM inside int64. Python ints never wrap, so
    # without this assert the Spark arm would return values the oracle
    # cannot represent — fail loudly and identically instead.
    _mw_excess_max = (2**63 - 1) // (_MW_PPM * _MW_PPM) - _MW_DEN
    for s, e in excess.items():
        if e > _mw_excess_max:
            raise ValueError(
                f"doremi_domain_weights: excess_micro for source {s!r} "
                f"({e}) exceeds the int64 fixed-point bound "
                f"({_mw_excess_max}) - rescale the loss micro-units"
            )
    w = {r.source: _MW_PPM // len(srcs) for r in srcs}
    acc = {r.source: 0 for r in srcs}
    for _ in range(_MW_ROUNDS):
        u = {s: w[s] * (_MW_DEN + excess[s]) for s in w}
        su = sum(u.values())
        w = {s: u[s] * _MW_PPM // su for s in u}
        for s in w:
            acc[s] += w[s]
    rows = [
        (r.source, r.n_docs, loss[r.source], excess[r.source], w[r.source],
         acc[r.source] // _MW_ROUNDS)
        for r in srcs
    ]
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, loss_micro long, excess_micro long, "
        "w_final_ppm long, w_avg_ppm long",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# knn_graph_lpa_communities — label propagation over the near-dup graph

_LPA_ROUNDS = 3  # synchronous vote rounds (a knob; one join+agg each)


def _lpa_round_cte(i: int) -> str:
    """One synchronous label-propagation round as a CTE:
    ``lp{i-1}`` → ``lp{i}``. Each node adopts the most frequent label
    among its undirected neighbors PLUS itself (the self-vote damps the
    2-cycle oscillation synchronous LPA is known for), ties → smallest
    label — pure integer counts and ids, so both engines pick
    identically."""
    return f""",
    v{i} AS (
      SELECT u.node, l.lab FROM und u JOIN lp{i - 1} l ON u.nbr = l.node
      UNION ALL
      SELECT node, lab FROM lp{i - 1}
    ),
    lp{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY COUNT(*) DESC, lab) AS rk
        FROM v{i} GROUP BY node, lab)
      WHERE rk = 1
    )"""


def _und_ctes() -> str:
    """The undirected base-kNN edge table ``und(node, nbr)`` (plus the
    shared ``qassign`` vector table it rides in on) — factored (r15) so
    label propagation and the k-core peel (llm_ext14) share ONE
    undirected-graph definition."""
    from .llm_ext7 import _KNN_K, _knn_base_cte

    return f"""
    {_knn_base_cte()},
    ed AS (SELECT src_id, nbr_id FROM e0 WHERE rnk <= {_KNN_K}),
    und AS (SELECT DISTINCT node, nbr FROM (
      SELECT src_id AS node, nbr_id AS nbr FROM ed
      UNION ALL
      SELECT nbr_id AS node, src_id AS nbr FROM ed))"""


def _lpa_cte_chain() -> str:
    """The full LPA trajectory as a reusable CTE chain ending at
    ``lp{_LPA_ROUNDS}(node, lab)`` — factored (late r14) so the
    community-capped selection composes the IDENTICAL clustering (the
    `_pagerank_cte` precedent)."""
    rounds = "".join(_lpa_round_cte(i) for i in range(1, _LPA_ROUNDS + 1))
    return f"""{_und_ctes()},
    lp0 AS (SELECT vec_id AS node, vec_id AS lab FROM qassign){rounds}"""


def _lpa_oracle() -> str:
    return f"""
    {_lpa_cte_chain()}
    SELECT l.node AS vec_id, l.lab AS community,
           s.n AS community_size
    FROM lp{_LPA_ROUNDS} l
    JOIN (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n
          FROM lp{_LPA_ROUNDS} GROUP BY lab) s ON s.lab = l.lab
    ORDER BY vec_id
    """


@register("knn_graph_lpa_communities", oracle=_lpa_oracle())
def q_knn_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (late r14) — label-propagation COMMUNITY DETECTION (Raghavan
    et al. 2007) over the undirected base kNN graph: the graph family's
    mesoscale readout between connected components (too coarse — one
    giant component swallows distinct topics) and SemDeDup cells (fixed
    count, geometry-only). Communities over the near-dup graph are the
    "topic islands" a curation run reads to audit mixture coverage and
    to cap per-community sampling. Emits (vec_id, community,
    community_size) after {_LPA_ROUNDS} synchronous rounds.

    Determinism contract: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors and itself
    (the self-vote damps synchronous LPA's classic 2-cycle oscillation),
    ties → smallest label. Votes are integer counts of integer labels —
    nothing float anywhere — so every round replays exactly in the
    oracle's generated per-round CTEs (the PageRank/NN-Descent
    trajectory precedent).

    Plan at 100 TB: the Pregel-on-DataFrames shape — per round ONE
    equi-join of the undirected edge list against the n-row label table
    + one (node, label) hash agg + one per-node top-1 window on the
    agg output (grouped-top-1, not a global sort). Edges persist once
    (CACHE OWNERSHIP); labels stay distributed, zero driver state;
    rounds is a knob, cost linear in it. Since r15 the label frame is a
    VersionedMart-committed table (`lpa_labels_durable`) every community
    consumer serves — built once per (corpus, partitioning), never
    recomputed per consumer.
    """
    lp = lpa_labels_durable(spark, sf_dir)
    sizes = lp.groupBy("lab").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    return (
        lp.join(sizes, "lab")
        .select(
            F.col("node").alias("vec_id"),
            F.col("lab").alias("community"),
            "community_size",
        )
        .orderBy("vec_id")
    )


def _und_frame(spark: SparkSession, sf_dir: str):
    """``(assign, und)`` — the Spark twin of ``_und_ctes``: the full
    vector assignment plus the persisted undirected base-kNN edge table,
    shared by label propagation and the k-core peel (llm_ext14)."""
    from ..caching import tracked_persist
    from .llm_ext7 import _knn_base_edges

    assign, edges = _knn_base_edges(spark, sf_dir)
    ed = edges.select("src_id", "nbr_id")
    und = tracked_persist(
        ed.select(F.col("src_id").alias("node"), F.col("nbr_id").alias("nbr"))
        .unionAll(ed.select(F.col("nbr_id").alias("node"), F.col("src_id").alias("nbr")))
        .distinct()
    )
    return assign, und


def lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED shared label frame ``(node, lab)`` after
    ``_LPA_ROUNDS`` rounds — the Spark twin of ``_lpa_cte_chain``,
    consumed by the registered community query and the community-capped
    selection (one propagation definition, two consumers)."""
    from pyspark.sql import Window

    assign, und = _und_frame(spark, sf_dir)
    # seed from EVERY vector, not just edge endpoints: an isolated vector
    # (alone in its cell — no kNN edge) is its own singleton community
    # under LPA semantics, and must stay eligible for the capped
    # selection (r14 review)
    lp = assign.select(F.col("vec_id").alias("node"), F.col("vec_id").alias("lab"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            und.join(lp.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "lab")
            .unionAll(lp.select("node", "lab"))
        )
        cnt = votes.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab"))
        lp = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lab")
        )
    return lp


def lpa_labels_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, lab)`` read back from a :class:`VersionedMart` COMMIT —
    the durable promotion (VERDICT r14 plan audit: "at production scale
    the LPA labels would be a committed table rather than recomputed per
    consumer", the `_knn_refined_tables` precedent). The propagation
    runs ONCE per (corpus, partitioning), commits through the M4 atomic
    manifest swap, and every consumer — the registered community
    readout, the community-capped selection, and the funnel's
    community-cap stage — serves the committed snapshot. Memo, key and
    lock rules: :mod:`..artifacts`; the propagation is deterministic
    (integer label votes, smallest-label ties) and parquet round-trips
    the two BIGINT columns exactly."""
    return artifacts.memoized_commit(
        spark, "lpa_labels", sf_dir,
        build=lambda commit: commit("labels", lpa_labels(spark, sf_dir)),
    )["labels"].read(spark)


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
    """One WordPiece round: the SHARED pair plumbing (llm_ext8._px_cte)
    and merge pass (llm_ext8._merge_w_cte), with the LIKELIHOOD argmax as
    the one trainer-specific CTE — unigram counts ug{r} + pair counts
    pc{r}, pick best{r} by the 1e12-quantized score
    count(a,b)·SCALE // (count(a)·count(b)) (ties → score DESC, lhs,
    rhs — the floor-quantized score IS the selection contract, so both
    engines pick identically)."""
    from .llm_ext8 import _merge_w_cte, _px_cte

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
    from .llm_ext8 import _BPE_INIT_CTES

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
    text (llm_ext8._BPE_INIT_CTES / bpe_init_vocab — one symbol-table
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
    from .llm_ext8 import apply_merge, bpe_init_vocab, symbol_pair_counts

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


# ---------------------------------------------------------------------------
# community_capped_select — cluster-balanced curation over the communities

_CAP_K = 4  # docs kept per community


def _cap_oracle() -> str:
    """Composes the SHARED LPA trajectory (`_lpa_cte_chain` — the
    identical clustering the registered community entry checks) with the
    SHARED CCNet scoring CTE (no CTE-name overlap between the chains,
    verified at authoring) and a per-community top-{_CAP_K} window."""
    from .llm_ext5 import _CCNET_CTES

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
    """X3 × X4 (late r14) — community-CAPPED selection: keep the
    {_CAP_K} highest-quality documents per LPA community (lowest shared
    CCNet unigram-NLP score = CCNet's "head"; ties → lowest doc_id) —
    cluster-balanced curation, the DataComp/SemDeDup-style move that
    stops one giant topic island from dominating the kept set while
    still keeping its best exemplars. Emits (community,
    rank_in_community, doc_id, unigram_nlp) for the kept rows.

    Pure composition of two audited shared definitions: the LPA label
    frame (`lpa_labels_durable` / `_lpa_cte_chain` — the clustering the
    community entry hash-checks, served from its VersionedMart commit
    since r15) and the CCNet scorer (`ccnet_bucketed` — the score four
    other entries share). doc_id ≡ vec_id by the fixture contract (the
    SemDeDup/semantic-decontamination precedent).

    Plan at 100 TB: the LPA cost is paid ONCE per corpus (committed
    table, the durable-graph posture); the cap itself is ONE
    per-community top-{_CAP_K} window — grouped top-k partitioned on the
    community key, never a global sort — plus one equi-join.
    """
    from pyspark.sql import Window

    from .llm_ext5 import ccnet_bucketed

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
    """Replays the SHARED Gopher metric + rule texts (llm_ext3
    `_GOPHER_M_CTES` / `_GOPHER_RULES_SQL` — one rule set, two consumers)
    and counts per-pair co-rejections over a literal rule grid so the
    output shape is fixed (every pair present, zero-filled)."""
    from .llm_ext3 import _GOPHER_M_CTES, _GOPHER_RULES_SQL

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
    """X4 (late r14) — the quality-filter ABLATION matrix: for every
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
    from .llm_ext3 import gopher_metric_frame, gopher_rule_cols

    m = gopher_metric_frame(spark, sf_dir)
    rules = gopher_rule_cols()
    names = sorted(rules)
    # per-doc failed-rule array (in sorted-name order), pairs emitted
    # IN-ROW (each rule with every later-or-equal rule) — one corpus
    # scan, no self-join (r14 review: the join shape evaluated the
    # metric pass twice)
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
