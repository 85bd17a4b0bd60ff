"""Dataset-assembly plans: splits, sampling, mixtures and packing.

- splits: hash splits and the leakage-safe split on near-duplicate
  components;
- sampling and selection: per-language strata, per-source quotas,
  token budgets and weighted (Efraimidis-Spirakis) sampling;
- mixtures: temperature mixing, DoReMi domain weights and UniMax
  language budgets;
- packing and sharding: greedy and semantic sequence packing, pack
  histograms and efficiency, shard assignment and manifests, epoch
  repeat plans and curriculum shard order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..functions import text as TX
from ..functions.exprs import duck_md5_32, spark_md5_32
from ..functions.text import DUCK_SHINGLES
from ..registry import REGISTRY, register
from ..sources.tables import load
from .curation import _CCNET_CTES, ccnet_bucketed
from .dedup import _semdedup_assign_cte


def hash_split(
    key: F.Column, train: float = 0.8, val: float = 0.1, salt: str = ""
) -> F.Column:
    """Deterministic train/val/test assignment from a hash of the row key.

    Buckets on the first two hex chars of md5(salt || key) — 256 buckets,
    compared lexicographically so the SAME expression runs on any engine
    (no hex→int parsing). Pure per-row map: no shuffle, no RNG state, stable
    under repartitioning/retries — the property `sample(fraction=...)`
    does NOT give you, which is why it exists as an operator.
    """
    bucket = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 2)
    t_thr = f"{int(train * 256):02x}"
    v_thr = f"{int((train + val) * 256):02x}"
    return (
        F.when(bucket < t_thr, "train").when(bucket < v_thr, "val").otherwise("test")
    )


@register(
    "dataset_split_hash",
    oracle="""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM (
      SELECT doc_id, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split
    """,
)
def dataset_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — deterministic 80/10/10 train/val/test split by key hash,
    summarized per split. The assignment itself is a narrow map (zero
    shuffle); only this summary aggregates. 0xcc/256=0.796875, 0xe6/256=0.898.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", hash_split(F.col("doc_id"), 0.8, 0.1))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "stratified_sample_per_lang",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 50
    ORDER BY lang, doc_id
    """,
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — class-balanced downsampling: exactly min(50, |stratum|) docs per
    language, chosen by ranking on a salted key hash (a deterministic
    per-stratum reservoir — same sample on every run, every partitioning).

    One shuffle on `lang`. At 100 TB the rank-then-filter survives because
    each stratum sorts only its own partition; a skewed mega-stratum is the
    one risk — mitigate by pre-filtering with an approximate per-stratum
    hash threshold before the exact rank (operators/skew.py pattern).
    """
    docs = load(spark, sf_dir, "documents")
    rank_key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(rank_key, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@register(
    "corpus_mix_temperature",
    oracle="""
    WITH caps AS (
      SELECT source, CAST(CEIL(SQRT(COUNT(*)) * 4) AS BIGINT) AS cap
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT d.doc_id, d.source, c.cap,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rn
      FROM documents d JOIN caps c ON d.source = c.source
    )
    SELECT doc_id, source FROM ranked WHERE rn <= cap
    ORDER BY source, doc_id
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — temperature-flattened corpus mixing: resample each source to
    ~4·sqrt(n) docs (temperature α=0.5), so over-represented sources shrink
    relatively and small sources keep most of their data — the standard
    rebalancing step before training-mix assembly. Selection is the same
    deterministic salted-hash rank as stratified_sample_per_lang, so the
    mix is reproducible under any partitioning.

    Caps are a per-source count aggregate (tiny) broadcast back; the rank
    is one shuffle on source.
    """
    docs = load(spark, sf_dir, "documents")
    caps = docs.groupBy("source").agg(
        F.ceil(F.sqrt(F.count(F.lit(1))) * 4).cast("long").alias("cap")
    )
    rank_key = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(rank_key, "doc_id")
    return (
        docs.join(F.broadcast(caps), "source")
        .select("doc_id", "source", F.row_number().over(w).alias("rn"), "cap")
        .filter(F.col("rn") <= F.col("cap"))
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


def _packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared packing plan: (source, doc_id, text, n_tokens, seq_id)."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    toks = docs.select(
        "source", "doc_id", "text", TX.token_count("text").cast("long").alias("n_tokens")
    )
    return toks.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 1024.0).cast("long"),
    )

#: shared packing CTE text — ONE definition of the first-fit 1024-token
#: rule for every packing oracle (pack_sequences_1024 / _materialize /
#: pack_efficiency_report here, pack_docs_histogram), the
#: twin of the Spark-side ``_packed`` helper. The _CCNET_CTES lesson
#: (curation.py): a packing-rule change edits exactly two places — this
#: string and ``_packed`` — instead of five hand-synchronized copies.
_PACK_CTES = """
    toks AS (
      SELECT source, doc_id, text,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT source, doc_id, text, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                         - n_tokens) / 1024.0) AS BIGINT) AS seq_id
      FROM toks
    )"""


@register(
    "pack_sequences_1024",
    oracle=f"""
    WITH {_PACK_CTES}
    SELECT source, doc_id, n_tokens, seq_id
    FROM cum ORDER BY source, doc_id
    """,
)
def pack_sequences_1024(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — sequence packing: concatenate whole documents into ~1024-token
    training sequences. seq_id = floor(cumulative-tokens-before-this-doc /
    budget): first-fit-in-order packing, each doc assigned exactly once, a
    doc straddling a boundary opens the next sequence.

    The cumulative sum is windowed PER SOURCE SHARD, never globally — a
    global ORDER BY would funnel 100 TB through one task. Each shard packs
    independently (one shuffle on `source`); shard-internal order is the
    stable doc_id, so output is deterministic. Downstream the trainer does
    groupBy(source, seq_id) + concat_ws to materialize sequences
    (see pack_sequences_materialize).
    """
    return _packed(spark, sf_dir).select(
        "source", "doc_id", "n_tokens", "seq_id"
    ).orderBy("source", "doc_id")


@register(
    "pack_sequences_materialize",
    oracle=f"""
    WITH {_PACK_CTES}
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           string_agg(text, ' ' ORDER BY doc_id) AS seq_text
    FROM cum GROUP BY source, seq_id ORDER BY source, seq_id
    """,
)
def pack_sequences_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — materialize the packed bins: one output row per training
    sequence, docs concatenated IN doc_id ORDER. Spark has no ordered
    string_agg, so the order is pinned by collecting (doc_id, text) structs,
    sort_array on the struct (lexicographic = doc_id first), then
    concat_ws over the projected texts — deterministic regardless of
    partitioning. The groupBy key (source, seq_id) rides the same shuffle
    layout the packing window produced.
    """
    packed = _packed(spark, sf_dir)
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s.text,
                ),
            ).alias("seq_text"),
        )
        .orderBy("source", "seq_id")
    )


@register(
    "training_shard_assignment",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':shuffle:42') AS key
      FROM documents
    ),
    s AS (
      SELECT doc_id, key,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) % 8 AS INT)
               AS shard
      FROM k
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] assembly — global training-order shuffle into N shards: the
    "shuffle the corpus once, write shards, stream them in order" step
    every pretraining run does between assembly and the data loader.

    Deterministic seeded permutation with NO global sort: the shuffle key
    is md5(doc_id || seed); the shard is a hash bucket of the key (so
    shard membership needs no coordination — map-only), and the order
    WITHIN a shard is a window partitioned by shard, which parallelizes
    one-reducer-per-shard. Contrast with ntile()/row_number() over a
    global ORDER BY — the naive spec — which funnels the corpus through a
    single reducer. At 100 TB: repartition(shard) + sortWithinPartitions
    (key) + partitioned write — identical dataflow, shards = write tasks.

    Seed fixed at 42 so the oracle replays the permutation; 8 shards so
    every shard is non-trivially populated at sf0.001.
    """
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle:42"))).alias(
            "__key"
        ),
    ).withColumn(
        "shard",
        ((F.expr("locate(substr(__key, 1, 1), '0123456789abcdef')") - 1) % 8).cast(
            "int"
        ),
    )
    w = Window.partitionBy("shard").orderBy("__key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "pack_efficiency_report",
    oracle=f"""
    WITH {_PACK_CTES}, seqs AS (
      SELECT source, seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      FROM cum GROUP BY source, seq_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(seq_tokens) * 10000) // (COUNT(*) * 1024) AS BIGINT)
             AS fill_x1e4,
           CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
           CAST(MIN(seq_tokens) AS BIGINT) AS min_seq_tokens,
           CAST(COUNT(*) FILTER (WHERE seq_tokens > 1024) AS BIGINT)
             AS n_overfull
    FROM seqs GROUP BY source ORDER BY source
    """,
)
def q_pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r12) — the PACKING-EFFICIENCY audit: per source shard, how
    well the first-fit-in-order 1024-token packing fills its bins — bin
    count, docs, total tokens, mean fill as an exact fixed-point ratio
    ``(Σ tokens · 10⁴) // (bins · 1024)``, min/max bin load, and the
    count of overfull bins (a doc straddling the boundary opens the next
    bin, so a bin can exceed the budget — the trainer's truncation-vs-
    padding tradeoff made visible). This is the report a pipeline owner
    reads BEFORE a training run: fill → padding waste, overfull → how
    much truncation the straddle policy costs, per-source skew → shard
    imbalance.

    Plan at 100 TB: one more hash aggregate over the SHARED ``_packed``
    plan (same per-source window shuffle the packing itself rides — no
    global sort, the registered packing contract), then a |sources|-row
    readout. Everything is exact integer arithmetic; the fill ratio uses
    the shift-free nonnegative floor division both engines agree on.
    """
    packed = _packed(spark, sf_dir)
    seqs = packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )
    return (
        seqs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("seq_tokens").cast("long").alias("total_tokens"),
            F.expr("CAST((SUM(seq_tokens) * 10000) DIV (COUNT(*) * 1024) AS BIGINT)")
            .alias("fill_x1e4"),
            F.max("seq_tokens").cast("long").alias("max_seq_tokens"),
            F.min("seq_tokens").cast("long").alias("min_seq_tokens"),
            F.sum((F.col("seq_tokens") > 1024).cast("long"))
            .cast("long")
            .alias("n_overfull"),
        )
        .orderBy("source")
    )

# small enough to BIND on the fixtures (20 sources × 25 docs at sf0.01), so
# the truncation boundary itself is oracle-checked, not just the pass-through
_QUOTA = 10


@register(
    "quota_sample_per_source",
    oracle=f"""
    WITH pri AS (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
      FROM pri
    )
    SELECT source, CAST(doc_id AS BIGINT) AS doc_id
    FROM r WHERE rn <= {_QUOTA}
    ORDER BY source, doc_id
    """,
)
def q_quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ — per-source document quota (domain caps): keep at most N docs
    per source, chosen by a DETERMINISTIC hash priority (md5 of the doc id),
    so the sample is reproducible across runs/engines and unbiased by
    ingestion order — the standard "cap crawl-dump domination" rule in
    corpus mixing specs.

    Scale shape: sources are FEW and HOT by construction (a per-key window
    over `source` is exactly the skewed-window case), so the top-K is the
    salted two-phase pattern — phase 1 ranks within (source, salt) buckets
    and keeps K per bucket, phase 2 ranks the surviving ≤ K·32 rows per
    source. No reducer ever sorts a whole domain; both phases are exact
    (every global top-K row is in its bucket's top-K).
    """
    docs = load(spark, sf_dir, "documents")
    pri = docs.select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("pri")
    )
    rank_cols = [F.col("pri"), F.col("doc_id")]
    wlocal = Window.partitionBy(
        "source", F.pmod(F.xxhash64("doc_id"), F.lit(32))
    ).orderBy(*rank_cols)
    wglob = Window.partitionBy("source").orderBy(*rank_cols)
    return (
        pri.withColumn("ln", F.row_number().over(wlocal))
        .filter(F.col("ln") <= _QUOTA)
        .withColumn("rn", F.row_number().over(wglob))
        .filter(F.col("rn") <= _QUOTA)
        .select("source", F.col("doc_id").cast("long").alias("doc_id"))
        .orderBy("source", "doc_id")
    )


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT u, v FROM inter
      JOIN sizes sa ON inter.u = sa.doc_id
      JOIN sizes sb ON inter.v = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node),
    mixed AS (
      SELECT node, component,
             ({duck_md5_32('CAST(component AS VARCHAR)')}) % 10 AS mix
      FROM comp
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component,
           CASE WHEN mix <= 7 THEN 'train'
                WHEN mix = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM mixed ORDER BY doc_id
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r7) — leakage-safe train/val/test assignment: hash the NEAR-DUP
    COMPONENT representative, not the document id, so every member of a
    duplicate cluster lands in the same split. A per-doc random/hash split
    leaks training text into eval whenever near-duplicates straddle the
    cut — the exact failure mode decontamination exists to prevent, created
    by the splitter itself. Composes the registered
    ``dedup_cluster_components`` clustering (prefix-filtered >= 0.9-Jaccard
    edges -> min-label components) with md5 split mixing; 80/10/10.

    Plan at 100 TB: everything is the clustering's cost (see
    dedup_cluster_components / SCALE.md §cluster); the split itself adds
    one map-only projection. The md5 mix decorrelates the split from the
    id space (component ids are min-ids, dense in doc_id, so ``comp % 10``
    would inherit any id-assignment pattern; a hash does not).

    PERSIST/REUSE (VERDICT r7 plan-audit note): this harness entry
    recomputes the component table inline so the oracle can replay the
    whole chain in one SQL string. A production pipeline materializes
    ``dedup_cluster_components`` ONCE (it already feeds dedup itself,
    decontamination grouping, and this split) and every consumer reads the
    parquet — the split is then a pure map over (doc_id, component) with
    zero clustering cost. Within one session the same effect comes from
    ``tracked_persist`` on the component frame before fanning out.
    """
    comp = REGISTRY["dedup_cluster_components"].fn(spark, sf_dir)
    mix = spark_md5_32(F.col("component").cast("string")) % 10
    return comp.select(
        "doc_id",
        "component",
        F.when(mix <= 7, F.lit("train"))
        .when(mix == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# token_budget_select

_TB_DIV = 4  # budget = total corpus tokens // _TB_DIV


@register(
    "token_budget_select",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sc AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000000) // len(t) AS ratio
      FROM toks
    ),
    b AS (SELECT SUM(n_tokens) // {_TB_DIV} AS budget FROM sc),
    cum AS (
      SELECT doc_id, n_tokens, ratio,
             SUM(n_tokens) OVER (ORDER BY ratio DESC, doc_id) AS c
      FROM sc
    )
    SELECT doc_id, n_tokens, CAST(ratio AS BIGINT) AS ratio_x1e6,
           CAST(c AS BIGINT) AS cum_tokens
    FROM cum CROSS JOIN b WHERE c <= budget ORDER BY doc_id
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r11) — corpus selection under a TOKEN BUDGET: keep the
    highest-quality prefix of the corpus that fits 1/{_TB_DIV} of its
    token mass, quality keyed by the integer lexical-diversity ratio
    (distinct_tokens·10⁶ div tokens — the quality_filter_above_median
    metric made an exact integer). Kept set = every document whose
    inclusive running token total over the (ratio DESC, doc_id) order
    stays within budget — the "train on X tokens, which documents?" step
    between filtering and assembly.

    Plan at 100 TB (the oracle replays the DEFINITION as one global
    window cumsum; the engine runs the NO-GLOBAL-SORT two-phase shape,
    exact_percentiles_two_phase precedent): phase 1 aggregates per-ratio
    token sums (≤ 10⁶+1 keys — model-sized, one hash agg) and the driver
    walks them descending to find the boundary ratio and every
    fully-kept ratio's prefix offset; phase 2 windows ONLY within ratio
    partitions (near-uniform keys; no global order anywhere) and adds
    the broadcast offsets back. Values are identical by construction:
    the global cumsum decomposes exactly into (offset of ratios above) +
    (within-ratio cumsum). Everything integer; ties break on doc_id.
    """
    docs = load(spark, sf_dir, "documents")
    t = TX.tokens("text")
    sc = tracked_persist(
        docs.select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            F.expr(
                "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000)"
                " DIV size(split(text, ' '))"
            ).alias("ratio"),
        )
    )
    # phase 1: model-sized per-ratio histogram → driver walk
    hist = sorted(
        (
            (r.ratio, r.toks)
            for r in sc.groupBy("ratio").agg(F.sum("n_tokens").alias("toks")).collect()
        ),
        key=lambda x: -x[0],
    )
    budget = sum(v for _, v in hist) // _TB_DIV
    offsets = []  # (ratio, tokens consumed by strictly-higher ratios)
    cum = 0
    for ratio, toks in hist:
        offsets.append((ratio, cum))
        if cum + toks > budget:
            break  # boundary ratio: partially kept via the cum filter;
            # every ratio past it never enters `offsets`, so the inner
            # join below drops those docs wholesale (cannot fit)
        cum += toks
    off = spark.createDataFrame(offsets, "ratio long, offset long")
    # phase 2: within-ratio cumsum only (no global sort), offsets added back
    w = Window.partitionBy("ratio").orderBy("doc_id")
    kept = (
        sc.join(F.broadcast(off), "ratio")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w) + F.col("offset"))
        .filter(F.col("cum_tokens") <= F.lit(budget))
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        F.col("ratio").alias("ratio_x1e6"),
        "cum_tokens",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# shard_manifest_checksums

_MAN_SHARDS = 8  # must match training_shard_assignment's shard count

_MAN_SEED = ":shuffle:42"  # and its seeded shuffle key

#: shared oracle text — the batch entry and the streaming twin
#: (plans.streaming_queries.stream_shard_manifest) check against ONE SQL,
#: which is the whole claim: the digest design is arrival-order-free.
MANIFEST_ORACLE = f"""
    WITH k AS (
      SELECT doc_id, text, n_chars,
             md5(CAST(doc_id AS VARCHAR) || '{_MAN_SEED}') AS key
      FROM documents
    ),
    s AS (
      SELECT doc_id, text, n_chars,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1)
                  % {_MAN_SHARDS} AS INT) AS shard
      FROM k
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(SUM({duck_md5_32("CAST(doc_id AS VARCHAR) || ':' || text")})
                AS BIGINT) AS content_digest
    FROM s GROUP BY shard ORDER BY shard
    """


def manifest_shard_agg(docs: DataFrame) -> DataFrame:
    """Shared manifest body (batch entry + streaming twin): key every doc
    with its portable content hash and shard bucket, then ONE hash agg to
    |shards| rows. Works identically on a batch frame and a streaming
    frame — every aggregate is commutative (count/sum/min/max), which is
    the design property the streaming twin proves."""
    keyed = docs.select(
        "doc_id",
        "n_chars",
        spark_md5_32(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).alias("__h"),
        (
            (
                F.expr(
                    "locate(substr(md5(concat(CAST(doc_id AS STRING), "
                    f"'{_MAN_SEED}')), 1, 1), '0123456789abcdef')"
                )
                - 1
            )
            % _MAN_SHARDS
        )
        .cast("int")
        .alias("shard"),
    )
    return keyed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.sum("__h").cast("long").alias("content_digest"),
    )


@register(
    "shard_manifest_checksums",
    oracle=MANIFEST_ORACLE,
)
def q_shard_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r12) — the RELEASE MANIFEST for the registered training-order
    shuffle: per shard (training_shard_assignment's exact hash buckets —
    same md5 key, same first-hex-digit bucket rule, so the manifest
    describes the shards that operator writes), the row count, character
    mass, doc-id range, and an ORDER-INSENSITIVE content digest: the
    BIGINT sum of the portable md5-half integer of ``doc_id:text``. Any
    consumer re-reading a shard — in any order, any partitioning —
    reproduces the digest when content is intact, and any single flipped
    byte moves it (the md5-half of that row changes). This is CORRUPTION
    detection, not adversarial tamper EVIDENCE: offsetting edits across
    two docs in the same shard could cancel in the sum — an attacker model
    needs a keyed or Merkle-tree hash instead (ADVICE r12). It is the
    integrity block a dataset release ships beside
    its card (documents_dataset_card), and what a 1000-executor re-read
    verifies cheaply after a bulk copy.

    Plan at 100 TB: map-only hashing (two md5s per row), then ONE hash
    aggregate to |shards| rows — commutative sums only, so partial
    aggregation collapses everything map-side; no window, no sort, no
    skew (shards are md5-uniform by construction). Digest bound: each
    term < 2³² and the OUTPUT contract is BIGINT on both engines, so the
    sum is safe up to ~2³¹ rows PER SHARD (≈ 2.1 B docs/shard — far past
    any real shard manifest; a 100 TB corpus at 4 KB/doc is ~3 B docs
    TOTAL across all shards). Past that the two engines would diverge in
    behavior (DuckDB raises on the CAST, Spark wraps), so a larger-shard
    deployment switches the digest to a modular sum (SUM(h) % 2⁶¹ on
    both sides) rather than widening the type.
    """
    docs = load(spark, sf_dir, "documents")
    return manifest_shard_agg(docs).orderBy("shard")


# ---------------------------------------------------------------------------
# pack_docs_histogram

@register(
    "pack_docs_histogram",
    oracle=f"""
    WITH {_PACK_CTES}, seqs AS (
      SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS docs_in_pack
      FROM cum GROUP BY source, seq_id
    )
    SELECT docs_in_pack, CAST(COUNT(*) AS BIGINT) AS n_packs
    FROM seqs GROUP BY docs_in_pack ORDER BY docs_in_pack
    """,
)
def q_pack_docs_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r12) — docs-per-pack DISTRIBUTION over the shared ``_packed``
    first-fit packing (the SURVEY r13-queue "docs-per-pack stats" item):
    how many 1024-token bins hold exactly 1, 2, … documents. Trainers
    read this before enabling cross-document attention masking — the
    histogram's mass above 1 is exactly the fraction of sequence
    boundaries that need masks, and a heavy n=1 bar with low fill (see
    pack_efficiency_report) means long docs are being straddled, i.e.
    the truncation knob matters more than the packing order.

    Plan at 100 TB: the same single per-source window shuffle the packing
    contract already rides (no global sort), one hash aggregate to bins,
    one more to the ≤max-docs-per-bin-row histogram — both collapse
    map-side (counts are commutative); output is O(histogram support),
    driver-safe at any corpus size.
    """
    bins = (
        _packed(spark, sf_dir)
        .groupBy("source", "seq_id")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_in_pack"))
    )
    return (
        bins.groupBy("docs_in_pack")
        .agg(F.count(F.lit(1)).cast("long").alias("n_packs"))
        .orderBy("docs_in_pack")
    )


# ---------------------------------------------------------------------------
# epoch_repeat_plan

#: data-constrained repeat schedule per CCNet tercile: the head (lowest
#: perplexity) repeats most, the tail is seen once. Values model the
#: up-to-4-epochs regime where repeated tokens still pay ~full value.
_REPEATS = {"head": 4, "middle": 2, "tail": 1}


def _repeat_count_col() -> F.Column:
    """``n_repeats`` from ``ppl_bucket`` — the one schedule expression,
    shared by the plan readout and the shard-boundary explode."""
    return (
        F.when(F.col("ppl_bucket") == "head", _REPEATS["head"])
        .when(F.col("ppl_bucket") == "middle", _REPEATS["middle"])
        .otherwise(_REPEATS["tail"])
        .cast("long")
    )


@register(
    "epoch_repeat_plan",
    oracle=f"""
    WITH {_CCNET_CTES},
    tk AS (SELECT doc_id,
                  CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents)
    SELECT b.doc_id, b.ppl_bucket, tk.n_tokens,
           CAST(CASE b.ppl_bucket WHEN 'head' THEN {_REPEATS['head']}
                WHEN 'middle' THEN {_REPEATS['middle']}
                ELSE {_REPEATS['tail']} END AS BIGINT) AS n_repeats,
           CAST(tk.n_tokens * CASE b.ppl_bucket
                WHEN 'head' THEN {_REPEATS['head']}
                WHEN 'middle' THEN {_REPEATS['middle']}
                ELSE {_REPEATS['tail']} END AS BIGINT) AS effective_tokens
    FROM bucketed b JOIN tk ON tk.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
)
def q_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r12) — the DATA-CONSTRAINED repeat schedule (Muennighoff et
    al. 2023, "Scaling Data-Constrained Language Models"): when the
    corpus is smaller than the compute-optimal token budget, repeat the
    best data — up to ~4 epochs repeated tokens are worth nearly as much
    as fresh ones, then decay sharply. Per document: its CCNet tercile
    (the SAME bucket assignment as perplexity_buckets_ccnet — shared CTE
    text on the oracle side, the shared unordered ``ccnet_bucketed``
    frame on the Spark side, so the two entries cannot disagree), the
    repeat count
    (head 4 / middle 2 / tail 1), and the effective token contribution.
    Σ effective_tokens is the epoch-expanded budget the trainer plans
    against; downstream the plan feeds training_shard_assignment with
    doc_id × copy as the shuffle unit.

    Plan at 100 TB: one broadcast-joined map pass over the bucket frame
    (itself the audited histogram-walk plan — no corpus sort); the repeat
    expansion stays VIRTUAL (a count column, exploded only at shard-write
    time), so the plan costs one corpus scan regardless of repeat factors.
    """
    return repeat_plan_frame(spark, sf_dir).orderBy("doc_id")


def repeat_plan_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNORDERED repeat-plan frame behind the registered readout
    (the presentation sort is applied only at the query boundary). The
    shard-boundary composition (epoch_repeat_shard_assignment) does NOT
    consume this: n_repeats depends only on ppl_bucket, so it derives
    copies straight from the bucket frame via _repeat_count_col and
    skips this frame's tokenization join entirely."""
    buckets = ccnet_bucketed(spark, sf_dir).select("doc_id", "ppl_bucket")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").cast("long").alias("n_tokens")
    )
    rep = _repeat_count_col()
    return buckets.join(docs, "doc_id").select(
        "doc_id",
        "ppl_bucket",
        "n_tokens",
        rep.alias("n_repeats"),
        (F.col("n_tokens") * rep).cast("long").alias("effective_tokens"),
    )


# ---------------------------------------------------------------------------
# semantic_packing_order

#: shared oracle prefix through the semantically-packed ``cum`` frame —
#: ONE text for the packing readout and the pack-then-shard seam below, so
#: the two entries replay the identical bins (the twin-oracle-drift rule).
_SEM_PACK_CTES = f"""
    {_semdedup_assign_cte(1, "8")},
    tk AS (
      SELECT d.doc_id, d.source,
             CAST(LEN(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             CAST(a.cluster AS BIGINT) AS cluster
      FROM documents d JOIN assign a ON a.vec_id = d.doc_id
    ),
    cum AS (
      SELECT doc_id, source, cluster, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY cluster, doc_id)
                  - n_tokens) / 1024.0) AS BIGINT) AS seq_id
      FROM tk
    )"""


def semantic_packed_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantically-packed per-doc frame (doc_id, source, cluster,
    n_tokens, seq_id) — the Spark twin of ``_SEM_PACK_CTES``'s ``cum``,
    shared by the packing readout and the pack-then-shard seam so the two
    entries bin identically."""
    from ..operators.similarity import nearest_centroid

    emb = load(spark, sf_dir, "embeddings")
    assign = nearest_centroid(emb, k=8).select(
        F.col("vec_id").alias("doc_id"), F.col("cluster").cast("long").alias("cluster")
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count("text").cast("long").alias("n_tokens")
    )
    tk = docs.join(assign, "doc_id")
    w = Window.partitionBy("source").orderBy("cluster", "doc_id")
    return tk.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 1024.0).cast("long"),
    )


@register(
    "semantic_packing_order",
    oracle=f"""
    {_SEM_PACK_CTES}
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
    FROM cum GROUP BY source, seq_id ORDER BY source, seq_id
    """,
)
def q_semantic_packing_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r12) — SEMANTIC packing (the in-context-pretraining recipe,
    Shi et al. 2023: fill each training sequence with RELATED documents so
    long-range attention sees coherent context instead of random
    concatenation). Same first-fit 1024-token packing as the registered
    ``_packed`` contract, but the within-source order is (cluster,
    doc_id) — documents grouped by their shared nearest-centroid cell
    (the audited SemDeDup assignment, embeddings joined on the shared
    id space) before packing. The ``n_clusters`` column per bin is the
    COHERENCE readout: doc_id-ordered packing mixes ~n_docs clusters per
    bin, cluster-ordered packing approaches 1 — measurable, not asserted
    (the full greedy nearest-neighbor chain the paper uses is a TSP
    heuristic; cluster-grouping is its scalable first-order term and
    keeps the plan one window + one agg).

    Plan at 100 TB: the assignment is the broadcast-centroid map pass;
    packing rides ONE per-source window (ordered by cluster, doc_id — no
    global sort, the packing family's standing argument); output is
    bin-count-sized.
    """
    cum = semantic_packed_frame(spark, sf_dir)
    return (
        cum.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.countDistinct("cluster").cast("long").alias("n_clusters"),
        )
        .orderBy("source", "seq_id")
    )


# ---------------------------------------------------------------------------
# epoch_repeat_shard_assignment — the assembly seam: repeats × shard shuffle

#: distinct seed-space from the base shuffle (":shuffle:42") so copy 1 of a
#: doc does NOT inherit the unrepeated corpus's placement — every copy is an
#: independent draw.
_REP_SEED = ":epoch:42"


@register(
    "epoch_repeat_shard_assignment",
    oracle=f"""
    WITH {_CCNET_CTES},
    plan AS (
      SELECT doc_id,
             CAST(CASE ppl_bucket WHEN 'head' THEN {_REPEATS['head']}
                  WHEN 'middle' THEN {_REPEATS['middle']}
                  ELSE {_REPEATS['tail']} END AS BIGINT) AS n_repeats
      FROM bucketed
    ),
    copies AS (
      SELECT doc_id, UNNEST(range(1, n_repeats + 1)) AS copy FROM plan
    ),
    k AS (
      SELECT doc_id, CAST(copy AS BIGINT) AS copy,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)
                 || '{_REP_SEED}') AS key
      FROM copies
    ),
    s AS (
      SELECT doc_id, copy, key,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1)
                  % {_MAN_SHARDS} AS INT) AS shard
      FROM k
    )
    SELECT doc_id, copy, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id,
                copy) AS BIGINT) AS pos
    FROM s ORDER BY shard, pos
    """,
)
def q_epoch_repeat_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r13) — the assembly seam VERDICT r12 item 7 named: compose
    ``epoch_repeat_plan``'s VIRTUAL repeat schedule with
    ``training_shard_assignment``'s seeded hash shuffle, materializing the
    repeat expansion ONLY at the shard boundary. Per (doc, copy): its
    shard and within-shard training position. Until this operator runs,
    repeats exist as a count column (one corpus scan regardless of repeat
    factors); here each copy becomes one physical row exactly where the
    shard writer needs it — never earlier.

    Design properties the tests pin: (1) CONSERVATION — output rows ==
    Σ n_repeats, effective tokens preserved per doc; (2) COPY SCATTER —
    the shuffle key is md5(doc_id:copy:seed) in a seed-space disjoint from
    the unrepeated corpus's, so the copies of one doc are independent
    draws landing in different shards w.h.p. (a trainer must not see the
    same doc twice in one stream position) and the head docs do NOT clump
    in any shard; (3) DETERMINISM — same seed, same plan, any
    partitioning.

    Plan at 100 TB: one broadcast-joined map pass over the audited bucket
    frame, ``explode(sequence(1, n_repeats))`` (map-side, ≤4× row growth
    by the Muennighoff regime), then the shard family's standing dataflow:
    hash-bucket membership map-only, within-shard order one window
    partitioned BY shard (parallel, no global sort) — at scale
    repartition(shard) + sortWithinPartitions(key) + partitioned write.
    Cites the same public recipes as its parents (Muennighoff et al. 2023
    repeat schedule; seeded-hash shard shuffle per the composable-data
    -pipeline practice in PAPERS.md).
    """
    # n_repeats depends only on the bucket — derive copies straight from
    # the shared bucket frame; joining repeat_plan_frame would pay a full
    # tokenization pass and a documents join just to discard n_tokens
    # (self-review r13; the oracle's plan CTE reads `bucketed` alone too)
    copies = ccnet_bucketed(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1).cast("long"), _repeat_count_col().cast("long"))
        ).alias("copy"),
    )
    keyed = copies.withColumn(
        "key",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("copy").cast("string"),
                F.lit(_REP_SEED),
            )
        ),
    ).withColumn(
        "shard",
        (
            (F.expr("locate(substr(key, 1, 1), '0123456789abcdef')") - 1)
            % _MAN_SHARDS
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("key", "doc_id", "copy")
    return keyed.select(
        "doc_id",
        "copy",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    ).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# semantic_pack_shard_assignment — pack-then-shard: bins are the shuffle unit

#: bin-level seed-space, disjoint from both document-level shuffles — a
#: bin's placement is one draw for ALL its docs.
_PACK_SEED = ":pack:42"


@register(
    "semantic_pack_shard_assignment",
    oracle=f"""
    {_SEM_PACK_CTES},
    bk AS (
      SELECT doc_id, source, cluster, seq_id,
             md5(source || ':' || CAST(seq_id AS VARCHAR) || '{_PACK_SEED}')
               AS key
      FROM cum
    ),
    s AS (
      SELECT doc_id, source, cluster, seq_id, key,
             CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1)
                  % {_MAN_SHARDS} AS INT) AS shard
      FROM bk
    )
    SELECT doc_id, source, seq_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                ORDER BY key, source, seq_id, cluster, doc_id)
                AS BIGINT) AS pos
    FROM s ORDER BY shard, pos
    """,
)
def q_semantic_pack_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r13) — the LAST assembly seam: pack-then-shard. The document-
    level training shuffle (training_shard_assignment) scatters docs
    independently, which would rip apart the semantic packing's 1024-token
    bins — the coherence the packing bought would never reach the trainer.
    Here the BIN is the shuffle unit: every (source, seq_id) bin draws ONE
    md5 shard bucket (seed-space ``{_PACK_SEED}``, disjoint from both
    document-level shuffles), bins are shuffled within their shard by key,
    and docs stay in the packing's (cluster, doc_id) order inside their
    bin. Per doc: its shard and within-shard training position — bins
    atomic, bin order random, in-bin order preserved, which is exactly
    what in-context pretraining needs from the shard writer (Shi et al.
    2023's packing surviving the standard seeded-hash shard shuffle).

    Properties the tests pin: (1) BIN ATOMICITY — all docs of a bin land
    in one shard at CONTIGUOUS positions; (2) ORDER PRESERVATION — within
    a bin, positions follow (cluster, doc_id), byte-identical to the
    packing contract; (3) conservation — one row per packed doc; (4) the
    bins replay the registered ``semantic_packing_order`` bins exactly
    (shared frame + shared oracle CTE text, so drift is unrepresentable).

    Plan at 100 TB: the packing window (per-source, never global) + one
    map-only md5 per doc + ONE per-shard window — the shard family's
    standing dataflow with the key lifted from doc to bin; at scale
    repartition(shard) + sortWithinPartitions(key, ...) + partitioned
    write, bins arriving intact because their rows share the sort prefix.
    """
    cum = semantic_packed_frame(spark, sf_dir)
    keyed = cum.withColumn(
        "key",
        F.md5(
            F.concat(
                F.col("source"),
                F.lit(":"),
                F.col("seq_id").cast("string"),
                F.lit(_PACK_SEED),
            )
        ),
    ).withColumn(
        "shard",
        (
            (F.expr("locate(substr(key, 1, 1), '0123456789abcdef')") - 1)
            % _MAN_SHARDS
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy(
        "key", "source", "seq_id", "cluster", "doc_id"
    )
    return keyed.select(
        "doc_id",
        "source",
        "seq_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    ).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# curriculum_shard_order — easy→hard ordering INSIDE each training shard


def _curriculum_oracle() -> str:
    """The base shuffle's shard buckets (training_shard_assignment
    text) composed with the SHARED CCNet scoring CTE (curation._CCNET_CTES,
    the same text perplexity_buckets_ccnet and epoch_repeat_plan consume) —
    three entries, one scoring definition, zero drift."""
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
# doremi_domain_weights — multiplicative-weights domain reweighting

_MW_ROUNDS = 4  # weight-update rounds (DoReMi's T, scaled to the fixture)

_MW_DEN = 10_000  # per-round factor = (DEN + excess_micro) / DEN, exact ints

_MW_PPM = 1_000_000  # weights normalized to parts-per-million each round


def _doremi_oracle() -> str:
    """Replays the per-source loss aggregation over the SHARED CCNet
    scoring CTE (curation._CCNET_CTES — one scoring definition across
    perplexity_buckets_ccnet / epoch_repeat_plan / curriculum_shard_order
    / this entry) and every multiplicative-weights round as generated
    CTEs in exact BIGINT arithmetic (the GD-training / greedy-coverage
    precedent). Every SUM is CAST back to BIGINT at the generator so no
    HUGEINT reaches an output column (the r12 lint contract)."""
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
# unimax_language_budget — UniMax epoch-capped language allocation

_UMX_EPOCHS = 2  # per-language epoch cap (UniMax's N)
# budget = total corpus tokens * 3 // 2 — scale-free (proportions, not
# magnitudes, decide the allocation shape), sized so the fixture
# exercises BOTH arms: small languages hit their 2-epoch cap, the
# largest shares the remainder.

_UMX_B_NUM, _UMX_B_DEN = 3, 2

# Loud-overflow bound (the wordpiece/doremi discipline): epochs_bp
# multiplies alloc by 10^4 in int64.
_UMX_ALLOC_MAX = (2**63 - 1) // 10_000


@register(
    "unimax_language_budget",
    oracle=f"""
    WITH lt AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt,
                   CAST(COUNT(*) AS BIGINT) AS n FROM lt),
    c AS (
      SELECT lang, n_docs, t, {_UMX_EPOCHS} * t AS cap,
             ROW_NUMBER() OVER (ORDER BY {_UMX_EPOCHS} * t, lang) AS rn
      FROM lt
    ),
    lv AS (
      SELECT rn, lang, n_docs, t, cap,
             ((SELECT tt * {_UMX_B_NUM} // {_UMX_B_DEN} FROM tot)
              - COALESCE(SUM(cap) OVER (ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
             // ((SELECT n FROM tot) - rn + 1) AS level
      FROM c
    ),
    rs AS (SELECT COALESCE(MIN(rn), (SELECT n FROM tot) + 1) AS r
           FROM lv WHERE cap > level)
    SELECT lang, n_docs, t AS lang_tokens, cap AS cap_tokens,
           -- CAST is load-bearing: level inherits HUGEINT from the
           -- SUM-fed budget expression (the r12 promotion class the
           -- oracle-type lint exists for); values always fit BIGINT
           CAST(CASE WHEN rn < (SELECT r FROM rs) THEN cap
                ELSE (SELECT level FROM lv WHERE rn = (SELECT r FROM rs))
           END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN rn < (SELECT r FROM rs) THEN cap
                ELSE (SELECT level FROM lv WHERE rn = (SELECT r FROM rs))
           END * 10000 // t AS BIGINT) AS epochs_bp
    FROM lv ORDER BY lang
    """,
)
def q_unimax_language_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r15) — UniMax language-budget allocation (Chung et al.
    2022): spread a total training-token budget as UNIFORMLY as possible
    across languages, capping every language at {_UMX_EPOCHS} epochs of
    its own corpus — the multilingual mixture rule that beats
    temperature sampling's head-overfit/tail-starve tradeoff (the
    registered `corpus_mix_temperature` is the baseline it replaces).
    Emits per language: (lang, n_docs, lang_tokens, cap_tokens,
    alloc_tokens, epochs_bp).

    The water-fill is CLOSED-FORM, not iterative: sort languages by
    capacity cap_l = {_UMX_EPOCHS}·tokens_l ascending; at rank r the
    even share of what remains is level_r = (B − Σ_(j<r) cap_j) DIV
    (n − r + 1); the first rank r* with cap_r* > level_r* splits the
    list — every smaller language is capped, every language from r* on
    gets exactly level_r* (caps ascend, so none of them can cap). All
    floor-division BIGINT arithmetic — the whole allocation
    value-hash-replays in SQL with zero rounds. Budget B =
    {_UMX_B_NUM}/{_UMX_B_DEN} of total corpus tokens (scale-free;
    proportions decide the shape, so the fixture exercises both arms at
    every SF).

    Plan at 100 TB: ONE corpus pass (the per-language token hash agg —
    map-side combinable) and then |languages|-row work: a window cumsum
    and three scalar subqueries on a model-sized frame. Nothing
    iterative, no driver state at all — the allocation is a plan, not a
    loop (contrast DoReMi's inherently-sequential MW rounds).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    # lt is THE corpus pass (per-language token hash agg) and feeds tot,
    # the rank frame, and the final select: persist it so the plan scans
    # the corpus once, as the docstring claims (mid-r15 review)
    lt = tracked_persist(
        docs.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(TX.tokens("text"))).cast("long").alias("t"),
        )
    )
    tot = lt.agg(
        F.sum("t").cast("long").alias("tt"), F.count(F.lit(1)).cast("long").alias("n")
    )
    c = lt.withColumn("cap", F.lit(_UMX_EPOCHS) * F.col("t")).withColumn(
        "rn", F.row_number().over(Window.orderBy("cap", "lang"))
    )
    wcum = (
        Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, -1)
    )
    lv = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("cum_prev", F.coalesce(F.sum("cap").over(wcum), F.lit(0)))
        .withColumn(
            "level",
            F.expr(
                f"(tt * {_UMX_B_NUM} DIV {_UMX_B_DEN} - cum_prev) DIV (n - rn + 1)"
            ),
        )
    )
    rs = lv.agg(
        F.coalesce(
            F.min(F.when(F.col("cap") > F.col("level"), F.col("rn"))),
            (F.max("n") + 1).cast("int"),
        ).alias("rstar")
    )
    # ALWAYS exactly one row: an aggregate, not a filter-join — in the
    # all-languages-capped case (budget >= sum of caps) rstar = n+1
    # matches no rank, a filter-join would go EMPTY, and the crossJoin
    # below would annihilate the whole result while the oracle keeps
    # every language capped. Here final_level is a never-read NULL
    # instead (every rn < rstar takes the cap branch), so both engines
    # emit one capped row per language (mid-r15 review; fixture-pinned
    # in tests/test_llm_ext14.py)
    final_level = (
        lv.crossJoin(F.broadcast(rs))
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("rstar"), F.col("level"))
            ).alias("final_level")
        )
    )
    alloc = F.when(F.col("rn") < F.col("rstar"), F.col("cap")).otherwise(
        F.col("final_level")
    )
    guarded_bp = F.expr(
        f"IF(alloc_tokens <= {_UMX_ALLOC_MAX}, alloc_tokens * 10000 DIV t, "
        f"raise_error('unimax_language_budget: allocation exceeds the int64 "
        f"fixed-point bound - rescale token counts'))"
    )
    return (
        lv.crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(final_level))
        .select(
            "lang",
            "n_docs",
            F.col("t").alias("lang_tokens"),
            F.col("cap").alias("cap_tokens"),
            alloc.alias("alloc_tokens"),
            "t",
        )
        .withColumn("epochs_bp", guarded_bp)
        .select(
            "lang", "n_docs", "lang_tokens", "cap_tokens", "alloc_tokens", "epochs_bp"
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# weighted_sample_es_topn — quality-weighted corpus subsampling

_ES_TOP = 100  # sample size

_ES_SEED = 7  # draw seed — the md5 replayable-randomness idiom


def _es_sample_oracle() -> str:
    """Rides the SHARED CCNet scoring chain (curation._CCNET_CTES — one
    scoring definition across its consumers) and replays the seeded
    ES key exactly: u from the portable md5 idiom, key = ln(u)·s rounded
    4dp with the doc_id tie-break (the Gumbel sampler's precedent)."""
    u32 = duck_md5_32(
        f"'es-sample|' || CAST(doc_id AS VARCHAR) || '|{_ES_SEED}'"
    )
    return f"""
    WITH {_CCNET_CTES},
    keyed AS (
      SELECT doc_id, s AS unigram_nlp,
             ROUND(ln((({u32}) + 0.5) / 4294967296.0) * s, 4) AS es_key
      FROM dl
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS INT)
             AS rank,
           doc_id, unigram_nlp, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {_ES_TOP}
    """


@register("weighted_sample_es_topn", oracle=_es_sample_oracle())
def q_weighted_sample_es_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r15) — WEIGHTED sampling without replacement (Efraimidis &
    Spirakis 2006, A-Res): keep the {_ES_TOP} documents with the largest
    u_i^(1/w_i) — equivalently rank on ln(u_i)/w_i — which draws a
    without-replacement sample with inclusion probability ∝ w_i in ONE
    distributed pass, no sequential draws. The quality-weighted
    subsampling move of a data-mixing stage: here w_i = 1/s_i, the
    inverse of the SHARED CCNet unigram-NLP surprise score (one scoring
    definition across five entries — low-perplexity docs are sampled
    more), so the ranking key is ln(u_i)·s_i. Completes the sampling
    family: uniform md5 order (leakage split), per-source quotas,
    deterministic DSIR top-N, seeded Gumbel-top-k (∝ importance), and
    now inclusion-∝-weight WITHOUT replacement.

    Portability: u_i derives from the portable md5 idiom on
    (doc_id, seed={_ES_SEED}), the key rounds to 4dp with the doc_id
    tie-break (measure-zero boundary argument, the Gumbel/impact_truncate
    idiom), so the draw is seeded, replayable, and engine-portable.

    Plan at 100 TB: the scoring frame is the shared one-corpus-pass
    CCNet chain; the key is one map-only hash + ln + multiply per doc;
    the global top-N runs as TakeOrdered on one-row-per-doc — no sort,
    no new shuffle.
    """
    docw = ccnet_bucketed(spark, sf_dir).select("doc_id", "unigram_nlp")
    u = (
        spark_md5_32(
            F.concat_ws(
                "|", F.lit("es-sample"), F.col("doc_id"), F.lit(_ES_SEED)
            )
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = docw.select(
        "doc_id",
        "unigram_nlp",
        F.round(F.log(u) * F.col("unigram_nlp"), 4).alias("es_key"),
    )
    from pyspark.sql import Window

    rk = Window.orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= _ES_TOP)
        .select("rank", "doc_id", "unigram_nlp", "es_key")
        .orderBy("rank")
    )
