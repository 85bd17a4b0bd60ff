"""[EXT] curation round 10 — TRAINING the model-based quality filter
(SURVEY.md §2.9 X4; no reference citation exists — the citation is
BASELINE.json's LLM-data mandate).

``quality_classifier_linear`` (r7) scores documents with a fastText-shaped
hashed-feature linear model and documents its weights as a stand-in for
trained parameters. This module closes that loop: it TRAINS the weight
table the way the CCNet / GPT-3 / DCLM quality rung actually obtains one —
logistic regression on weak provenance labels (curated sources = positive,
the rest of the crawl = negative; Wenzek 2019 §4.4, Brown 2020 App. A) —
and serves the trained model back over the corpus:

- ``quality_classifier_train_gd``  — E epochs of full-batch gradient
  descent over hashed binary bag-of-features, emitted as the final
  (bucket, weight) table.
- ``quality_classifier_gd_scores`` — per-document margin + keep flag under
  the trained weights (shares the full training CTE prefix, the
  bpe_train/encode pattern, so train and serve cannot drift).

Determinism contract (registry-header rule, applied up front): EVERYTHING
is BIGINT micro-units — labels y ∈ {0, 10⁶}, the hard-sigmoid
p = clamp(z/4 + 5·10⁵, 0, 10⁶) (the piecewise-linear sigmoid whose slope
at 0 matches σ'(0) = ¼; Courbariaux 2016 popularized the form), the
class-balanced error (p − y)·3 for positives, and the update
w ← w − ⌊g / (8N)⌋. Signed floor division is made engine-portable by the
shift identity ⌊x/d⌋ = (x + S·d)//(S·d-safe) − S with S·d ≥ |x|: both
Spark DIV and DuckDB // floor NONNEGATIVE operands identically, so every
epoch replays bit-exactly as generated per-epoch CTEs (the
bpe_train_merges trajectory precedent). No float appears anywhere — not
even a transcendental to round.

Hyperparameters were MEASURED, not guessed (r10 probe, recorded here):
float logistic regression confirms the weak labels are learnable on the
fixture (0.966 train accuracy @ 200 epochs); the integer recipe at
lr = 1/(8N), 3× positive up-weighting (the fixture's curated slice is ¼
of the corpus) reaches 0.796 accuracy / 106 of 125 positives at E = 16 —
against the 0.750-accuracy, 0-recall majority collapse that unbalanced or
larger-step variants (measured: lr ≥ 1/(4N) oscillates all-pos ↔ all-neg)
fall into. E is a knob; each epoch is one broadcast join + two hash aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..caching import tracked_persist
from ..functions import text as TX
from ..registry import register
from ..sources.tables import load
from .llm_ext5 import _duck_md5_32, _spark_md5_32

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
    f AS (
      SELECT doc_id, list_concat(t, CASE WHEN len(t) >= 2
               THEN list_transform(range(len(t) - 1), i -> t[i+1] || '_' || t[i+2])
               ELSE [] END) AS feats
      FROM toks
    ),
    fx AS MATERIALIZED (
      SELECT DISTINCT doc_id, ({_duck_md5_32('x')}) % {_QC_BUCKETS} AS b
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
    t = TX.tokens("text")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat(F.get(t, i), F.lit("_"), F.get(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(t, bigrams)
    fx = (
        docs.select("doc_id", F.explode(feats).alias("x"))
        .select("doc_id", (_spark_md5_32(F.col("x")) % _QC_BUCKETS).alias("b"))
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
    ``epochs`` < _QC_EPOCHS serves the r11 forensic prefix entries
    (qc_train_epoch*_weights) — the trajectory bisect the two-round
    driver-red/local-green divergence demanded (VERDICT r10 item 1).
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
    """X4+ (r10) — TRAIN the model-based quality filter: {_QC_EPOCHS}
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
    """X4+ (r10) — serve the TRAINED quality filter: per-document integer
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

_TC_K = 16  # clusters (matches the ivf_kmeans fixture geometry)
_TC_ITERS = 2  # Lloyd rounds (shared _lloyd_rounds_sql / kmeans_iterate pair)
_TC_TOP = 3  # terms per card


def _tc_oracle() -> str:
    from .llm_ext import _lloyd_rounds_sql

    return f"""
    WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    en AS (SELECT vec_id, v, SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS n FROM e),
    dims AS (SELECT UNNEST(range(64)) AS dim),
    pd0 AS (
      SELECT vec_id % {_TC_K} AS cid, d.dim,
             CAST(SUM(CAST(FLOOR(v[d.dim + 1] * 10000000) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 10000000.0) AS mean_val
      FROM e CROSS JOIN dims d GROUP BY 1, 2
    ),
    c0 AS (SELECT cid, LIST(mean_val ORDER BY dim) AS centroid FROM pd0 GROUP BY cid),
    {_lloyd_rounds_sql(_TC_ITERS)},
    af AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT en.vec_id, c.cid,
               ROUND(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> en.v[i] * c.centroid[i]))
                 / (en.n * SQRT(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> c.centroid[i] * c.centroid[i])))),
               4) AS cc
        FROM en CROSS JOIN c{_TC_ITERS} c
      ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1
    ),
    toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
    dt AS (SELECT a.cid, t.term FROM toks t JOIN af a ON t.doc_id = a.vec_id),
    tf AS (SELECT cid, term, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
    cdf AS (SELECT term, COUNT(*) AS cdf FROM tf GROUP BY 1),
    sc AS (SELECT tf.cid, tf.term, (tf.tf * 10000) // cdf.cdf AS score_x10000
           FROM tf JOIN cdf ON tf.term = cdf.term),
    rk AS (SELECT cid, term, score_x10000,
                  ROW_NUMBER() OVER (PARTITION BY cid
                                     ORDER BY score_x10000 DESC, term) AS rnk
           FROM sc),
    nc AS (SELECT cid, COUNT(*) AS n_docs FROM af GROUP BY 1)
    SELECT r.cid AS cluster, CAST(n.n_docs AS BIGINT) AS n_docs,
           CAST(r.rnk AS INT) AS rank, r.term,
           CAST(r.score_x10000 AS BIGINT) AS score_x10000
    FROM rk r JOIN nc n ON r.cid = n.cid
    WHERE r.rnk <= {_TC_TOP} ORDER BY cluster, rank
    """


@register("topic_cluster_cards", oracle=_tc_oracle())
def q_topic_cluster_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r10) — per-cluster TOPIC CARDS: k-means-cluster the corpus
    embeddings ({_TC_K} cells, the shared kmeans_iterate/_lloyd_rounds_sql
    pair, so the clustering cannot drift from the IVF family's) and label
    each cluster with its size and top-{_TC_TOP} most DISTINCTIVE terms —
    the BERTopic-style cluster report (Grootendorst 2022's c-TF-IDF idea)
    a corpus curator reads before weighting or pruning by topic, and the
    aggregate view behind "what IS in this crawl slice". Distinctiveness
    is the integer ratio (tf_in_cluster · 10⁴) // clusters_containing_term
    — the c-TF-IDF shape with the transcendental idf replaced by an exact
    integer cluster-df divisor, so the ranking replays bit-identically on
    both engines (ties broken by term; the registry rounding rule).

    Plan at 100 TB: ONE corpus token pass (explode → (cluster, term) hash
    agg, map-side combinable); the embedding side is the standard k-means
    shape — model-sized centroid table broadcast, assignment one max_by
    aggregate; everything downstream of the two corpus passes is bounded
    by k·|vocab| (tf), |vocab| (cluster-df), and k·{_TC_TOP} (the cards).
    The doc→cluster equi-join shuffles on the id key — near-uniform by
    construction. No collect anywhere.
    """
    from ..operators.similarity import kmeans_assign_and_probe

    emb = load(spark, sf_dir, "embeddings")
    assign, _ = kmeans_assign_and_probe(
        emb, emb.filter(F.col("vec_id") == 0), n_clusters=_TC_K,
        n_probe=1, n_iter=_TC_ITERS,
    )
    assign = assign.select("vec_id", F.col("__cid").alias("cid"))
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
