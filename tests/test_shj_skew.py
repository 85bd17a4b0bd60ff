"""Adversarial skew test for the session's shuffled-hash-join posture
(VERDICT r15 item 6 / ADVICE r15).

``session.get_spark`` sets ``spark.sql.join.preferSortMergeJoin=false``.
The plan-time SHJ pick bounds only the AVERAGE per-partition build size
(estimated stats × shuffle.partitions), so a skewed key can exceed the
per-task budget where sort-merge would have spilled — an OOM risk. The
engine's backstop is AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled=true``, which covers shuffled-hash
joins on Spark >= 3.2). This test exercises that backstop adversarially:
ONE hot key owns ~95% of the 200k-row STREAM side (the build side is the
8-row table) and its post-shuffle partition is far above both skew
thresholds; the join must (a) complete with correct results and (b) read
that stream partition as several partial-reducer splits, which is what
the ``AQEShuffleReadExec`` partition specs of the final adaptive plan
record (the build partition is replicated once per split).

Thresholds are scaled DOWN in a scoped conf block (256 MB default →
256 KB) so the mechanism is provable in a unit-test-sized fixture — the
assertion is about the MECHANISM firing under the session's join posture,
not about absolute sizes; at 100 TB the same trigger fires at the
production thresholds. A single giant key is split by AQE only for the
JOIN input (skew split replicates the other side); that is exactly the
scenario this pins.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F


@contextmanager
def _scoped_conf(spark, confs: dict):
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _skew_splits(plan) -> list:
    """Partition specs produced by a skew split — ``PartialReducerPartitionSpec``
    entries of every ``AQEShuffleReadExec`` — in a physical plan tree.
    Query stages are leaves that wrap their plan, so the walk enters them."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _skew_splits(plan.executedPlan())
    found = []
    if name == "AQEShuffleReadExec":
        specs = plan.partitionSpecs()
        found += [
            specs.apply(i)
            for i in range(specs.size())
            if specs.apply(i).getClass().getSimpleName() == "PartialReducerPartitionSpec"
        ]
    if name.endswith("QueryStageExec"):
        found += _skew_splits(plan.plan())
    kids = plan.children()
    for i in range(kids.size()):
        found += _skew_splits(kids.apply(i))
    return found


def test_shj_skew_split_completes_and_fires(spark):
    confs = {
        # the session posture under test (get_spark sets these; the unit
        # fixture is a vanilla session, so set them explicitly)
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale the skew trigger down to fixture size: a partition is
        # "skewed" when > factor × median AND > thresholdInBytes
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        # no broadcast: it would dodge the shuffle entirely; force both
        # sides through the exchange so the skewed stream partition exists
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
        # the r15 posture's runtime SMJ→SHJ demotion knob
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    }
    with _scoped_conf(spark, confs):
        # hot key 0 owns 190k of 200k rows, each padded to ~64 bytes —
        # its post-shuffle partition is ~12 MB vs a ~40 KB median,
        # far beyond factor=2 × median and the 256 KB threshold
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") < 190_000, F.lit(0))
            .otherwise(F.col("id") % 7 + 1)
            .alias("k"),
            F.concat(F.lit("x" * 56), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        joined = left.join(right, "k")
        n = joined.count()
        assert n == 200_000  # every k in 0..7 matches exactly one right row
        agg = joined.groupBy("k").count().orderBy("k").collect()
        assert agg[0]["k"] == 0 and agg[0]["count"] == 190_000

        # final adaptive plan must show the skew split actually fired
        joined.collect()  # materialize so the SQL-tab final plan exists
        final = joined._jdf.queryExecution().executedPlan()
        splits = _skew_splits(final)
        # the hot partition is read as several map-range slices of ONE reducer
        assert len(splits) >= 2, final.toString()[:2000]
        assert len({spec.reducerIndex() for spec in splits}) == 1
