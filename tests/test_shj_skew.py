"""Adversarial skew test for the session's shuffled-hash-join posture
(VERDICT r15 item 6 / ADVICE r15).

``session.get_spark`` sets ``spark.sql.join.preferSortMergeJoin=false``.
The plan-time SHJ pick bounds only the AVERAGE per-partition build size
(estimated stats × shuffle.partitions), so a skewed key can leave one
task with a partition far above the per-task budget where sort-merge
would have spilled — the OOM risk ADVICE r15 called out. The engine's
backstop is AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled=true``, which covers shuffled-hash
joins on Spark >= 3.2). This test exercises that backstop adversarially:
ONE hot key owns ~95% of the rows of the large STREAM side (the left
input; the 8-row right input is the hash-table build side), and its
post-shuffle partition is far above both skew thresholds. The join must
(a) complete with correct results and (b) run in the final adaptive plan
as a skew-flagged shuffled-hash join whose stream-side ``AQEShuffleRead``
splits exactly that one hot partition into several map-range slices
(``PartialReducerPartitionSpec``) while the build side is only
replicated, never split.

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


def _plan_nodes(node):
    """Every physical node of a final adaptive plan, query stages included."""
    yield node
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _read_specs(side) -> list:
    """The partition specs of the one AQEShuffleRead under a join input."""
    reads = [n for n in _plan_nodes(side) if n.getClass().getSimpleName() == "AQEShuffleReadExec"]
    assert len(reads) == 1, [n.getClass().getSimpleName() for n in _plan_nodes(side)]
    specs = reads[0].partitionSpecs()
    return [specs.apply(i) for i in range(specs.size())]


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
        # keep the probe side far below broadcast size? No — broadcast
        # would dodge the shuffle entirely; force both sides through the
        # exchange so the skewed stream partition actually exists
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
        joined.collect()  # materialize so the final adaptive plan exists
        adaptive = joined._jdf.queryExecution().executedPlan()
        final = adaptive.executedPlan()
        joins = [
            n for n in _plan_nodes(final)
            if n.getClass().getSimpleName() == "ShuffledHashJoinExec"
        ]
        assert len(joins) == 1, adaptive.toString()[:2000]
        shj = joins[0]
        assert shj.isSkewJoin() and shj.buildSide().toString() == "BuildRight"

        def partial(specs):
            return [s for s in specs if s.getClass().getSimpleName() == "PartialReducerPartitionSpec"]

        stream = partial(_read_specs(shj.left()))
        # the one hot reducer partition is split into >= 2 map-range slices
        assert len(stream) >= 2, adaptive.toString()[:2000]
        assert len({s.reducerIndex() for s in stream}) == 1
        # the build side is replicated for the split, never itself split
        assert partial(_read_specs(shj.right())) == []
