"""The sharded probe under both of its topologies.

A sharded filter whose blobs fit spark.dablooms.probe.autoBroadcastBytes
is collected and broadcast to a vectorized UDF; '0' forces the
(shard, salt) cogroup instead. Both must give the same verdict on every
row, for sharded counting, sharded scaling and rotating-generation
filters: no inserted key reported absent, NULL keys and keys routed to
a shard that holds no keys reported absent."""

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dablooms_spark.core import ScalingBloom
from dablooms_spark.operators.bloom_probe import _probe_kernel

from dablooms_spark.operators.generations import (
    build_generation_filters,
    generation_window_probe,
)
from dablooms_spark.operators.sharded import (
    _shard_expr,
    build_sharded_counting_bloom,
    sharded_bloom_probe,
)
from dablooms_spark.operators.sharded_scaling import (
    build_sharded_scaling_layers,
    sharded_scaling_probe,
)

CONF = "spark.dablooms.probe.autoBroadcastBytes"
SHARDS, EPS = 4, 0.01
# sharded scaling: capacity 20 per shard-layer spreads the keys over
# several layers, so the newest-first layer walk has work to do
LAYER_CAP = 20
DAY = 86400
G0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) // DAY


def _keys(spark):
    """(members, empty_shard_keys): k0..k599 split by shard — every
    build key routes to shards 1..3, so shard 0 holds no keys."""
    ks = spark.range(600).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        "id",
        # noon of day G0 + id % 3
        F.timestamp_seconds(
            F.lit(G0 * DAY + DAY // 2) + F.col("id") % 3 * DAY
        ).alias("ts"),
    ).withColumn("shard", _shard_expr(F.col("k"), SHARDS))
    return ks.filter("shard != 0").cache(), ks.filter("shard = 0")


def _probe_df(spark, members, empty):
    """members + keys of the empty shard + 200 absent keys + 3 NULL
    keys, each with a unique payload."""
    absent = spark.range(200).select(F.concat(F.lit("x"), F.col("id")).alias("k"))
    nulls = spark.range(3).select(F.lit(None).cast("string").alias("k"))
    return (
        members.select("k")
        .unionByName(empty.select("k"))
        .unionByName(absent)
        .unionByName(nulls)
        .withColumn("payload", F.monotonically_increasing_id())
    )


def _sharded_counting(spark, members):
    blobs = build_sharded_counting_bloom(
        members, "k", capacity=600, error_rate=EPS, num_shards=SHARDS
    ).cache()
    return lambda df, n=SHARDS: sharded_bloom_probe(df, "k", blobs, num_shards=n)


def _sharded_scaling(spark, members):
    layers = build_sharded_scaling_layers(
        members, "k", "id", capacity=LAYER_CAP, error_rate=EPS,
        num_shards=SHARDS,
    ).cache()
    assert layers.select("first_id").distinct().count() > 1
    return lambda df, n=SHARDS: sharded_scaling_probe(df, "k", layers, num_shards=n)


def _generations(spark, members):
    gens = build_generation_filters(
        members, "k", "ts", "1 day", capacity=600, error_rate=EPS,
        num_shards=SHARDS,
    ).cache()
    return lambda df, n=SHARDS: generation_window_probe(
        df, "k", gens, G0 + 2, 3, num_shards=n
    )


SHAPES = {
    "sharded_counting": _sharded_counting,
    "sharded_scaling": _sharded_scaling,
    "generations": _generations,
}


def _run(spark, setting, fn):
    """(rows by payload, cogroup ran?) with CONF at `setting` (None:
    the default)."""
    if setting is None:
        spark.conf.unset(CONF)
    else:
        spark.conf.set(CONF, setting)
    try:
        out = fn()
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = {r.payload: (r.k, r.is_member) for r in out.collect()}
    finally:
        spark.conf.unset(CONF)
    return rows, "CoGroups" in plan


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_broadcast_and_cogroup_probe_agree(spark, shape):
    members, empty = _keys(spark)
    probe_fn = SHAPES[shape](spark, members)
    probe = _probe_df(spark, members, empty).cache()
    n_probe = probe.count()

    bc_rows, bc_cogroup = _run(spark, None, lambda: probe_fn(probe))
    cg_rows, cg_cogroup = _run(spark, "0", lambda: probe_fn(probe))
    assert not bc_cogroup and cg_cogroup  # each setting took its topology
    assert len(bc_rows) == n_probe
    assert bc_rows == cg_rows

    member_keys = {r.k for r in members.select("k").collect()}
    empty_keys = {r.k for r in empty.select("k").collect()}
    assert empty_keys and member_keys
    verdict = {}
    for k, hit in bc_rows.values():
        verdict.setdefault(k, set()).add(hit)
    assert all(verdict[k] == {True} for k in member_keys)  # no false negatives
    assert verdict[None] == {False}  # NULL keys are never members
    assert all(verdict[k] == {False} for k in empty_keys)  # empty shard

    if shape == "sharded_scaling":
        for setting in (None, "0"):
            with pytest.raises(Exception, match="num_shards drift"):
                _run(spark, setting, lambda: probe_fn(probe, SHARDS * 2))
    probe.unpersist()
    members.unpersist()


def test_probe_kernel_nulls_and_shards():
    """The kernel itself, without Spark: the table's shard-1 filter
    holds the empty string, which a NULL key would alias if it were not
    masked; a key routed to a shard absent from the table is never a
    member; a scaling filter's layers answer exactly as
    ScalingBloom.check."""
    sb = ScalingBloom(capacity=8, error_rate=0.01)
    members = [""] + [f"k{i}" for i in range(40)]
    sb.add(members, list(range(len(members))))
    assert len(sb.layers) > 1
    table = {1: list(reversed(sb.layers))}
    keys = pa.array(members + [None, "k0"], type=pa.large_string())
    shards = np.array([1] * len(members) + [1, 2])
    verdict = _probe_kernel(keys, shards, table, sb.seed)
    assert verdict[: len(members)].all()
    assert not verdict[-2] and not verdict[-1]
    mixed = members + [f"x{i}" for i in range(500)]
    got = _probe_kernel(pa.array(mixed), None, {0: table[1]}, sb.seed)
    assert (got == sb.check(mixed)).all() and not got.all()
