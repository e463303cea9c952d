"""The one confirm path behind every bloom semi/anti join: the filter
prunes only when the exact confirm join would shuffle.

Under spark.sql.autoBroadcastJoinThreshold the exact side broadcasts
and the probe is skipped; at '-1' the probe side sheds bloom misses
before a shuffled confirm join. Both must give the same rows."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from dablooms_spark.operators.bloom_build import build_counting_bloom
from dablooms_spark.operators.bloom_probe import (
    _semi_dim,
    bloom_anti_join,
    bloom_semi_join,
)
from dablooms_spark.operators.generations import (
    build_generation_filters,
    generation_semi_join,
)
from dablooms_spark.operators.ingest import (
    incremental_ingest,
    incremental_ingest_scaling,
    incremental_ingest_sharded_scaling,
)
from dablooms_spark.operators.sharded import (
    build_sharded_counting_bloom,
    sharded_anti_join,
    sharded_semi_join,
)
from dablooms_spark.operators.sharded_scaling import (
    build_sharded_scaling_layers,
    sharded_scaling_semi_join,
)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# filters sized at the dim's key count with a loose bound, so that
# absent probe keys false-positive and the confirm join has work to do
CAP, EPS, SHARDS = 30, 0.5, 4


def _fixture(spark):
    """dim: k0..k29, every key twice, one day of timestamps; probe:
    k0..k59 (half absent from dim), three NULL keys, duplicate probe
    keys and 1000 more absent keys. Built on spark.range so that
    Catalyst sizes them (a DataFrame made from a Python list has no
    size estimate and never broadcasts)."""
    dim = spark.range(60).select(
        F.concat(F.lit("k"), F.col("id") % 30).alias("dk"),
        "id",
        F.to_timestamp(F.lit("2024-03-01 12:00:00")).alias("ts"),
    )
    i = F.col("id")
    key = (
        F.when(i < 60, F.concat(F.lit("k"), i))
        .when(i < 63, F.lit(None).cast("string"))
        .when(i < 65, F.lit("k1"))
        .when(i < 66, F.lit("k40"))
        .otherwise(F.concat(F.lit("x"), i))
    )
    probe = spark.range(1_066).select(key.alias("k"), (i + 60).alias("payload"))
    return dim, probe


@pytest.fixture(scope="module")
def joins(spark):
    """{entry point: f(exact_df) -> joined DataFrame}"""
    dim, probe = _fixture(spark)
    cb = build_counting_bloom(dim, "dk", capacity=CAP, error_rate=EPS)
    sh = build_sharded_counting_bloom(
        dim, "dk", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).cache()
    layers = build_sharded_scaling_layers(
        dim, "dk", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).cache()
    gens = build_generation_filters(
        dim, "dk", "ts", "1 day", capacity=CAP, error_rate=EPS,
        num_shards=SHARDS,
    ).cache()
    as_of = gens.agg(F.max("gen")).first()[0]
    return probe, {
        "bloom_semi_join": lambda ex: bloom_semi_join(
            probe, "k", cb, exact_df=ex, exact_key="dk"
        ),
        "bloom_anti_join": lambda ex: bloom_anti_join(
            probe, "k", cb, exact_df=ex, exact_key="dk"
        ),
        "sharded_semi_join": lambda ex: sharded_semi_join(
            probe, "k", sh, exact_df=ex, exact_key="dk", num_shards=SHARDS
        ),
        "sharded_anti_join": lambda ex: sharded_anti_join(
            probe, "k", sh, exact_df=ex, exact_key="dk", num_shards=SHARDS
        ),
        "sharded_scaling_semi_join": lambda ex: sharded_scaling_semi_join(
            probe, "k", layers, exact_df=ex, exact_key="dk", num_shards=SHARDS
        ),
        "generation_semi_join": lambda ex: generation_semi_join(
            probe, "k", gens, as_of, 1, exact_df=ex, exact_key="dk",
            num_shards=SHARDS,
        ),
    }


def _ingest(kind, spark, path, exact=True):
    """Second batch's new rows, split with or without an exact
    seen-set."""
    dim, probe = _fixture(spark)
    seen = dim.select(F.col("dk").alias("key"), F.col("id").alias("rid"))
    batch = probe.select(F.col("k").alias("key"), F.col("payload").alias("rid"))
    if kind == "incremental_ingest":
        def run(b, **kw):
            return incremental_ingest(b, "key", path, "run", CAP, EPS, **kw)
    elif kind == "incremental_ingest_scaling":
        # a 1-byte budget routes the split through the layer-row
        # cogroup probe instead of a driver-assembled filter
        def run(b, **kw):
            return incremental_ingest_scaling(
                b, "key", "rid", path, "run", CAP, EPS,
                broadcast_blob_budget=1, split_salt=2, **kw,
            )
    else:
        def run(b, **kw):
            return incremental_ingest_sharded_scaling(
                b, "key", "rid", path, "run", CAP, EPS, num_shards=SHARDS,
                **kw,
            )
    run(seen)
    kw = {"exact_seen_df": seen, "exact_key": "key"} if exact else {}
    new_rows, _ = run(batch, **kw)
    return new_rows


def _rows_and_path(spark, make, threshold):
    old = spark.conf.get(THRESHOLD)
    if threshold is not None:
        spark.conf.set(THRESHOLD, threshold)
    try:
        out = make()
        return Counter(tuple(r) for r in out.collect()), out.confirm_path
    finally:
        spark.conf.set(THRESHOLD, old)


JOINS = [
    "bloom_semi_join", "bloom_anti_join", "sharded_semi_join",
    "sharded_anti_join", "sharded_scaling_semi_join", "generation_semi_join",
]


@pytest.mark.parametrize("name", JOINS)
def test_broadcast_confirm_equals_probe_confirm(spark, joins, name):
    """The default threshold broadcasts the exact side and skips the
    probe; '-1' probes and confirms through a shuffled join. Both
    return the same row multiset, which is the plain LEFT SEMI/ANTI
    join (NULL probe keys dropped by semi, kept by anti)."""
    probe, make = joins
    dim, _ = _fixture(spark)
    skipped, skipped_path = _rows_and_path(spark, lambda: make[name](dim), None)
    probed, probed_path = _rows_and_path(spark, lambda: make[name](dim), "-1")
    assert (skipped_path, probed_path) == ("broadcast", "probe")
    assert skipped == probed

    how = "left_anti" if name.endswith("anti_join") else "left_semi"
    plain = probe.join(dim, probe.k == dim.dk, how)
    assert skipped == Counter(tuple(r) for r in plain.collect())
    nulls = sum(n for row, n in skipped.items() if row[0] is None)
    assert nulls == (3 if how == "left_anti" else 0)
    # the filter alone false-positives, so the confirm join did work
    approx, _ = _rows_and_path(spark, lambda: make[name](None), "-1")
    assert approx != probed


@pytest.mark.parametrize(
    "kind",
    ["incremental_ingest", "incremental_ingest_scaling",
     "incremental_ingest_sharded_scaling"],
)
def test_ingest_split_broadcast_equals_probe(spark, tmp_path, kind):
    """An ingest split with exact_seen_df: the broadcast anti join and
    the probe + shuffled anti join give the same new rows."""
    skipped, skipped_path = _rows_and_path(
        spark, lambda: _ingest(kind, spark, str(tmp_path / "a")), None
    )
    probed, probed_path = _rows_and_path(
        spark, lambda: _ingest(kind, spark, str(tmp_path / "b")), "-1"
    )
    assert (skipped_path, probed_path) == ("broadcast", "probe")
    assert skipped == probed
    # k30..k59, the duplicate k40, the three NULL keys and the x keys
    # are new
    assert sum(skipped.values()) == 1_034
    assert sum(n for row, n in skipped.items() if row[0] is None) == 3
    # without the seen-set, false positives drop some new rows
    approx, _ = _rows_and_path(
        spark, lambda: _ingest(kind, spark, str(tmp_path / "c"), False), "-1"
    )
    assert sum(approx.values()) < 1_034


def test_semi_dim_size_bound(spark):
    """Under the threshold the key projection broadcasts with no
    distinct() and the semi join runs no Python probe; at '-1' it is
    distinct()ed and the probe UDF is in the plan."""
    dim, probe = _fixture(spark)
    cb = build_counting_bloom(dim, "dk", capacity=CAP, error_rate=EPS)

    def shapes():
        built, broadcast = _semi_dim(dim, "dk")
        logical = built._jdf.queryExecution().analyzed().toString()
        out = bloom_semi_join(probe, "k", cb, exact_df=dim, exact_key="dk")
        return (
            broadcast,
            "ResolvedHint" in logical,
            "Deduplicate" in logical,
            "EvalPython" in out._jdf.queryExecution().executedPlan().toString(),
        )

    assert shapes() == (True, True, False, False)
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        assert shapes() == (False, False, True, True)
    finally:
        spark.conf.set(THRESHOLD, old)
