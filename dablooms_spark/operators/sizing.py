"""The one size gate: Spark size strings and Catalyst plan estimates.

Every topology choice in the library — broadcast or shuffled confirm
join, broadcast or cogroup sharded probe, driver fold or distributed
merge, stage-1 fan-out, UDAF or partial sketch engine — compares
Catalyst's optimized-plan `sizeInBytes` against a size read from the
session conf. A failed estimate counts as too big: the distributed
path is always correct, the small-input shortcut only faster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SUFFIXES = (
    ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
    ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
)


def _size_bytes(v) -> int:
    s = str(v).strip().lower()
    for suffix, mult in _SUFFIXES:
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)])) * mult
    return int(float(s))


def conf_bytes(spark, key: str, default: str) -> int:
    """Session conf `key` as bytes ('10m', '1g', '10485760b', '-1');
    `default` when the key is unset or unparseable."""
    try:
        return _size_bytes(spark.conf.get(key, default))
    except ValueError:
        return _size_bytes(default)


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate of `df`, or None."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fits(df: DataFrame, limit: int) -> bool:
    """`df`'s estimate is known and within `limit` (a negative limit
    never fits)."""
    est = plan_bytes(df)
    return est is not None and 0 <= est <= limit


def fits_driver_merge(df: DataFrame) -> bool:
    """A build over `df` may collect its partials and fold them on the
    driver instead of merging through a groupBy exchange
    (spark.dablooms.build.driverMergeMaxBytes, default 32 MiB): for
    small inputs the fold removes a stage, a shuffle and a pandas
    round-trip. Above the ceiling the distributed merge keeps the
    driver out of the data path."""
    return fits(
        df,
        conf_bytes(df.sparkSession, "spark.dablooms.build.driverMergeMaxBytes", "32m"),
    )
