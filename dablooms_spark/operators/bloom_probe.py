"""Bloom probe — the one membership-probe kernel and the broadcast
read path.

dablooms has one read path, scaling_bloom_check (src/dablooms.c
≈L537): hash the key once, then check the counting layers newest
first; a plain counting filter (counting_bloom_check ≈L238) is the
one-layer case. Here every membership probe runs that path through
`_probe_kernel`: a filter is a table {shard: [counting layers, newest
first]} — {0: [filter]} for a counting filter, {0: its layers} for a
scaling filter, one entry per shard for a sharded one — and the kernel
hashes an Arrow key batch once, then walks the layers of each shard the
batch touches with early skip (core.scaling_bloom.check_layers). A NULL
key is never a member. Its callers are the broadcast UDF built here
(`bloom_probe_column`, one shard; the sharded form routes each key by a
shard column) and the per-group cogroup probe of operators/sharded.py.

`bloom_semi_join` is the runtime-filter pattern: probe → filter →
(optionally) exact semi-join the surviving candidates. With exact
verification the result is exactly LEFT SEMI JOIN, and the filter
prunes only when the confirm join would shuffle: at 100 TB the big
side never shuffles rows the filter already rejected (the bloom has
no false negatives, so no row is lost), while a confirm side small
enough to broadcast never shuffles the probe side at all, so the probe
is skipped and the plain broadcast join runs (Spark's
InjectRuntimeFilter skips shuffle-free joins for the same reason).
Every bloom semi/anti join in the library goes through `_filtered_join`.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Iterator
from typing import Iterator as TIterator
from typing import Tuple as TTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.scaling_bloom import ScalingBloom, check_layers
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.sizing import conf_bytes, fits


def _hash_keys(keys: pa.Array, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(h1, h2, NULL mask or None) for an Arrow string batch — the one
    murmur pass of every probe. A NULL key hashes as the empty string,
    so callers must mask it out."""
    buf, offs, lens = arrow_byte_view(keys)
    h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
    nulls = np.asarray(pa.compute.is_null(keys)) if keys.null_count else None
    return h1, h2, nulls


def _probe_kernel(keys: pa.Array, shards: np.ndarray | None, table: dict, seed: int) -> np.ndarray:
    """Membership verdict per key of one Arrow batch against `table`
    ({shard: [CountingBloom, newest first]}). `shards` routes each key
    to its shard; None puts every key in shard 0. A shard absent from
    the table holds no keys, and a NULL key is never a member (it would
    otherwise alias the empty string and could false-positive)."""
    h1, h2, nulls = _hash_keys(keys, seed)
    if shards is None:
        verdict = check_layers(table.get(0, ()), h1, h2)
    else:
        verdict = np.zeros(len(h1), dtype=bool)
        for s in np.unique(shards):
            layers = table.get(int(s))
            if layers:
                m = shards == s
                verdict[m] = check_layers(layers, h1[m], h2[m])
    if nulls is not None:
        verdict &= ~nulls
    return verdict


def _blob_table(bloom) -> dict[int, list[bytes]]:
    """{0: [layer blobs, newest first]} for a counting or scaling
    filter — the one-shard table the broadcast probe ships."""
    layers = reversed(bloom.layers) if isinstance(bloom, ScalingBloom) else [bloom]
    return {0: [layer.to_bytes() for layer in layers]}


# Per-worker deserialized-table cache: the broadcast ships bytes; each
# Python worker deserializes once per filter, not once per batch or
# task. Keyed by the broadcast value OBJECT's identity (one long-lived
# object per worker); the entry holds the value so the id stays valid.
# Content hashing would risk collisions between filters sharing a
# prefix/suffix. True LRU (evict oldest, not clear-all) so a
# many-filter job degrades gracefully instead of thrashing.
_TABLE_CACHE: "OrderedDict[int, tuple[object, dict]]" = OrderedDict()
_TABLE_CACHE_MAX = 8


def _get_table(blobs: dict[int, list[bytes]], seed: int) -> dict[int, list[CountingBloom]]:
    key = id(blobs)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        _TABLE_CACHE.move_to_end(key)
        return hit[1]
    table = {
        s: [CountingBloom.from_bytes(b, seed=seed) for b in layer_blobs]
        for s, layer_blobs in blobs.items()
    }
    while len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
        _TABLE_CACHE.popitem(last=False)
    _TABLE_CACHE[key] = (blobs, table)
    return table


def _probe_udf(spark, blobs: dict[int, list[bytes]], seed: int, sharded: bool):
    """Vectorized Boolean UDF over a broadcast {shard: [layer blobs,
    newest first]}: probe(key) against a one-shard table, or
    probe(key, shard) when `sharded`. End-to-end zero-copy: Arrow
    string buffers in, hash kernel, boolean buffer out — no per-row
    Python string objects are ever materialized."""
    bc = spark.sparkContext.broadcast(blobs)
    if not sharded:

        @arrow_udf("boolean")
        def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
            table = _get_table(bc.value, seed)
            for keys in it:
                yield pa.array(_probe_kernel(keys, None, table, seed))

        return probe

    @arrow_udf("boolean")
    def probe_sharded(it: TIterator[TTuple[pa.Array, pa.Array]]) -> TIterator[pa.Array]:
        table = _get_table(bc.value, seed)
        for keys, shards in it:
            sh = shards.to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.array(_probe_kernel(keys, sh, table, seed))

    return probe_sharded


def bloom_probe_udf(spark, bloom, seed: int = DABLOOMS_SEED):
    """A reusable vectorized UDF closing over the broadcast filter (a
    CountingBloom or ScalingBloom)."""
    return _probe_udf(spark, _blob_table(bloom), seed, sharded=False)


def bloom_probe_column(
    df: DataFrame,
    key_col: str | Column,
    bloom,
    out_col: str = "is_member",
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Append a Boolean membership column (no false negatives; false
    positives ≤ the filter's configured bound).

    `key_cast`: optional intermediate type the key is cast to BEFORE
    the string cast — must match whatever cast the build side applied,
    or the rendered bytes diverge and the filter false-negatives."""
    probe = bloom_probe_udf(df.sparkSession, bloom, seed)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if key_cast is not None:
        key = key.cast(key_cast)
    return df.withColumn(out_col, probe(key.cast("string")))


def bloom_semi_join(
    probe_df: DataFrame,
    key_col: str,
    bloom,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """probe_df rows whose key the filter reports present.

    With `exact_df`, the result is exactly the LEFT SEMI join; the
    filter prunes only when the confirm join would shuffle (see
    `_filtered_join`), otherwise the plain broadcast join runs.
    """
    return _filtered_join(
        probe_df, key_col,
        lambda df, col: bloom_probe_column(df, key_col, bloom, col, seed, key_cast),
        exact_df, exact_key, "left_semi",
    )


def bloom_anti_join(
    probe_df: DataFrame,
    key_col: str,
    bloom,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Without `exact_df`: probe_df rows the filter reports ABSENT —
    guaranteed true negatives (the bloom invariant: no false negatives
    ⇒ a 'not present' verdict is definite), but false positives drop
    some genuinely-absent rows.

    With `exact_df`: exact LEFT ANTI JOIN semantics. The filter prunes
    only when the confirm join would shuffle: then bloom-misses pass
    straight through (definite negatives, no join work), and only the
    small bloom-hit candidate set pays for an exact anti join — at
    scale the expensive join runs on ~|dim| + ε·|probe| rows instead of
    all of probe_df. A broadcastable `exact_df` skips the probe."""
    return _filtered_join(
        probe_df, key_col,
        lambda df, col: bloom_probe_column(df, key_col, bloom, col, seed, key_cast),
        exact_df, exact_key, "left_anti",
    )


def _filtered_join(
    probe_df: DataFrame,
    key_col: str,
    add_verdict: Callable[[DataFrame, str], DataFrame],
    exact_df: DataFrame | None,
    exact_key: str | None,
    how: str,
    always_probe: bool = False,
) -> DataFrame:
    """The one confirm path behind every bloom semi/anti join.

    `add_verdict(df, col)` appends the filter's Boolean verdict as
    `col` (no false negatives). Without `exact_df` the verdict alone
    answers: hits for left_semi, misses (definite negatives) for
    left_anti. With `exact_df` — which must hold only keys the filter
    was built over — the result is exactly `probe_df LEFT SEMI/ANTI
    JOIN exact_df` on the key, because filter ∧ exact = exact.

    The filter prunes only when the confirm join would shuffle. When
    `_semi_dim` broadcasts the exact side, the probe side never
    shuffles, so there is nothing to prune: the plain broadcast join is
    returned and `add_verdict` is never called (no blob is collected,
    broadcast or assembled). Otherwise the probe side sheds bloom
    misses first and only the hits are confirmed; an anti join passes
    the misses straight through. `always_probe` keeps the probe for a
    caller that asked for that topology. The choice is stamped on the
    result as `confirm_path` ("broadcast" | "probe")."""
    cond = F.col(key_col) == F.col("__ek")
    if exact_df is not None:
        dim, broadcast = _semi_dim(exact_df, exact_key or key_col)
        if broadcast and not always_probe:
            out = probe_df.join(dim, cond, how)
            out.confirm_path = "broadcast"
            return out
    probed = add_verdict(probe_df, "__bloom_hit")
    hits = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    if exact_df is not None:
        hits = hits.join(dim, cond, how)
    if how == "left_semi":
        out = hits
    else:
        out = probed.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
        if exact_df is not None:
            out = out.unionByName(hits)
    out.confirm_path = "probe"
    return out


def _fits_broadcast(df: DataFrame) -> bool:
    """Catalyst's estimate of `df` is within
    spark.sql.autoBroadcastJoinThreshold ('-1' disables)."""
    return fits(
        df, conf_bytes(df.sparkSession, "spark.sql.autoBroadcastJoinThreshold", "10m")
    )


def _semi_dim(exact_df: DataFrame, ek: str) -> tuple[DataFrame, bool]:
    """(build side, broadcasts?) for the exact LEFT SEMI/ANTI confirm
    join.

    The size bound is the key PROJECTION's estimate against Spark's own
    spark.sql.autoBroadcastJoinThreshold — no option of ours. Under it
    the projection is broadcast as is: semi/anti joins are insensitive
    to build-side duplicates, so a distinct() would only add an
    Exchange + aggregate. Over it (or at '-1') the projection is
    distinct()ed, because dedup shrinks the shuffled join's build side.
    `_filtered_join` skips the filter probe exactly when this
    broadcasts."""
    dim = exact_df.select(F.col(ek).alias("__ek"))
    if _fits_broadcast(dim):
        return F.broadcast(dim), True
    return dim.distinct(), False


_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _bloom_key_cast(probe_type, dim_type) -> tuple[bool, str | None]:
    """(bloom_safe, canonical_cast) for the runtime-filter strategy.

    The bloom build/probe hash CAST(key AS STRING) bytes, while the
    exact-join fallback compares keys NATIVELY (Catalyst coerces both
    sides to a common type). If two natively-equal values render to
    different strings (double 25.0 vs int 25, decimal scale), the bloom
    false-negatives and the semi join silently drops rows. Safe cases:
      - identical types: no cast needed;
      - both integral: cast both sides to long (lossless, and equal
        integrals always render identically as longs).
    Anything else (float vs int, decimal vs double, string vs numeric)
    is declared bloom-unsafe — callers fall back to an exact strategy
    or raise, never risk a wrong answer."""
    if probe_type == dim_type:
        return True, None
    if (
        probe_type.typeName() in _INTEGRAL_TYPES
        and dim_type.typeName() in _INTEGRAL_TYPES
    ):
        return True, "long"
    return False, None


def _approx_n_keys(dim_keys: DataFrame, dk: str) -> int:
    """Price the filter with approx_count_distinct, not an exact
    distinct().count(): the exact version is a full distinct Exchange
    of the dim side purely for PLANNING — at 100× scale that planning
    pass can cost more than the filter build it sizes. The HLL++
    partial aggregates map-side (no row shuffle, one small partial per
    partition) at rsd=2%; the 1.1× + 64 slack covers undershoot, and
    the filter tolerates overshoot by construction (capacity slack
    only lowers the observed FP rate; the exact verify join keeps
    results exact regardless)."""
    n = dim_keys.agg(
        F.approx_count_distinct(F.col(dk), rsd=0.02).alias("__n")
    ).first()["__n"]
    return int(n * 1.1) + 64


def _auto_runtime_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str,
    dim_key: str | None,
    strategy: str,
    error_rate: float,
    bloom_blob_budget: int,
    seed: int,
) -> DataFrame:
    """Shared decision + execution for auto_semi_join/auto_anti_join
    (identical stats probe and strategy choice; only the join type and
    the bloom primitive differ)."""
    from dablooms_spark.core.geometry import BloomGeometry
    from dablooms_spark.operators.bloom_build import build_counting_bloom

    dk = dim_key or on
    dim_keys = dim_df.select(F.col(dk))
    n_keys: int | None = None
    bloom_safe, key_cast = _bloom_key_cast(
        probe_df.schema[on].dataType, dim_df.schema[dk].dataType
    )

    if strategy == "auto":
        if _fits_broadcast(dim_df):
            strategy = "broadcast"
        elif not bloom_safe:
            # key types string-render differently → bloom would false-
            # negative; exact shuffle keeps the LEFT SEMI/ANTI contract
            strategy = "shuffle"
        else:
            # one approximate counting pass over the (smaller) dim side
            # prices the filter (map-side HLL partials, no distinct
            # Exchange); the probe side is never scanned for stats
            n_keys = _approx_n_keys(dim_keys, dk)
            blob_size = BloomGeometry(max(n_keys, 1), error_rate).size
            # one blob that fits the budget broadcasts (bloom); a key
            # universe beyond it goes SHARDED — the filter stays a
            # DataFrame, per-shard blobs each fit the budget, and the
            # probe still sheds definite misses before the exact join
            strategy = "bloom" if blob_size <= bloom_blob_budget else "sharded"

    cond = F.col(on) == F.col("__dk")
    dimsel = dim_keys.withColumnRenamed(dk, "__dk")
    if strategy in ("bloom", "sharded") and not bloom_safe:
        raise ValueError(
            f"{strategy} strategy is unsafe for key types "
            f"{probe_df.schema[on].dataType.simpleString()} vs "
            f"{dim_df.schema[dk].dataType.simpleString()}: natively-equal "
            "values may render to different strings (false negatives). "
            "Cast both keys to a common type first, or use "
            "strategy='shuffle'/'broadcast'."
        )
    if strategy == "broadcast":
        # semi/anti joins are duplicate-insensitive on the build side:
        # broadcast the raw keys, skip the distinct Exchange
        out = probe_df.join(F.broadcast(dimsel), cond, how)
    elif strategy in ("bloom", "sharded"):
        if n_keys is None:
            n_keys = _approx_n_keys(dim_keys, dk)
        # build over the string-cast key: the probe paths cast their
        # key to string, so build/probe bytes must match; differing
        # integral types are canonicalized to long on BOTH sides
        dim_key_expr = F.col(dk)
        if key_cast is not None:
            dim_key_expr = dim_key_expr.cast(key_cast)
        dim_keys_str = dim_df.select(dim_key_expr.cast("string").alias(dk))
        if strategy == "bloom":
            filt = build_counting_bloom(
                dim_keys_str, dk, capacity=max(n_keys, 1),
                error_rate=error_rate, seed=seed,
            )

            def add_verdict(df, col):
                return bloom_probe_column(df, on, filt, col, seed, key_cast)
        else:
            from dablooms_spark.operators.sharded import (
                build_sharded_counting_bloom,
                sharded_bloom_probe,
            )

            blob_size = BloomGeometry(max(n_keys, 1), error_rate).size
            num_shards = int(max(16, -(-blob_size // max(bloom_blob_budget, 1))))
            blobs = build_sharded_counting_bloom(
                dim_keys_str, dk, capacity=max(n_keys, 1),
                error_rate=error_rate, num_shards=num_shards, seed=seed,
            )

            def add_verdict(df, col):
                return sharded_bloom_probe(
                    df, on, blobs, num_shards, seed=seed, out_col=col,
                    key_cast=key_cast,
                )
        # the caller (or the stats, when the dim does not broadcast)
        # chose a filter topology: probe even if the key projection
        # alone would broadcast
        out = _filtered_join(
            probe_df, on, add_verdict, dim_df, dk, how, always_probe=True
        )
    elif strategy == "shuffle":
        out = probe_df.join(dimsel.distinct(), cond, how)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    out.auto_join_strategy = strategy
    out.auto_semi_strategy = strategy  # back-compat alias
    return out


def auto_semi_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    dim_key: str | None = None,
    strategy: str = "auto",
    error_rate: float = 0.01,
    bloom_blob_budget: int = 64 << 20,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """LEFT SEMI join with an explicit strategy decision — the
    Python-side stand-in for a Catalyst runtime-filter rewrite rule
    (SURVEY §4.2 stretch; a JVM rule needs Scala). Result is EXACTLY
    `probe_df LEFT SEMI JOIN dim_df` under every strategy.

    Decision (strategy='auto'), from plan statistics:
      broadcast — dim's Catalyst sizeInBytes fits under
        spark.sql.autoBroadcastJoinThreshold: hash-join with an
        explicit broadcast hint, no shuffle of the probe side.
      bloom — dim too big to broadcast whole, but a counting-bloom
        over its distinct keys fits bloom_blob_budget (1 byte/counter
        nibble pair): build-probe-verify — the probe side sheds
        definite misses BEFORE the shuffle, and survivors are
        confirmed with an exact semi join (no false positives leak).
      sharded — key universe too big for ONE filter blob: the filter
        becomes a DataFrame of per-shard blobs (each under the
        budget), probed by (shard, salt) cogroup; the probe side
        still sheds definite misses before the exact join.
      shuffle — key types render-unsafe for hashing: plain shuffled
        semi join, AQE handles skew.

    The chosen strategy is recorded on the result as
    `df.auto_join_strategy` (alias `auto_semi_strategy`) so
    tests/operators can assert the plan.
    """
    return _auto_runtime_join(
        probe_df, dim_df, on, "left_semi", dim_key, strategy,
        error_rate, bloom_blob_budget, seed,
    )


def auto_anti_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    dim_key: str | None = None,
    strategy: str = "auto",
    error_rate: float = 0.01,
    bloom_blob_budget: int = 64 << 20,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """LEFT ANTI twin of auto_semi_join — same stats-driven decision,
    exactly `probe_df LEFT ANTI JOIN dim_df` under every strategy. The
    bloom path is where anti joins shine at scale: a bloom MISS is a
    definite negative (no false negatives), so the bulk of the probe
    side passes through with zero join work and only the small
    bloom-hit candidate set pays for the exact anti join."""
    return _auto_runtime_join(
        probe_df, dim_df, on, "left_anti", dim_key, strategy,
        error_rate, bloom_blob_budget, seed,
    )
