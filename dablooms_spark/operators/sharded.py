"""Sharded counting bloom — filters too big to broadcast — and the one
sharded probe routine.

A single filter sized for 10^12 keys at ε=0.01 is ~1.4 TB of
nibbles: it can neither broadcast nor live on the driver. The sharded
form keeps the filter AS a DataFrame — S shards, each a self-contained
counting bloom over the keys that hash-route to it — and probes by
routing probe rows to their shard (`pmod(xxhash64(key), S)`, pure
Catalyst on both sides).

Scale shape:
- build: per input partition, one partial blob per TOUCHED shard
  (map-side combine, gap-coded sparse serde), then ONE blob-only
  shuffle merges partials per shard — rows never shuffle
  (counting-bloom merge is an exact saturating counter-sum, so
  shard filters are bit-identical to single-node builds).
- probe: `_sharded_probe` serves every sharded filter shape — sharded
  counting, sharded scaling (operators/sharded_scaling.py) and
  rotating generations (operators/generations.py) — over filter rows
  (shard, first_id, blob, num_shards), one counting layer per row
  (a counting shard is one layer at first_id 0). Filters whose blobs
  fit spark.dablooms.probe.autoBroadcastBytes (default 64 MiB; '0'
  forces the cogroup) are collected and broadcast to a vectorized UDF
  — zero shuffle of the probe side. Bigger filters co-group probe rows
  with their shard's layers on (shard, salt): the probe side shuffles
  ONCE, and the salt bounds each cogroup task's batch so a hot shard
  can't OOM a task. Both topologies call the same membership kernel
  (bloom_probe._probe_kernel), so verdicts are identical: no false
  negatives, false positives ≤ the per-shard configured bound.

Reference parity: semantics per shard are exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238); sharding is the
distributed-scale topology the reference's single mmap file cannot
express.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.bloom_probe import _filtered_join, _probe_kernel, _probe_udf
from dablooms_spark.operators.sizing import conf_bytes, fits_driver_merge

_SHARD_SEED = 0x5D


def _shard_expr(key, num_shards: int):
    # JVM-side routing: both build and probe compute the same shard in
    # whole-stage codegen; murmur is only used for the filter bits
    return F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(num_shards))


def build_sharded_counting_bloom(
    df: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 64,
    seed: int = DABLOOMS_SEED,
    on_overflow: str = "saturate",
) -> DataFrame:
    """DataFrame(shard long, blob binary, n long): one counting bloom
    per key-hash shard, each sized capacity/num_shards. Rows never
    shuffle — partitions emit per-shard partial blobs, one blob-only
    shuffle merges them.

    on_overflow='error' extends the reference's bitmap_increment
    refusal (≈L108) to the sharded topology: partial adds raise
    executor-side, the strict flag rides each blob header, and the
    per-shard merge_blobs re-checks cross-partition sums."""
    if on_overflow not in ("saturate", "error"):
        raise ValueError("on_overflow must be 'saturate' or 'error'")
    cap_shard = max(1, capacity // num_shards)
    sdf = df.select(
        F.col(key_col).cast("string").alias("key")
    ).filter(F.col("key").isNotNull()).withColumn(
        "shard", _shard_expr(F.col("key"), num_shards)
    )

    def build_partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        filters: dict[int, CountingBloom] = {}
        for batch in batches:
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            shards = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(shards, kind="stable")
            ss, h1s, h2s = shards[order], h1[order], h2[order]
            bounds = np.searchsorted(ss, np.arange(num_shards + 1))
            for s in np.unique(ss):
                lo, hi = bounds[s], bounds[s + 1]
                cb = filters.get(int(s))
                if cb is None:
                    cb = CountingBloom(
                        cap_shard, error_rate, seed=seed, on_overflow=on_overflow
                    )
                    filters[int(s)] = cb
                cb.add_hashed(h1s[lo:hi], h2s[lo:hi])
        if filters:
            items = sorted(filters.items())
            yield pa.RecordBatch.from_pydict(
                {
                    "shard": [s for s, _ in items],
                    "blob": [cb.to_bytes() for _, cb in items],
                    "n": [cb.count for _, cb in items],
                },
                schema=pa.schema(
                    [("shard", pa.int64()), ("blob", pa.large_binary()), ("n", pa.int64())]
                ),
            )

    partials = sdf.mapInArrow(build_partials, schema="shard long, blob binary, n long")

    # Small inputs skip the blob exchange + pandas merge stage: collect
    # the per-(partition, shard) partial blobs (one map-only job) and
    # counter-sum them driver-side — bit-identical (the merge is an
    # order-invariant saturating counter sum) and gated on the same
    # Catalyst-estimate ceiling as the other driver merges.
    spark = df.sparkSession
    if fits_driver_merge(sdf):
        by_shard: dict[int, list[bytes]] = {}
        counts: dict[int, int] = {}
        for r in partials.collect():
            by_shard.setdefault(int(r.shard), []).append(bytes(r.blob))
            counts[int(r.shard)] = counts.get(int(r.shard), 0) + int(r.n)
        data = []
        for s in sorted(by_shard):
            merged = CountingBloom.merge_blobs(by_shard[s], seed=seed)
            data.append((s, bytearray(merged.to_bytes()), counts[s]))
        return spark.createDataFrame(
            data, schema="shard long, blob binary, n long"
        )

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = CountingBloom.merge_blobs([bytes(b) for b in pdf.blob], seed=seed)
        return pd.DataFrame(
            {
                "shard": [int(pdf.shard.iloc[0])],
                "blob": [merged.to_bytes()],
                "n": [int(pdf.n.sum())],
            }
        )

    return partials.groupBy("shard").applyInPandas(
        merge_shard, schema="shard long, blob binary, n long"
    )


def sharded_bloom_remove(
    blobs_df: DataFrame,
    deletions: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 64,
    seed: int = DABLOOMS_SEED,
    on_overflow: str = "saturate",
) -> DataFrame:
    """Counter-decrement deletions against a sharded counting filter,
    fully in the cluster — counting_bloom_remove (src/dablooms.c
    ≈L220) at the sharded topology. Returns the new (shard, blob, n)
    DataFrame; no blob ever visits the driver.

    Deletions run the SAME build pipeline (per-shard deletion-count
    filters, blob-only shuffle), then each shard cogroup subtracts
    counter-wise, floored at zero. capacity/error_rate/num_shards/seed
    must match the build's — sharding and geometry are derived from
    them. Over-removal (keys never inserted) floors, mirroring the
    non-strict decrement; pass on_overflow='error' when removing from
    a strict filter so a deletion key repeated past 15 raises instead
    of clipping (a clipped deletion count would mask the over-removal
    the strict mode exists to refuse)."""
    del_blobs = build_sharded_counting_bloom(
        deletions, key_col, capacity, error_rate, num_shards, seed, on_overflow
    )
    cols = ["shard", "blob", "n"]

    def apply_deletions(keys, blob_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if blob_pdf.empty:
            # deletions routed to a shard that holds no keys: floor
            return pd.DataFrame(columns=cols)
        if del_pdf.empty:
            return blob_pdf[cols]
        cb = CountingBloom.from_bytes(bytes(blob_pdf.blob.iloc[0]), seed=seed)
        dl = CountingBloom.merge_blobs([bytes(b) for b in del_pdf.blob], seed=seed)
        # subtract() floors count at 0 itself (from_bytes restored the
        # build-side n; merge_blobs summed the deletion partials')
        cb = cb.subtract(dl)
        return pd.DataFrame(
            {"shard": [int(blob_pdf.shard.iloc[0])], "blob": [cb.to_bytes()],
             "n": [cb.count]}
        )

    return (
        blobs_df.groupBy("shard")
        .cogroup(del_blobs.groupBy("shard"))
        .applyInPandas(apply_deletions, schema="shard long, blob binary, n long")
    )


def _check_num_shards(built: int, num_shards: int) -> None:
    if int(built) != num_shards:
        raise ValueError(
            f"num_shards drift: layer rows were built with "
            f"num_shards={built}, probe called with "
            f"{num_shards} — shard routing and layer width differ"
        )


def _sharded_probe(
    probe_df: DataFrame,
    key: Column,
    rows_df: DataFrame,
    num_shards: int,
    salt: int,
    seed: int,
    out_col: str,
) -> DataFrame:
    """probe_df + out_col: membership of the string `key` against
    filter rows (shard, first_id, blob, num_shards) — one counting
    layer per row, a shard's layers checked newest (largest first_id)
    first. Rows stamped with another num_shards raise `num_shards
    drift`: routing and layer width would both differ.

    Topology is SIZE-ADAPTIVE: when the rows' total blob bytes fit
    spark.dablooms.probe.autoBroadcastBytes (default 64 MiB, '0'
    disables) they are collected once and broadcast to a vectorized
    UDF column — zero shuffle of the probe side, which otherwise moves
    EVERY probe row with all its payload columns. Bigger filters keep
    the cogroup below, which never materializes the filter in one
    place: probe rows co-group with their shard's rows on (shard,
    salt), the rows replicating `salt` ways so a hot shard splits
    across tasks. Both call bloom_probe._probe_kernel."""
    spark = probe_df.sparkSession
    shard = _shard_expr(key, num_shards)
    thr = conf_bytes(spark, "spark.dablooms.probe.autoBroadcastBytes", "64m")
    if thr > 0:
        # one tiny aggregate over the (already small) blob side decides
        # the topology; the persist lets that pass and the probe share
        # ONE computation of the build lineage (dropped right after the
        # collect in the broadcast outcome)
        rows_df = rows_df.persist()
        total = rows_df.agg(F.sum(F.length("blob"))).first()[0] or 0
        if total <= thr:
            rows = rows_df.collect()
            rows_df.unpersist()
            blobs: dict[int, list[bytes]] = {}
            for r in sorted(rows, key=lambda r: -r.first_id):
                _check_num_shards(r.num_shards, num_shards)
                blobs.setdefault(r.shard, []).append(bytes(r.blob))
            probe = _probe_udf(spark, blobs, seed, sharded=True)
            return probe_df.withColumn(out_col, probe(key, shard))
    in_cols = probe_df.columns
    # __key_str is the JVM CAST(key AS STRING) — the exact bytes the
    # build hashed — and reaches the kernel as Arrow, NULLs kept
    p = probe_df.select(
        "*",
        key.alias("__key_str"),
        shard.alias("__shard"),
        F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED + 1)), F.lit(salt)).alias("__salt"),
    )
    # __salt MUST be long on both sides: cogroup hash-partitions each
    # side independently and int 0 / long 0 hash to different shuffle
    # partitions — an int salt silently splits groups into a
    # probe-only half (all-False verdicts) and an orphan blob half
    # whenever the sides don't coalesce into one partition
    b = rows_df.select(
        F.col("shard").cast("long").alias("__shard"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))
        ).alias("__salt"),
        "first_id",
        "blob",
        "num_shards",
    )

    def probe_group(probe_t: pa.Table, rows_t: pa.Table) -> pa.Table:
        verdict = np.zeros(probe_t.num_rows, dtype=bool)
        if probe_t.num_rows:
            for built in set(rows_t.column("num_shards").to_pylist()):
                _check_num_shards(built, num_shards)
            rows_t = rows_t.sort_by([("first_id", "descending")])
            layers = [
                CountingBloom.from_bytes(blob, seed=seed)
                for blob in rows_t.column("blob").to_pylist()
            ]
            keys = probe_t.column("__key_str").combine_chunks()
            verdict = _probe_kernel(keys, None, {0: layers}, seed)
        return probe_t.select(in_cols).append_column(out_col, pa.array(verdict))

    return (
        p.groupBy("__shard", "__salt")
        .cogroup(b.groupBy("__shard", "__salt"))
        .applyInArrow(
            probe_group,
            schema=StructType(
                probe_df.schema.fields + [StructField(out_col, BooleanType())]
            ),
        )
    )


def sharded_bloom_probe(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
    key_cast: str | None = None,
) -> DataFrame:
    """probe_df + a Boolean membership column, for a sharded filter
    (shard, blob, n): each shard is one layer of `_sharded_probe`,
    which picks the broadcast or the (shard, salt) cogroup topology.
    No false negatives; FPs ≤ the per-shard bound.

    `key_cast`: optional intermediate type applied BEFORE the string
    cast — must match the build side's cast (see bloom_probe_column).
    """
    key = F.col(key_col)
    if key_cast is not None:
        key = key.cast(key_cast)
    rows = blobs_df.select(
        "shard",
        F.lit(0).cast("long").alias("first_id"),
        "blob",
        F.lit(num_shards).cast("long").alias("num_shards"),
    )
    return _sharded_probe(
        probe_df, key.cast("string"), rows, num_shards, salt, seed, out_col
    )


def sharded_semi_join(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Semi join against a sharded filter: bloom-prune (no false
    negatives), then optionally confirm survivors exactly — the
    bloom_semi_join contract at filter sizes broadcast can't reach.
    The filter prunes only when the confirm join would shuffle: a
    broadcastable `exact_df` skips the probe (and the blob measuring
    and collecting it would do) for the plain broadcast join."""
    return _filtered_join(
        probe_df, key_col,
        lambda df, col: sharded_bloom_probe(
            df, key_col, blobs_df, num_shards, salt, seed, col, key_cast
        ),
        exact_df, exact_key, "left_semi",
    )


def sharded_anti_join(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """LEFT ANTI against a sharded filter: bloom misses pass straight
    through (definite negatives); with exact_df only the ε-sized hit
    set pays for an exact anti join — bloom_anti_join's contract at
    filter sizes broadcast can't reach. The filter prunes only when
    the confirm join would shuffle: a broadcastable `exact_df` skips
    the probe for the plain broadcast anti join."""
    return _filtered_join(
        probe_df, key_col,
        lambda df, col: sharded_bloom_probe(
            df, key_col, blobs_df, num_shards, salt, seed, col, key_cast
        ),
        exact_df, exact_key, "left_anti",
    )
