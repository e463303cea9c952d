"""Sharded SCALING bloom — the unbounded-stream filter at sizes
broadcast can't reach.

`build_scaling_bloom` materializes one driver-side filter and probes
by broadcast; at 10^12 keys the filter is tens of GB and neither fits
the driver nor a broadcast. This module keeps the scaling filter AS a
DataFrame of (shard, layer) rows, composing the two at-scale
topologies already in the library:

  * key-hash sharding (operators/sharded.py): a key's membership
    question touches exactly ONE shard — probe volume never multiplies
    by layer count;
  * fixed id-value layer boundaries (bloom_build.
    scaling_bloom_fixed_partials): the layer set is a deterministic
    function of id, so the build is one map stage over the scan plus a
    piece-only shuffle — rows never move.

Layout: layer k of every shard owns ids in
[k·S·(capacity−1), (k+1)·S·(capacity−1)). Unique ids mean a window
holds ≤ S·(capacity−1) keys TOTAL; shard s draws a 1/S hash sample of
them, so the expected shard-layer load is capacity−1 — the reference's
per-layer bound in expectation rather than by construction. The layer
geometry carries a 6·√capacity slack (Binomial(W, 1/S) tail: overflow
probability < 1e-8 per shard-layer), the documented deviation this
topology trades for losing the row shuffle.

Per-layer error: the polynomial ε·(6/π²)/(k+1)² schedule (see
scaling_bloom_fixed_partials). NO ε/num_shards split is needed: a key
is checked only against its own shard's layers, so its compound FP is
Σ_k ε_k ≤ ε regardless of shard count — sharding here is free in
space, unlike the range path's per-shard budget.

Probe: the layer rows are exactly the input of the one sharded probe
routine (sharded._sharded_probe) — broadcast when small, (shard, salt)
cogroup otherwise — and every key walks its shard's layers newest
first through the one membership kernel (bloom_probe._probe_kernel).

Reference parity: per (shard, layer) semantics are exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238) under the
scaling filter's layer schedule (≈L437); the sharded topology is what
the single mmap file cannot express.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.hashing import km_expand
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.bloom_probe import _filtered_join
from dablooms_spark.operators.sharded import _shard_expr, _sharded_probe
from dablooms_spark.operators.sizing import fits_driver_merge

_PIECE_SCHEMA = (
    "shard long, layer long, idx binary, exc binary, vals binary, "
    "n long, max_id long"
)
_ROW_SCHEMA = (
    "shard long, first_id long, layer_eps double, capacity long, "
    "max_id long, sb_eps double, blob binary, n long, num_shards long"
)


def _ensure_num_shards(layers_df: DataFrame, num_shards: int) -> DataFrame:
    """num_shards determines BOTH shard routing and the layer width
    (width = (capacity-1)*num_shards): probing or deleting with a
    mismatched value routes keys to (shard, first_id) groups that
    mostly don't exist — silent drops — and can scatter decrements
    into wrong counters of a group that does exist. The build
    therefore stamps num_shards into every layer row; here we keep the
    column for per-group validation. Pre-r4 artifacts without the
    column get the caller's value stamped in (nothing to validate
    against — documented trust)."""
    if "num_shards" not in layers_df.columns:
        return layers_df.withColumn(
            "num_shards", F.lit(num_shards).cast("long")
        )
    return layers_df


def _layer_geom(
    k: int,
    capacity: int,
    error_rate: float,
    cache: dict,
    expected_layers: int | None = None,
) -> BloomGeometry:
    from dablooms_spark.operators.bloom_build import fixed_layer_eps

    g = cache.get(k)
    if g is None:
        slack = 6 * int(np.sqrt(capacity)) + 16
        g = BloomGeometry(
            capacity + slack, fixed_layer_eps(k, error_rate, expected_layers)
        )
        cache[k] = g
    return g


def _pieces_df(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int,
    seed: int,
    expected_layers: int | None = None,
) -> DataFrame:
    """Map-only stage shared by build and remove: hash keys zero-copy
    and emit one gap-coded sparse counter piece per (input partition,
    shard, touched layer). No row movement."""
    from dablooms_spark.core.codec import delta_encode

    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}

    key = F.col(key_col).cast("string")
    sdf = df.select(
        key.alias("key"),
        F.col(id_col).cast("long").alias("id"),
        _shard_expr(key, num_shards).alias("shard"),
    ).filter(F.col("key").isNotNull() & F.col("id").isNotNull())

    piece_pa_schema = pa.schema(
        [
            ("shard", pa.int64()),
            ("layer", pa.int64()),
            ("idx", pa.large_binary()),
            ("exc", pa.large_binary()),
            ("vals", pa.large_binary()),
            ("n", pa.int64()),
            ("max_id", pa.int64()),
        ]
    )

    from dablooms_spark.operators import bloom_build as _bb

    # snapshot driver-side: ships in the pickled closure, honours
    # caller/test overrides of bloom_build.PIECE_FLUSH_ELEMS
    flush_elems = _bb.PIECE_FLUSH_ELEMS

    def piece_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx_parts: dict[tuple[int, int], list[np.ndarray]] = {}
        counts: dict[tuple[int, int], int] = {}
        maxid: dict[tuple[int, int], int] = {}
        acc_elems = 0

        def drain() -> pa.RecordBatch | None:
            # bounded-memory flush: see bloom_build.PIECE_FLUSH_ELEMS
            nonlocal idx_parts, counts, maxid, acc_elems
            if not idx_parts:
                return None
            sh, layers, gaps_b, exc_b, val_b, ns, mx = [], [], [], [], [], [], []
            for s, li in sorted(idx_parts):
                nz, cnts = np.unique(
                    np.concatenate(idx_parts[(s, li)]), return_counts=True
                )
                gaps, exc = delta_encode(nz.astype(np.int64))
                sh.append(s)
                layers.append(li)
                gaps_b.append(gaps)
                exc_b.append(exc)
                val_b.append(np.minimum(cnts, 15).astype(np.uint8).tobytes())
                ns.append(counts[(s, li)])
                mx.append(maxid[(s, li)])
            rb = pa.RecordBatch.from_pydict(
                {"shard": sh, "layer": layers, "idx": gaps_b, "exc": exc_b,
                 "vals": val_b, "n": ns, "max_id": mx},
                schema=piece_pa_schema,
            )
            idx_parts, counts, maxid, acc_elems = {}, {}, {}, 0
            return rb

        for batch in batches:
            ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            if ids.min() < 0:
                # a negative id would corrupt the shard/layer composite
                # encoding AND the fixed-boundary layer math; refusing
                # beats silently dropping (a drop would false-negative)
                raise ValueError(
                    "fixed-boundary layout requires non-negative ids; "
                    f"got {int(ids.min())}"
                )
            shards = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            layer = ids // width
            group = shards * (1 << 40) + layer  # composite group code
            # ONE argsort + contiguous-run slicing, not a full-batch
            # boolean mask per group: with S shards x L layers the mask
            # loop makes S*L passes over the batch (e.g. 80 at S=16,
            # L=5) — pure DRAM traffic that throttles exactly where
            # this build should scale
            order = np.argsort(group, kind="stable")
            g_sorted = group[order]
            h1s, h2s, ids_s = h1[order], h2[order], ids[order]
            run_starts = np.flatnonzero(
                np.concatenate(([True], g_sorted[1:] != g_sorted[:-1]))
            )
            run_bounds = np.append(run_starts, len(g_sorted))
            for ri in range(len(run_starts)):
                lo, hi = int(run_bounds[ri]), int(run_bounds[ri + 1])
                gcode = int(g_sorted[lo])
                s, li = gcode >> 40, gcode & ((1 << 40) - 1)
                g = _layer_geom(li, capacity, error_rate, geom_cache,
                                expected_layers)
                kk = (s, li)
                arr = km_expand(
                    h1s[lo:hi], h2s[lo:hi], g.nfuncs, g.counts_per_func
                ).ravel()
                idx_parts.setdefault(kk, []).append(arr)
                acc_elems += arr.size
                counts[kk] = counts.get(kk, 0) + (hi - lo)
                maxid[kk] = max(maxid.get(kk, 0), int(ids_s[lo:hi].max()))
            if acc_elems >= flush_elems:
                rb = drain()
                if rb is not None:
                    yield rb
        rb = drain()
        if rb is not None:
            yield rb

    return sdf.mapInArrow(piece_stage, schema=_PIECE_SCHEMA)


def build_sharded_scaling_layers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    expected_layers: int | None = None,
) -> DataFrame:
    """DataFrame(shard, first_id, layer_eps, capacity, max_id, sb_eps,
    blob, n): one counting-bloom layer per (shard, id window). Pass
    expected_layers=ceil((max_id+1)/((capacity-1)*num_shards)) when
    the id span is known to switch the per-layer ε schedule from
    polynomial to uniform (see bloom_build.fixed_layer_eps — ~20%
    less hash/index work at 80 layers, more at scale). Rows
    never shuffle: stage 1 (_pieces_df) hashes keys zero-copy and
    emits one gap-coded sparse piece per (partition, shard, touched
    layer); stage 2 — the only exchange, pieces not rows —
    counter-sums per (shard, layer). Shard routing is the same
    JVM-side expression the probe uses (`pmod(xxhash64(key), S)`)."""
    from dablooms_spark.core.codec import delta_decode

    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}
    pieces = _pieces_df(df, key_col, id_col, capacity, error_rate,
                        num_shards, seed, expected_layers)

    # Small inputs skip the piece exchange + pandas merge stage:
    # collect the per-(partition, shard, layer) sparse pieces (one
    # map-only job) and counter-sum them driver-side with the SAME
    # per-layer geometry math — bit-identical (piece-boundary
    # invariance), gated on the Catalyst-estimate ceiling shared with
    # the other driver merges. The layer rows stay a DataFrame either
    # way (here a local relation).
    spark = df.sparkSession
    if fits_driver_merge(df):
        groups: dict[tuple[int, int], list] = {}
        for r in pieces.collect():
            groups.setdefault((int(r.shard), int(r.layer)), []).append(r)
        data = []
        for (s, li) in sorted(groups):
            g = _layer_geom(li, capacity, error_rate, geom_cache,
                            expected_layers)
            acc = np.zeros(g.size, dtype=np.int32)
            n = 0
            max_id = 0
            for r in groups[(s, li)]:
                np.add.at(
                    acc, delta_decode(r.idx, r.exc),
                    np.frombuffer(r.vals, dtype=np.uint8).astype(np.int32),
                )
                n += int(r.n)
                max_id = max(max_id, int(r.max_id))
            np.clip(acc, 0, 15, out=acc)
            cb = CountingBloom(
                g.capacity, g.error_rate, first_id=li * width, seed=seed,
                _counters=acc.astype(np.uint8), _count=n,
            )
            data.append(
                (s, li * width, g.error_rate, capacity, max_id, error_rate,
                 bytearray(cb.to_bytes()), cb.count, num_shards)
            )
        return spark.createDataFrame(data, schema=_ROW_SCHEMA)

    def merge_layer(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["shard"].iloc[0])
        li = int(pdf["layer"].iloc[0])
        g = _layer_geom(li, capacity, error_rate, geom_cache,
                        expected_layers)
        acc = np.zeros(g.size, dtype=np.int32)
        for gap_bytes, exc_bytes, val_bytes in zip(pdf.idx, pdf.exc, pdf.vals):
            idx = delta_decode(gap_bytes, exc_bytes)
            np.add.at(
                acc, idx, np.frombuffer(val_bytes, dtype=np.uint8).astype(np.int32)
            )
        np.clip(acc, 0, 15, out=acc)
        cb = CountingBloom(
            g.capacity, g.error_rate, first_id=li * width, seed=seed,
            _counters=acc.astype(np.uint8), _count=int(pdf.n.sum()),
        )
        return pd.DataFrame(
            {
                "shard": [s],
                "first_id": [li * width],
                "layer_eps": [g.error_rate],
                "capacity": [capacity],
                "max_id": [int(pdf.max_id.max())],
                "sb_eps": [error_rate],
                "blob": [cb.to_bytes()],
                "n": [cb.count],
                "num_shards": [num_shards],
            }
        )

    return pieces.groupBy("shard", "layer").applyInPandas(
        merge_layer, schema=_ROW_SCHEMA
    )


def sharded_scaling_probe(
    probe_df: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    num_shards: int = 16,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
) -> DataFrame:
    """probe_df + Boolean membership against a sharded scaling filter.

    A key is checked against its own shard's layers, newest first with
    early skip — once a key answers positive it drops out of later
    (older) layer checks, the vectorized form of scaling_bloom_check's
    loop (src/dablooms.c ≈L537). The layer rows go to
    sharded._sharded_probe, which broadcasts them or co-groups probe
    rows with them on (shard, salt) by size. No false negatives; FPs ≤
    the compound Σ layer budgets ≤ sb_eps. Layer rows stamped with
    another num_shards raise `num_shards drift`."""
    rows = _ensure_num_shards(layers_df, num_shards).select(
        "shard", "first_id", "blob", "num_shards"
    )
    return _sharded_probe(
        probe_df, F.col(key_col).cast("string"), rows, num_shards, salt, seed,
        out_col,
    )


def sharded_scaling_remove(
    layers_df: DataFrame,
    deletions: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    expected_layers: int | None = None,
) -> DataFrame:
    """Counter-decrement deletions against a sharded scaling filter,
    fully in the cluster — reference semantics counting_bloom_remove
    (src/dablooms.c ≈L220) at the sharded topology. Returns the new
    layer-rows DataFrame; no blob ever visits the driver.

    Deletions run the SAME map-only piece stage as the build (the
    deletion's id routes it to the layer that owned its insertion,
    dablooms' id model), then each (shard, layer) cogroup subtracts
    counter-wise with a floor at zero. capacity/error_rate/num_shards
    must match the build's (validated against the layer rows). A
    deletion whose (shard, layer) has no layer row targets a key never
    inserted there and is dropped, mirroring the non-strict decrement
    floor. The count n decreases by the deletions applied (floored at
    zero). Saturated counters carry the reference's documented
    remove-after-saturation hazard, exactly as in the driver-side
    path."""
    from dablooms_spark.core.codec import delta_decode

    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}
    pieces = _pieces_df(deletions, key_col, id_col, capacity, error_rate,
                        num_shards, seed, expected_layers)
    # align pieces to the layer rows' key space
    pieces = pieces.withColumn(
        "first_id", F.col("layer") * F.lit(width)
    ).drop("layer")

    layers_df = _ensure_num_shards(layers_df, num_shards)
    # Eager one-row check too: with a mismatched num_shards most
    # deletion pieces route to (shard, first_id) groups that don't
    # exist, where the per-group validation below can never fire (the
    # cogroup sees no layer row to compare) and deletions would be
    # silently dropped as "never inserted". One first() is one tiny
    # job, negligible against the remove itself.
    head = layers_df.select("num_shards").first()
    if head is not None and int(head["num_shards"]) != num_shards:
        raise ValueError(
            f"num_shards drift: layer rows were built with "
            f"num_shards={head['num_shards']}, remove called with "
            f"{num_shards}"
        )
    out_fields = [
        "shard", "first_id", "layer_eps", "capacity", "max_id", "sb_eps",
        "blob", "n", "num_shards",
    ]

    def apply_deletions(keys, layer_pdf: pd.DataFrame, piece_pdf: pd.DataFrame) -> pd.DataFrame:
        if layer_pdf.empty:
            # deletions for keys never inserted here: dropped (floor)
            return pd.DataFrame(columns=out_fields)
        row = layer_pdf.iloc[0]
        if int(row["capacity"]) != capacity or float(row["sb_eps"]) != error_rate:
            raise ValueError(
                "geometry drift: layer rows were built with "
                f"capacity={row['capacity']}, error_rate={row['sb_eps']}"
            )
        if int(row["num_shards"]) != num_shards:
            raise ValueError(
                f"num_shards drift: layer rows were built with "
                f"num_shards={row['num_shards']}, remove called with "
                f"{num_shards} — deletion pieces would route to wrong "
                f"(shard, first_id) groups"
            )
        li = int(row["first_id"]) // width
        expect_eps = _layer_geom(
            li, capacity, error_rate, geom_cache, expected_layers
        ).error_rate
        if abs(float(row["layer_eps"]) - expect_eps) > 1e-15:
            raise ValueError(
                "eps-schedule drift: layer rows carry "
                f"layer_eps={row['layer_eps']} but the remove's schedule "
                f"(expected_layers={expected_layers}) derives "
                f"{expect_eps} — deletion indices were expanded under a "
                "different geometry; pass the build's expected_layers"
            )
        if piece_pdf.empty:
            return layer_pdf[out_fields]
        cb = CountingBloom.from_bytes(bytes(row["blob"]), seed=seed)
        acc = np.zeros(cb.geometry.size, dtype=np.int32)
        removed = 0
        for gap_bytes, exc_bytes, val_bytes in zip(
            piece_pdf.idx, piece_pdf.exc, piece_pdf.vals
        ):
            idx = delta_decode(gap_bytes, exc_bytes)
            np.add.at(
                acc, idx, np.frombuffer(val_bytes, dtype=np.uint8).astype(np.int32)
            )
        removed = int(piece_pdf.n.sum())
        np.clip(acc, 0, 15, out=acc)
        dl = CountingBloom(
            cb.geometry.capacity, cb.geometry.error_rate,
            first_id=cb.first_id, seed=seed,
            _counters=acc.astype(np.uint8), _count=removed,
        )
        cb = cb.subtract(dl)
        cb.count = max(int(row["n"]) - removed, 0)
        new = layer_pdf.iloc[[0]].copy()
        new["blob"] = [cb.to_bytes()]
        new["n"] = [cb.count]
        return new[out_fields]

    return (
        layers_df.groupBy("shard", "first_id")
        .cogroup(pieces.groupBy("shard", "first_id"))
        .applyInPandas(apply_deletions, schema=_ROW_SCHEMA)
    )


def merge_sharded_layer_rows(
    layers_df: DataFrame, seed: int = DABLOOMS_SEED
) -> DataFrame:
    """Union-merge sharded layer rows: rows sharing (shard, first_id)
    — e.g. a resumed/incremental build continuing inside the same id
    window — counter-sum into one row; disjoint rows pass through.
    One parallel groupBy over (shard, first_id): the filter's natural
    parallel unit, no driver traffic (the sharded twin of
    bloom_build.merge_layer_rows). Geometry consistency (capacity,
    sb_eps, num_shards) is validated per colliding group."""
    out_fields = [
        "shard", "first_id", "layer_eps", "capacity", "max_id", "sb_eps",
        "blob", "n", "num_shards",
    ]

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            return pdf[out_fields]
        for col in ("capacity", "sb_eps", "num_shards"):
            if pdf[col].nunique() > 1:
                raise ValueError(
                    f"geometry drift inside (shard, first_id) group: "
                    f"{col} values {sorted(pdf[col].unique())}"
                )
        if pdf["layer_eps"].nunique() > 1:
            raise ValueError(
                "eps-schedule drift inside (shard, first_id) group: "
                f"layer_eps values {sorted(pdf['layer_eps'].unique())} — "
                "the colliding rows were built under different layer-eps "
                "schedules (e.g. one batch with an expected_layers hint "
                "and one without, or different hints); rebuild the batches "
                "with one pinned expected_layers so colliding layers share "
                "a geometry"
            )
        cb = CountingBloom.merge_blobs(
            [bytes(b) for b in pdf.blob], seed=seed
        )
        new = pdf.iloc[[0]].copy()
        new["blob"] = [cb.to_bytes()]
        new["n"] = [int(cb.count)]
        new["max_id"] = [int(pdf.max_id.max())]
        return new[out_fields]

    return layers_df.groupBy("shard", "first_id").applyInPandas(
        merge_group, schema=_ROW_SCHEMA
    )


def sharded_scaling_semi_join(
    probe_df: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 16,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """Semi join against a sharded scaling filter: bloom-prune (no
    false negatives), optionally confirm survivors exactly — the
    bloom_semi_join contract at scaling-filter sizes broadcast can't
    reach. The filter prunes only when the confirm join would shuffle:
    a broadcastable `exact_df` skips the probe (and its layer
    measuring and collecting) for the plain broadcast join."""
    return _filtered_join(
        probe_df, key_col,
        lambda df, col: sharded_scaling_probe(
            df, key_col, layers_df, num_shards, salt, seed, col
        ),
        exact_df, exact_key, "left_semi",
    )
