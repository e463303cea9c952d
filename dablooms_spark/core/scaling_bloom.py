"""Scaling (stacking) counting Bloom filter.

Semantics follow the public dablooms scaling bloom
(src/dablooms.c: `scaling_bloom_add` ≈L487, `scaling_bloom_remove`
≈L517, `scaling_bloom_check` ≈L537, `new_counting_bloom_from_scale`
≈L352, ERROR_TIGHTENING_RATIO=0.5 ≈L19):

- An ordered stack of counting-bloom layers. Layer i is built with
  error_rate = ε0 * 0.5^(i+1) (geometric tightening, Almeida et al.
  2007) and the *same* capacity, so compound FP ≤ Σ ε0*0.5^(i+1) ≤ ε0
  regardless of how many layers accumulate.
- Every element carries a monotone uint64 id. Adds route to the newest
  layer whose first_id <= id; a brand-new id (> max_id) landing when
  the newest layer holds >= capacity-1 elements triggers growth of a
  fresh layer with first_id = max_id + 1.
- Removes route by id to the layer that held the insert; checks OR
  across layers (newest→oldest in the reference; order-independent).

Distributed extension (north_rule, not in the single-process
reference): shards build independent scaling filters over disjoint id
ranges; merge concatenates layers (associative, order canonicalized by
first_id) and counter-sums any layers that share (first_id, geometry).
To keep the compound FP bound ≤ ε across S shards, the builder hands
each shard an ε budget of ε/S — since nfuncs = ceil(log2(1/ε)), a
1000-way split costs only ~10 extra hash functions per layer.
"""

from __future__ import annotations

import struct

import numpy as np

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import ERROR_TIGHTENING_RATIO, BloomGeometry
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words

_MAGIC = b"DBSC"
_VERSION = 1
# magic 4s | version u16 | pad u16 | capacity u64 | error f64 | max_id u64 |
# num_layers u32 | pad u32
_HDR = struct.Struct("<4sHHQdQII")


def check_layers(layers, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """OR of counting-bloom `layers`, given NEWEST FIRST, over pre-hashed
    keys — the loop of scaling_bloom_check (≈L537); a plain counting
    filter is the one-layer case. At steady state most hits are recent,
    so a key that answers positive skips every older layer's index
    expansion."""
    verdict = np.zeros(len(h1), dtype=bool)
    for i, layer in enumerate(layers):
        if i == 0:
            # every key is pending: no masked copy of the hashes, so
            # a one-layer filter costs what its own check costs
            verdict[:] = layer.check_hashed(h1, h2)
            continue
        pending = ~verdict
        if not pending.any():
            break
        verdict[pending] = layer.check_hashed(h1[pending], h2[pending])
    return verdict


class ScalingBloom:
    __slots__ = ("capacity", "error_rate", "seed", "layers", "max_id")

    def __init__(
        self,
        capacity: int,
        error_rate: float,
        seed: int = DABLOOMS_SEED,
        layers: list[CountingBloom] | None = None,
        max_id: int = 0,
        start_id: int = 0,
    ):
        """`start_id` sets the initial layer's first_id (0 in the
        reference's scaling_bloom_init ≈L382). Distributed shard builds
        pass their id-range start so layers from different shards never
        collide on first_id and merge stays a pure concatenation."""
        self.capacity = int(capacity)
        self.error_rate = float(error_rate)
        self.seed = seed
        self.max_id = int(max_id) if layers is not None else max(int(start_id) - 1, 0)
        if layers is None:
            layers = [self._new_layer(0, first_id=int(start_id))]
        self.layers = layers

    def _new_layer(self, layer_index: int, first_id: int) -> CountingBloom:
        eps = self.error_rate * ERROR_TIGHTENING_RATIO ** (layer_index + 1)
        return CountingBloom(self.capacity, eps, first_id=first_id, seed=self.seed)

    # ---- id routing ------------------------------------------------------

    def _route(self, ids: np.ndarray) -> np.ndarray:
        """Per-row target layer index: newest layer with first_id <= id
        (the reference's newest→oldest scan, ≈L490); ids below every
        first_id fall through to layer 0, as the C loop does."""
        first_ids = np.array([l.first_id for l in self.layers], dtype=np.int64)
        tgt = np.searchsorted(first_ids, ids, side="right") - 1
        return np.maximum(tgt, 0)

    # ---- mutation --------------------------------------------------------

    def add(self, keys, ids) -> None:
        """Batch add with id routing and capacity-triggered layer growth.

        `ids` must be sorted non-decreasing within the batch (the Spark
        build sorts within partitions upstream, mirroring the monotone
        insertion-sequence assumption of the reference).
        """
        if len(keys) == 0:
            return
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        self.add_hashed(h1, h2, ids)

    def add_hashed(self, h1: np.ndarray, h2: np.ndarray, ids) -> None:
        """Hash-precomputed variant (the Arrow zero-copy build path)."""
        n = len(h1)
        if n == 0:
            return
        ids = np.asarray(ids, dtype=np.int64)
        if n > 1 and np.any(np.diff(ids) < 0):
            raise ValueError("ScalingBloom.add requires non-decreasing ids")

        # Historic rows (id <= max_id) route to their original layer and
        # never trigger growth (grow requires id > max_id, ≈L497).
        hist = ids <= self.max_id
        if np.any(hist):
            tgt = self._route(ids[hist])
            hh1, hh2 = h1[hist], h2[hist]
            for li in np.unique(tgt):
                m = tgt == li
                self.layers[li].add_hashed(hh1[m], hh2[m])

        fresh_idx = np.flatnonzero(~hist)
        pos = 0
        while pos < len(fresh_idx):
            cur = self.layers[-1]
            room = (self.capacity - 1) - cur.count
            if room <= 0:
                # new_counting_bloom_from_scale: first_id = max_id + 1.
                self.layers.append(
                    self._new_layer(len(self.layers), first_id=self.max_id + 1)
                )
                cur = self.layers[-1]
                room = (self.capacity - 1) - cur.count
            take = fresh_idx[pos : pos + room]
            cur.add_hashed(h1[take], h2[take])
            self.max_id = int(ids[take[-1]])
            pos += len(take)

    def remove(self, keys, ids) -> None:
        """Batch remove routed by id (scaling_bloom_remove ≈L517)."""
        if len(keys) == 0:
            return
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        self.remove_hashed(h1, h2, ids)

    def remove_hashed(self, h1: np.ndarray, h2: np.ndarray, ids) -> None:
        if len(h1) == 0:
            return
        ids = np.asarray(ids, dtype=np.int64)
        tgt = self._route(ids)
        for li in np.unique(tgt):
            m = tgt == li
            self.layers[li].remove_hashed(h1[m], h2[m])

    def check(self, keys) -> np.ndarray:
        """Batch membership: OR across layers (scaling_bloom_check ≈L537).
        One murmur hash per key, re-expanded per layer geometry."""
        if len(keys) == 0:
            return np.empty(0, dtype=bool)
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        return self.check_hashed(h1, h2)

    def check_hashed(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return check_layers(reversed(self.layers), h1, h2)

    @property
    def count(self) -> int:
        return sum(l.count for l in self.layers)

    # ---- cardinality from the counters alone -----------------------------

    def counter_sum(self) -> int:
        return sum(l.counter_sum() for l in self.layers)

    def added_count(self) -> tuple[int, bool]:
        """(live adds, exact?) across all layers — each key lives in
        exactly one layer (id routing), so the per-layer counter-sum
        counts (see CountingBloom.added_count) simply add. exact iff
        every layer is exact."""
        total, exact = 0, True
        for l in self.layers:
            n, ok = l.added_count()
            total += n
            exact = exact and ok
        return total, exact

    def density_estimate(self) -> float:
        """Swamidass–Baldi bit-density estimate summed over layers
        (layers partition the key space by id, so estimates add)."""
        return sum(l.density_estimate() for l in self.layers)

    # ---- merge / subtract --------------------------------------------------

    def subtract(self, other: "ScalingBloom") -> "ScalingBloom":
        """Layer-wise counter subtraction — the blob-algebra form of a
        batch remove. `other` is a DELETION filter sharing this
        filter's layer skeleton (same first_id + error_rate per touched
        layer, as built by operators.bloom_remove's distributed path);
        each matching layer subtracts counter-wise, clamped at 0 —
        exactly what remove_hashed would have done row-at-a-time.
        Mutates self and returns it."""
        if (self.capacity, self.seed) != (other.capacity, other.seed):
            raise ValueError("cannot subtract scaling blooms with different config")
        mine = {
            (l.first_id, l.geometry.error_rate): l for l in self.layers
        }
        for dl in other.layers:
            if dl.count == 0 and not dl.counters.any():
                continue
            tgt = mine.get((dl.first_id, dl.geometry.error_rate))
            if tgt is None:
                raise ValueError(
                    "deletion filter layer (first_id="
                    f"{dl.first_id}, eps={dl.geometry.error_rate:g}) has no "
                    "matching layer in the target filter"
                )
            tgt.subtract(dl)
        return self

    def merge(self, other: "ScalingBloom") -> "ScalingBloom":
        """Associative layer-wise merge: counter-sum layers that share
        (first_id, geometry); concatenate the rest; canonical order by
        (first_id, error_rate desc) so any merge tree yields a
        bit-identical serialized filter."""
        if (self.capacity, self.seed) != (other.capacity, other.seed):
            raise ValueError("cannot merge scaling blooms with different config")
        by_key: dict[tuple, CountingBloom] = {}
        for layer in list(self.layers) + list(other.layers):
            key = (layer.first_id, layer.geometry.error_rate)
            if key in by_key:
                by_key[key] = by_key[key].merge(layer)
            else:
                by_key[key] = layer
        layers = [by_key[k] for k in sorted(by_key, key=lambda t: (t[0], -t[1]))]
        return ScalingBloom(
            self.capacity,
            min(self.error_rate, other.error_rate),
            seed=self.seed,
            layers=layers,
            max_id=max(self.max_id, other.max_id),
        )

    @classmethod
    def merge_blobs(cls, blobs: list[bytes], seed: int = DABLOOMS_SEED) -> bytes:
        """Merge serialized scaling filters AT THE BYTE LEVEL.

        Layers serialize independently, and disjoint-range shard layers
        never share (first_id, error_rate), so the common case is a
        pure splice: parse headers, sort layer records by key, and
        concatenate layer bytes — zero numpy work, zero unpack/repack.
        Colliding layers (same first_id AND error_rate) fall back to
        CountingBloom.merge_blobs for that group. Returns the merged
        blob (callers needing the object deserialize once)."""
        metas = []
        layer_recs: list[tuple[tuple, bytes]] = []
        for blob in blobs:
            magic, _ver, _pad, capacity, error_rate, max_id, nlayers, _p2 = (
                _HDR.unpack_from(blob, 0)
            )
            if magic != _MAGIC:
                raise ValueError("not a scaling-bloom blob")
            metas.append((capacity, error_rate, max_id))
            off = _HDR.size
            for _ in range(nlayers):
                (ln,) = struct.unpack_from("<Q", blob, off)
                off += 8
                rec = blob[off : off + ln]
                off += ln
                # counting-bloom header: error_rate at byte 16, first_id at 40
                (l_err,) = struct.unpack_from("<d", rec, 16)
                (l_fid,) = struct.unpack_from("<Q", rec, 40)
                layer_recs.append(((l_fid, -l_err), bytes(rec)))
        if len({(m[0]) for m in metas}) != 1:
            raise ValueError("cannot merge scaling blooms with different capacity")
        by_key: dict[tuple, list[bytes]] = {}
        for key, rec in layer_recs:
            by_key.setdefault(key, []).append(rec)
        merged_layers = []
        for key in sorted(by_key):
            group = by_key[key]
            if len(group) == 1:
                merged_layers.append(group[0])
            else:
                merged_layers.append(
                    CountingBloom.merge_blobs(group, seed=seed).to_bytes()
                )
        capacity = metas[0][0]
        error_rate = min(m[1] for m in metas)
        max_id = max(m[2] for m in metas)
        parts = [
            _HDR.pack(
                _MAGIC, _VERSION, 0, capacity, error_rate, max_id,
                len(merged_layers), 0,
            )
        ]
        for rec in merged_layers:
            parts.append(struct.pack("<Q", len(rec)))
            parts.append(rec)
        return b"".join(parts)

    # ---- serde -----------------------------------------------------------

    def to_bytes(self) -> bytes:
        parts = [
            _HDR.pack(
                _MAGIC,
                _VERSION,
                0,
                self.capacity,
                self.error_rate,
                self.max_id,
                len(self.layers),
                0,
            )
        ]
        for layer in self.layers:
            blob = layer.to_bytes()
            parts.append(struct.pack("<Q", len(blob)))
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes, seed: int = DABLOOMS_SEED) -> "ScalingBloom":
        magic, version, _pad, capacity, error_rate, max_id, nlayers, _p2 = (
            _HDR.unpack_from(blob, 0)
        )
        if magic != _MAGIC:
            raise ValueError("not a scaling-bloom blob")
        off = _HDR.size
        layers = []
        for _ in range(nlayers):
            (ln,) = struct.unpack_from("<Q", blob, off)
            off += 8
            layers.append(CountingBloom.from_bytes(blob[off : off + ln], seed=seed))
            off += ln
        return cls(capacity, error_rate, seed=seed, layers=layers, max_id=max_id)

    def __repr__(self):
        return (
            f"ScalingBloom(capacity={self.capacity}, error_rate={self.error_rate:g}, "
            f"layers={len(self.layers)}, count={self.count}, max_id={self.max_id})"
        )
