"""Direct timings of the ``functions`` and ``core`` kernels, called in the
driver on one thread with no Spark in the timed region.  Set beside an
operator's stage times, they separate kernel cost from task scheduling
and the Python-worker boundary.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

REPS = 5


def _median_time(fn, reps: int = REPS) -> float:
    """Median wall seconds of ``reps`` calls of ``fn`` (after one warm-up)."""
    fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def time_kernels(keys: pa.Array, values: np.ndarray, capacity: int) -> dict:
    """Per-key and per-merge costs on a sample of a workload's own keys
    (strings) and values (doubles).  ``capacity`` is the geometry of the
    workload's filters, which sets the cost of merge and serde."""
    from dablooms_spark.core import (CountMinSketch, CountingBloom, HyperLogLog,
                                     KLLSketch, ScalingBloom, TDigest)
    from dablooms_spark.core.serde import loads
    from dablooms_spark.functions.arrow_utils import arrow_byte_view
    from dablooms_spark.functions.hashing import km_expand
    from dablooms_spark.functions.murmur import (dablooms_hash_words_buffer,
                                                 murmur3_x64_128_buffer)

    n = len(keys)
    buf, offs, lens = arrow_byte_view(keys)
    nbytes = int(lens.sum())
    h1, h2 = dablooms_hash_words_buffer(buf, offs, lens)
    ns = 1e9 / n
    out = {}

    t = _median_time(lambda: murmur3_x64_128_buffer(buf, offs, lens))
    out["murmur.hash_ns_per_key"] = t * ns
    out["murmur.hash_mb_per_s"] = nbytes / t / 1e6
    out["arrow_utils.byte_view_ns_per_key"] = _median_time(lambda: arrow_byte_view(keys)) * ns

    probe = CountingBloom(capacity, 0.01)
    g = probe.geometry
    out["hashing.km_expand_ns_per_key"] = _median_time(
        lambda: km_expand(h1, h2, g.nfuncs, g.counts_per_func)) * ns
    out["counting_bloom.add_ns_per_key"] = _median_time(
        lambda: CountingBloom(capacity, 0.01).add_hashed(h1, h2)) * ns
    probe.add_hashed(h1[: n // 2], h2[: n // 2])
    out["counting_bloom.check_ns_per_key"] = _median_time(lambda: probe.check_hashed(h1, h2)) * ns
    other = CountingBloom(capacity, 0.01)
    other.add_hashed(h1[n // 2:], h2[n // 2:])
    out["counting_bloom.merge_ms"] = _median_time(lambda: probe.merge(other)) * 1e3
    out["serde.roundtrip_ms"] = _median_time(lambda: loads(probe.to_bytes())) * 1e3

    sb = ScalingBloom(max(n // 4, 1), 0.01)
    sb.add_hashed(h1, h2, np.arange(n, dtype=np.int64))
    out["scaling_bloom.check_ns_per_key"] = _median_time(lambda: sb.check_hashed(h1, h2)) * ns

    sketches = {
        "hll": (lambda: HyperLogLog(p=14), lambda s, lo, hi: s.add_buffer(buf, offs[lo:hi], lens[lo:hi])),
        "cms": (lambda: CountMinSketch(eps=1e-4, delta=0.01),
                lambda s, lo, hi: s.add_buffer(buf, offs[lo:hi], lens[lo:hi])),
        "tdigest": (lambda: TDigest(), lambda s, lo, hi: s.add(values[lo:hi])),
        "kll": (lambda: KLLSketch(k=200), lambda s, lo, hi: s.add(values[lo:hi])),
    }
    for name, (make, add) in sketches.items():
        rows = n if name in ("hll", "cms") else len(values)
        out[f"{name}.add_ns_per_row"] = _median_time(lambda: add(make(), 0, rows)) * 1e9 / rows
        a, b = make(), make()
        add(a, 0, rows // 2)
        add(b, rows // 2, rows)
        out[f"{name}.merge_us"] = _median_time(lambda: a.merge(b)) * 1e6
    return out
