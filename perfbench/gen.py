"""Seeded input generator for the benchmark workloads.

The generator lives in the benchmark's own files and does not call
``dablooms_spark`` at all, so a change to the library cannot move the
inputs.  Every table is a pure function of ``(seed, sizes)``; the parquet
files it writes are cached under ``.perfbench_cache/inputs`` in the
working directory and verified against recorded SHA-256 checksums before
each run.

Key alphabets are chosen so that false-positive probes can be made
disjoint by construction: no generated key contains ``#``, and every FP
probe key starts with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_ROOT = os.path.join(".perfbench_cache", "inputs")

# Scaled-down shapes of the workloads; run.py's docstring gives the
# full-scale figures they stand in for.
SIZES = {
    "corpus": {"rows": 40_000, "files": 16, "text_mean": 1200},
    "recrawl": {"batches": 2, "batch_rows": 6_000, "repeat_share": 0.30},
    "probe": {"dim_keys": 20_000, "probe_rows": 250_000, "hit_share": 0.20,
              "files": 8},
    "events": {"rows": 500_000, "users": 50_000, "types": 20, "files": 8},
}

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_BASE36 = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_LANGS = np.array(["en", "de", "fr", "es", "ja", "ru"])
_LANG_P = np.array([0.55, 0.12, 0.10, 0.10, 0.07, 0.06])


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves
    # the others byte-identical
    sub = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, sub]))


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(2, 11, size=n)
    chars = _LETTERS[rng.integers(0, 26, size=int(lens.sum()))].tobytes().decode()
    ends = np.cumsum(lens)
    return np.array([chars[e - l:e] for e, l in zip(ends, lens)], dtype=object)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def fixed_width_keys(values: np.ndarray, width: int, prefix: bytes = b"") -> pa.Array:
    """Base-36 strings of ``values`` zero-padded to ``width`` digits."""
    n = len(values)
    digits = np.empty((n, width), dtype=np.uint8)
    v = values.astype(np.int64).copy()
    for j in range(width - 1, -1, -1):
        digits[:, j] = _BASE36[v % 36]
        v //= 36
    if prefix:
        digits = np.hstack([np.tile(np.frombuffer(prefix, np.uint8), (n, 1)), digits])
    w = digits.shape[1]
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(digits.tobytes())]
    )


def _write_split(table: pa.Table, out_dir: str, stem: str, files: int) -> None:
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"{stem}-{i:03d}.parquet"))


# ---- tables -----------------------------------------------------------------


def make_corpus(seed: int, out_dir: str, rows: int, files: int, text_mean: int) -> None:
    """Common-Crawl-style pages: url, warc_ts, html, text, lang, row_id."""
    rng = _rng(seed, "corpus")
    vocab = _words(rng, 5000)
    pool_words = rng.choice(len(vocab), size=1_200_000, p=_zipf_p(len(vocab), 1.1))
    pool = " ".join(vocab[pool_words])
    sigma = 0.5
    lens = rng.lognormal(np.log(text_mean) - sigma**2 / 2, sigma, size=rows)
    lens = np.clip(lens, 64, 8000).astype(np.int64)
    starts = rng.integers(0, len(pool) - 8001, size=rows)
    text = [pool[s:s + n] for s, n in zip(starts, lens)]

    hosts = [f"www.{a}{b}.{t}" for a, b, t in zip(
        _words(rng, 2000), _words(rng, 2000),
        rng.choice(["com", "org", "net", "de", "io"], size=2000))]
    host_idx = rng.choice(len(hosts), size=rows, p=_zipf_p(len(hosts), 1.2))
    path_words = vocab[rng.integers(0, len(vocab), size=rows)]
    uid = rng.permutation(rows)
    url = [f"https://{hosts[h]}/{w}/{u:x}.html" for h, w, u in zip(host_idx, path_words, uid)]
    html = [f"<html><head><title>{t[:48]}</title></head><body><p>{t[:256]}</p></body></html>"
            for t in text]
    ts = 1_700_000_000_000_000 + np.sort(rng.integers(0, 86_400_000_000 * 30, size=rows))
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.string()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=rows, p=_LANG_P), pa.string()),
        "row_id": pa.array(np.arange(rows, dtype=np.int64)),
    })
    _write_split(table, out_dir, "part", files)


def make_recrawl(seed: int, out_dir: str, corpus_dir: str, batches: int,
                 batch_rows: int, repeat_share: float) -> None:
    """Successive url batches from the corpus; from the second batch on,
    ``repeat_share`` of each batch repeats urls of earlier batches."""
    rng = _rng(seed, "recrawl")
    urls = pq.read_table(corpus_dir, columns=["url"]).column("url").to_numpy(
        zero_copy_only=False)
    order = rng.permutation(len(urls))
    fresh_at = 0
    seen: list[int] = []
    for b in range(batches):
        n_rep = 0 if b == 0 else int(round(batch_rows * repeat_share))
        n_new = batch_rows - n_rep
        if fresh_at + n_new > len(urls):
            raise ValueError("corpus too small for the recrawl batches")
        new = order[fresh_at:fresh_at + n_new]
        fresh_at += n_new
        rep = rng.choice(np.array(seen), size=n_rep, replace=False) if n_rep else \
            np.empty(0, np.int64)
        idx = rng.permutation(np.concatenate([new, rep]))
        seen.extend(new.tolist())
        pq.write_table(pa.table({
            "url": pa.array(urls[idx], pa.string()),
            "row_id": pa.array(idx.astype(np.int64)),
        }), os.path.join(out_dir, f"batch-{b:03d}.parquet"))


def make_probe(seed: int, out_dir: str, dim_keys: int, probe_rows: int,
               hit_share: float, files: int) -> None:
    """A dimension of distinct 7-byte keys with dense ids, and a probe
    table of 7-byte keys, ``hit_share`` of whose rows are dimension keys."""
    rng = _rng(seed, "probe")
    absent_pool = dim_keys * 20
    need = dim_keys + absent_pool
    lo, hi = 36**6, 36**7
    vals = np.unique(rng.integers(lo, hi, size=int(need * 1.05)))
    vals = rng.permutation(vals)[:need]
    if len(vals) < need:
        raise ValueError("key draw collided; raise the oversampling factor")
    dim, absent = vals[:dim_keys], vals[dim_keys:]
    hits = rng.random(probe_rows) < hit_share
    keys = np.where(hits, dim[rng.integers(0, dim_keys, size=probe_rows)],
                    absent[rng.integers(0, absent_pool, size=probe_rows)])
    pq.write_table(pa.table({"k": fixed_width_keys(dim, 7),
                             "id": pa.array(np.arange(dim_keys, dtype=np.int64))}),
                   os.path.join(out_dir, "dim.parquet"))
    os.makedirs(os.path.join(out_dir, "probe"))
    _write_split(pa.table({"k": fixed_width_keys(keys, 7)}),
                 os.path.join(out_dir, "probe"), "part", files)


def make_events(seed: int, out_dir: str, rows: int, users: int, types: int,
                files: int) -> None:
    """Events with Zipf-skewed types (the top type holds about 30%)."""
    rng = _rng(seed, "events")
    etype = rng.choice(types, size=rows, p=_zipf_p(types, 1.05))
    user = rng.integers(0, users, size=rows)
    scale = np.exp(rng.normal(0, 1, size=types))
    value = rng.lognormal(0.0, 1.0, size=rows) * scale[etype]
    names = np.array([f"type_{t:02d}" for t in range(types)])
    _write_split(pa.table({
        "event_id": pa.array(rng.permutation(rows).astype(np.int64)),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(names[etype], pa.string()),
        "value": pa.array(value),
    }), out_dir, "part", files)


# ---- cache ------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _tree_files(root: str) -> list[str]:
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs
                if f.endswith(".parquet")]
    return sorted(out)


def tree_checksums(root: str) -> dict[str, str]:
    return {f: _sha256(os.path.join(root, f)) for f in _tree_files(root)}


def _table_maker(name: str, seed: int):
    if name == "corpus":
        return lambda d: make_corpus(seed, d, **SIZES["corpus"])
    if name == "recrawl":
        return lambda d: make_recrawl(seed, d, ensure(seed, "corpus")[0], **SIZES["recrawl"])
    if name == "probe":
        return lambda d: make_probe(seed, d, **SIZES["probe"])
    if name == "events":
        return lambda d: make_events(seed, d, **SIZES["events"])
    raise KeyError(name)


def ensure(seed: int, name: str) -> tuple[str, float]:
    """Path of the verified input table ``name`` for ``seed``, generating
    it if the cache is missing or fails its checksum.  The cache key
    covers the sizes and this module's code.  Returns (path, seconds
    spent generating)."""
    with open(__file__, "rb") as fh:
        key = hashlib.sha256(fh.read())
    key.update(json.dumps(SIZES, sort_keys=True).encode())
    path = os.path.join(CACHE_ROOT, f"{name}-s{seed}-{key.hexdigest()[:12]}")
    manifest = os.path.join(path, "_MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            recorded = json.load(fh)
        if recorded and tree_checksums(path) == recorded:
            return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _table_maker(name, seed)(tmp)
    with open(os.path.join(tmp, "_MANIFEST.json"), "w") as fh:
        json.dump(tree_checksums(tmp), fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0
