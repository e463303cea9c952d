"""The three workloads.  Each one runs its timed calls through the
library's public functions, in a closed loop (one caller; the next call
starts when the previous one has returned), and checks every result
against the DuckDB oracle.

A workload is driven in three steps:

* ``prepare``: read the inputs, compute the oracle, build what the
  timed calls need but do not measure (untimed);
* ``round``: one pass over the timed calls, repeated for the run's
  measuring time.  Returns the rows the calls processed and their wall
  time;
* ``finish``: untimed quality figures that are deterministic per seed.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, oracle

EPS = 0.01
FP_PROBES = 100_000
KERNEL_SAMPLE = 20_000
HLL_P = 14
# Documented error bounds the sketch gates hold estimates to: four
# standard errors of HLL, and the rank errors the library's own tests
# allow for t-digest and KLL.
HLL_BOUND = 4 * 1.04 / math.sqrt(1 << HLL_P)
TDIGEST_RANK_BOUND = 0.02
KLL_RANK_BOUND = 0.03
CMS_EPS, CMS_DELTA = 1e-4, 0.01


def _fp_keys(n: int, width: int) -> pa.Array:
    # "#" never occurs in a generated key, so these are absent by construction
    return gen.fixed_width_keys(np.arange(n), width - 1, prefix=b"#")


def _words(keys: pa.Array):
    from dablooms_spark.functions.arrow_utils import arrow_byte_view
    from dablooms_spark.functions.murmur import dablooms_hash_words_buffer

    return dablooms_hash_words_buffer(*arrow_byte_view(keys))


def _sample(arr: pa.Array, seed: int, n: int = KERNEL_SAMPLE) -> pa.Array:
    idx = np.sort(np.random.default_rng(seed).choice(len(arr), size=min(n, len(arr)),
                                                     replace=False))
    return arr.take(pa.array(idx))


class Workload:
    name = ""
    inputs: tuple[str, ...] = ()

    def __init__(self, spark, paths: dict, seed: int, scratch: str):
        self.spark = spark
        self.paths = paths
        self.seed = seed
        self.scratch = scratch
        self.extra: dict = {}

    def scan_floor(self) -> float:
        """``tables.scan_s``: seconds of a bare scan of the key columns,
        the floor below which no build or probe over them can go."""
        df, cols = self.scan_target()
        t0 = time.perf_counter()
        df.select(*[F.sum(F.octet_length(F.col(c).cast("string"))) for c in cols]).collect()
        return time.perf_counter() - t0


class BulkBuild(Workload):
    """Counting build over 1.2 KB texts, dense scaling build over urls,
    and one recrawl batch of those urls through ``incremental_ingest`` on
    a checkpoint that holds an earlier batch."""

    name = "bulk_build"
    inputs = ("corpus", "recrawl")

    def prepare(self, rec):
        from dablooms_spark.operators import (build_counting_bloom, build_scaling_bloom,
                                              incremental_ingest, restore_filter)

        self.build_cb, self.build_sb = build_counting_bloom, build_scaling_bloom
        self.ingest, self.restore = incremental_ingest, restore_filter
        c, r = self.paths["corpus"], self.paths["recrawl"]
        self.exact = oracle.cached(c, "bulk_build", lambda: oracle.bulk_build(c))
        self.exact.update(oracle.cached(r, "recrawl", lambda: oracle.recrawl(r)))
        self.df = self.spark.read.parquet(c)
        self.table = pq.read_table(c, columns=["url", "text", "warc_ts"])
        self.capacity = self.exact["text_rows"]
        self.first: dict[str, bytes] = {}
        self.filters: dict = {}
        self.batches = [self.spark.read.parquet(b) for b in self.exact["batches"]]
        self.ingest_capacity = gen.SIZES["corpus"]["rows"]
        self.rounds = 0
        self.batch_s: list[float] = []
        self.commit_bytes: list[int] = []
        # the first batch, committed once; every round copies this
        # checkpoint and ingests the second batch onto it (a copy's
        # manifest still names the base's blobs, which stay for the run)
        self.base = os.path.join(self.scratch, "ckpt-base")
        shutil.rmtree(self.base, ignore_errors=True)
        _, span = rec.call("ingest.incremental_ingest", self._ingest_call(0, self.base),
                           self._new_rows_gate(0), batch=0)
        self.first_batch_s = span.wall

    def _gate(self, which: str, col: str, expect: int):
        def gate(f) -> bool:
            if f.count != expect:
                return False
            blob = f.to_bytes()
            if which not in self.first:
                # the first filter is checked key by key; later builds
                # must reproduce it bit for bit
                h1, h2 = _words(self.table.column(col).combine_chunks())
                if not f.check_hashed(h1, h2).all():
                    return False
                self.first[which] = blob
                self.filters[which] = f
            return blob == self.first[which]
        return gate

    def _ingest_call(self, b: int, ckpt: str):
        def call():
            new_rows, _seq = self.ingest(self.batches[b], "url", ckpt, "crawl",
                                         self.ingest_capacity, EPS)
            return new_rows.count()
        return call

    def _new_rows_gate(self, b: int):
        truth = self.exact["new_rows"][b]
        # more rows than the truth is a false negative (a seen url called
        # new); fewer is a false positive, allowed up to 4x the ε share
        allowed = math.ceil(4 * EPS * truth) + 4
        return lambda n: truth - allowed <= n <= truth

    def round(self, rec, warmup=False):
        n_text, n_url = self.exact["text_rows"], self.exact["url_rows"]
        _, a = rec.call(
            "bloom_build.build_counting_bloom",
            lambda: self.build_cb(self.df, "text", self.capacity, EPS),
            self._gate("cb", "text", n_text))
        _, b = rec.call(
            "bloom_build.build_scaling_bloom",
            lambda: self.build_sb(self.df, "url", "row_id", self.capacity // 4, EPS,
                                  id_layout="dense", expected_layers=4),
            self._gate("sb", "url", n_url))

        ckpt = os.path.join(self.scratch, f"ckpt-{self.rounds}")
        self.rounds += 1
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.copytree(self.base, ckpt)
        _, span = rec.call("ingest.incremental_ingest", self._ingest_call(1, ckpt),
                           self._new_rows_gate(1), batch=1)
        total = sum(self.exact["batch_rows"])
        filt, _ = rec.call("ingest.restore_filter",
                           lambda: self.restore(self.spark, ckpt, "crawl")[0],
                           lambda f: f is not None and f.count == total)
        if not warmup:
            self.batch_s.append(span.wall)
            self.commit_bytes.append(_committed_bytes(ckpt))
            if filt is not None and "ingest" not in self.filters:
                self.filters["ingest"] = filt
        shutil.rmtree(ckpt, ignore_errors=True)
        return n_text + n_url, a.wall + b.wall

    def finish(self):
        if len(self.filters) < 3 or not self.commit_bytes:
            return {}  # a call failed its gate; already counted
        keys = _fp_keys(FP_PROBES, 24)
        h1, h2 = _words(keys)
        fp = {k: float(f.check_hashed(h1, h2).mean()) for k, f in self.filters.items()}
        # the ingest filter's serialized form is the committed artifact
        nbytes = sum(len(b) for b in self.first.values()) + self.commit_bytes[0]
        keys_in = (self.exact["text_rows"] + self.exact["url_rows"]
                   + sum(self.exact["batch_rows"]))
        self.extra.update(fp_rate=fp, filter_bytes=nbytes,
                          commit_bytes=self.commit_bytes[0],
                          ingest_first_batch_s=self.first_batch_s,
                          ingest_batch_p50_s=statistics.median(self.batch_s),
                          ingest_batch_samples=len(self.batch_s),
                          ingest_docs_per_s=self.exact["batch_rows"][1]
                          / statistics.median(self.batch_s))
        return {"fp_over_eps": max(fp.values()) / EPS, "bytes_per_key": nbytes / keys_in}

    def partial_ratio(self, ops: dict) -> dict:
        """Bytes of partials the builds ship to their merge (shuffle and
        task results) ÷ bytes of the final filters (traced runs only)."""
        moved = sum(m["shuffle_write_bytes"] + m["result_bytes"]
                    for op, m in ops.items() if op.startswith("bloom_build."))
        return {"partial_over_filter_bytes": moved / sum(len(b) for b in self.first.values())}

    def kernel_inputs(self):
        text = self.table.column("text").combine_chunks()
        ts = self.table.column("warc_ts").cast(pa.int64()).to_numpy().astype(np.float64)
        return _sample(text, self.seed), ts, self.capacity

    def scan_target(self):
        return self.df, ["text", "url"]


class ProbeJoin(Workload):
    """Semi-joins of 7-byte probe keys through three filter shapes."""

    name = "probe_join"
    inputs = ("probe",)
    SHARDS = 8

    def prepare(self, rec):
        from dablooms_spark import operators as ops

        self.ops = ops
        p = self.paths["probe"]
        self.exact = oracle.cached(p, "probe_join", lambda: oracle.probe_join(p))
        self.dim = self.spark.read.parquet(os.path.join(p, "dim.parquet"))
        self.probe = self.spark.read.parquet(os.path.join(p, "probe"))
        d = self.exact["dim_keys"]
        self.capacity = d
        self.cb, _ = rec.call("bloom_build.build_counting_bloom",
                              lambda: ops.build_counting_bloom(self.dim, "k", d, EPS),
                              lambda f: f.count == d)
        self.sh, _ = rec.call(
            "sharded.build_sharded_counting_bloom",
            lambda: ops.build_sharded_counting_bloom(
                self.dim, "k", d, EPS, num_shards=self.SHARDS).cache(),
            lambda df: df.agg(F.sum("n")).first()[0] == d)
        self.ss, _ = rec.call(
            "sharded_scaling.build_sharded_scaling_layers",
            lambda: ops.build_sharded_scaling_layers(
                self.dim, "k", "id", d // (self.SHARDS * 4) + 1, EPS,
                num_shards=self.SHARDS, expected_layers=4).cache(),
            lambda df: df.agg(F.sum("n")).first()[0] == d)

    def _calls(self):
        o, dim, pr, s = self.ops, self.dim, self.probe, self.SHARDS
        return [
            ("bloom_probe.bloom_semi_join",
             lambda: o.bloom_semi_join(pr, "k", self.cb, exact_df=dim).count()),
            ("sharded.sharded_semi_join",
             lambda: o.sharded_semi_join(pr, "k", self.sh, exact_df=dim, num_shards=s).count()),
            ("sharded_scaling.sharded_scaling_semi_join",
             lambda: o.sharded_scaling_semi_join(pr, "k", self.ss, exact_df=dim,
                                                 num_shards=s).count()),
        ]

    def round(self, rec, warmup=False):
        want = self.exact["semi_rows"]
        wall = 0.0
        for op, fn in self._calls():
            _, span = rec.call(op, fn, lambda n: n == want)
            wall += span.wall
        return 3 * self.exact["probe_rows"], wall

    def finish(self):
        from dablooms_spark.core.serde import loads

        if self.cb is None or self.sh is None or self.ss is None:
            return {}  # a build failed its gate; already counted
        h1, h2 = _words(_fp_keys(FP_PROBES, 7))
        fp = {"counting": float(self.cb.check_hashed(h1, h2).mean())}
        # An absent key is routed to one shard by its hash, so the sharded
        # FP rate is the mean of the shards' own rates over absent keys.
        nbytes = len(self.cb.to_bytes())
        for name, df in (("sharded", self.sh), ("sharded_scaling", self.ss)):
            hits: dict[int, np.ndarray] = {}
            for r in df.select("shard", "blob").collect():
                nbytes += len(r.blob)
                v = loads(bytes(r.blob)).check_hashed(h1, h2)
                hits[r.shard] = hits[r.shard] | v if r.shard in hits else v
            fp[name] = float(np.mean([v.mean() for v in hits.values()]))
        self.extra.update(fp_rate=fp, filter_bytes=nbytes)
        return {"fp_over_eps": max(fp.values()) / EPS,
                "bytes_per_key": nbytes / (3 * self.exact["dim_keys"])}

    def pass_share(self) -> dict:
        """Rows the plain filter passes ÷ rows probed, beside the true
        hit share (traced runs only)."""
        passed = self.ops.bloom_semi_join(self.probe, "k", self.cb).count()
        n = self.exact["probe_rows"]
        return {"bloom_pass_share": passed / n, "true_hit_share": self.exact["semi_rows"] / n}

    def kernel_inputs(self):
        keys = pq.read_table(os.path.join(self.paths["probe"], "probe"),
                             columns=["k"]).column("k").combine_chunks()
        sample = _sample(keys, self.seed)
        values = np.array([int(k, 36) for k in sample.to_pylist()], dtype=np.float64)
        return sample, values, self.capacity

    def scan_target(self):
        return self.probe, ["k"]


def _committed_bytes(ckpt: str) -> int:
    """Parquet bytes of the newest commit in a checkpoint directory."""
    seqs = glob.glob(os.path.join(ckpt, "blobs", "seq=*"))
    if not seqs:
        return 0
    path = max(seqs, key=lambda d: int(d.rsplit("=", 1)[1]))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))


class SketchRollup(Workload):
    """HLL, CMS, t-digest and KLL over a Zipf-skewed events table."""

    name = "sketch_rollup"
    inputs = ("events",)
    CMS_SAMPLE = 500
    TD_QS = [0.5, 0.95, 0.99]
    KLL_QS = [0.5]

    def prepare(self, rec):
        from dablooms_spark.operators import approx_distinct_by, quantiles_by, sketch_agg

        self.hll, self.quant, self.agg = approx_distinct_by, quantiles_by, sketch_agg
        e = self.paths["events"]
        self.exact = oracle.cached(e, f"sketch_rollup-{self.CMS_SAMPLE}",
                                   lambda: oracle.sketch_rollup(e, self.CMS_SAMPLE, self.seed))
        self.df = self.spark.read.parquet(e)
        self.errors: dict[str, float] = {}
        self.cms_bytes = 0

    def _hll_gate(self, rows) -> bool:
        got = {r["event_type"]: r["approx_distinct"] for r in rows}
        if set(got) != set(self.exact["distinct"]):
            return False
        err = max(abs(got[t] - d) / d for t, d in self.exact["distinct"].items())
        self.errors.setdefault("hll_rel_err", err)
        return err <= HLL_BOUND

    def _cms_gate(self, cms) -> bool:
        freq = self.exact["cms_freq"]
        est = cms.query(list(freq))
        true = np.array(list(freq.values()))
        self.cms_bytes = len(cms.to_bytes())
        over = est - true
        return bool((over >= 0).all() and (over <= CMS_EPS * self.exact["rows"]).all())

    def _quantile_gate(self, kind: str, qs, bound: float):
        def gate(rows) -> bool:
            if len(rows) != len(qs) * len(self.exact["sorted_values"]):
                return False
            err = max(oracle.rank_error(self.exact["sorted_values"][r["event_type"]],
                                        r["value"], r["q"]) for r in rows)
            self.errors.setdefault(f"{kind}_rank_err", err)
            return err <= bound
        return gate

    def round(self, rec, warmup=False):
        df = self.df
        calls = [
            ("sketch_agg.approx_distinct_by",
             lambda: self.hll(df, "event_type", "user_id", p=HLL_P).collect(),
             self._hll_gate, {}),
            ("sketch_agg.sketch_agg",
             lambda: self.agg(df, "user_id", "cms", eps=CMS_EPS, delta=CMS_DELTA),
             self._cms_gate, {}),
            ("sketch_agg.quantiles_by",
             lambda: self.quant(df, "event_type", "value", self.TD_QS, kind="tdigest").collect(),
             self._quantile_gate("tdigest", self.TD_QS, TDIGEST_RANK_BOUND), {"kind": "tdigest"}),
            ("sketch_agg.quantiles_by",
             lambda: self.quant(df, "event_type", "value", self.KLL_QS, kind="kll",
                                k=200).collect(),
             self._quantile_gate("kll", self.KLL_QS, KLL_RANK_BOUND), {"kind": "kll"}),
        ]
        wall = 0.0
        for op, fn, gate, attrs in calls:
            _, span = rec.call(op, fn, gate, **attrs)
            wall += span.wall
        return len(calls) * self.exact["rows"], wall

    def finish(self):
        self.extra.update(errors=dict(self.errors), cms_bytes=self.cms_bytes)
        return {"sketch_max_rel_err": max(self.errors.values(), default=float("nan")),
                "bytes_per_key": self.cms_bytes / self.exact["rows"]}

    def kernel_inputs(self):
        t = pq.read_table(self.paths["events"], columns=["user_id", "value"])
        users = pc.cast(t.column("user_id"), pa.string()).combine_chunks()
        return (_sample(users, self.seed), t.column("value").to_numpy(),
                gen.SIZES["events"]["users"])

    def scan_target(self):
        return self.df, ["user_id", "event_type"]


WORKLOADS = {w.name: w for w in (BulkBuild, ProbeJoin, SketchRollup)}
