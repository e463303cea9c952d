"""Benchmark of dablooms_spark: seeded workloads on ``local[4]``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the session also writes Spark's event log, every timed call
carries a job tag, and the metrics are the per-layer ones.  The lines
before it are the run record (seed, commit, host load, versions), the
input generation time, the workload's own named figures and, when
traced, the per-call layer table.

``setup_s`` is the median of ``SETUPS`` SparkContext restarts made after
the measured rounds, each timed until a Python worker on every core has
imported the library.  The one cold start (process start until the
session is up, less input generation) is unlike them and is printed
apart as ``cold_setup_s``.

Workloads (one caller, closed loop; inputs are scaled down from the
full-scale shapes given in brackets so that a run fits its time budget):

* ``bulk_build``: ``build_counting_bloom`` over 40k texts of ~1.2 KB
  (1M) and a dense ``build_scaling_bloom`` over their urls; then a
  recrawl batch of 6k of those urls (125k), 30% of them already seen,
  through ``incremental_ingest`` onto a checkpoint holding the previous
  batch, and ``restore_filter`` of the result.
* ``probe_join``: ``bloom_semi_join``, ``sharded_semi_join`` and
  ``sharded_scaling_semi_join`` of 250k 7-byte keys (10M) against a 20k-key
  dimension (200k), about 20% present, confirmed exactly.
* ``sketch_rollup``: ``approx_distinct_by`` (HLL), ``sketch_agg`` (CMS)
  and ``quantiles_by`` (t-digest, KLL) over 500k events (5M) of 50k users
  (500k) and 20 Zipf-skewed event types.

Inputs come from ``perfbench/gen.py``, never from the library, and are
cached under ``.perfbench_cache``; exact answers come from DuckDB.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

CACHE = ".perfbench_cache"
MIN_ROUNDS = 2
# each restart costs ~3.5 s of a run's budget
SETUPS = 2
# A run must end within 180 s; stop starting rounds after this.
ROUND_DEADLINE_S = 120.0


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_sha(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_record(args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "commit": _commit(), "library_sha": _tree_sha("dablooms_spark"),
        "nproc": os.cpu_count(), "loadavg1_start": _loadavg1(),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


# ---- session ----------------------------------------------------------------


def _session_config(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    cache = os.path.abspath(CACHE)
    b = (SparkSession.builder.master("local[4]").appName("dablooms-perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # a fixed, pre-touched heap keeps the JVM's share of peak RSS
         # steady, so the metric moves with the library's memory
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", os.path.join(cache, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(cache, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(cache, 'tmp')}"))
    if trace:
        log_dir = os.path.join(os.path.abspath(run_dir), "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             # no zstandard module is installed to read compressed logs
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    return b


def _warm_workers(spark) -> None:
    """Make a Python worker on every core import the library."""

    def load(batches):
        import dablooms_spark.operators  # noqa: F401

        yield from batches

    spark.range(0, 4, 1, 4).mapInArrow(load, "id long").collect()


def start_session(run_dir: str, trace: bool):
    spark = _session_config(run_dir, trace).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def time_restarts(spark, run_dir: str):
    """Restart the SparkContext ``SETUPS`` times in the running JVM and
    time each restart until warm: a Python worker on every core has
    imported the library.  Returns the live session and the seconds."""
    times = []
    for _ in range(SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(run_dir, False)
        _warm_workers(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- main -------------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dablooms_spark", "__init__.py")):
        print("perfbench: run from the root of a dablooms_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    record = run_record(args)
    print("record", json.dumps(record), flush=True)

    age_before_inputs = _process_age_s()
    paths, gen_s = {}, 0.0
    for name in cls.inputs:
        paths[name], spent = gen.ensure(args.seed, name)
        gen_s += spent
    print(f"inputs generated in {gen_s:.3f} s ({'cached' if gen_s == 0 else 'new'})",
          flush=True)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    run_dir = os.path.join(CACHE, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.abspath(os.path.join(CACHE, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(CACHE, "spark-local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    trace = bool(args.trace)
    marks = [("start", time.perf_counter())]
    spark = start_session(run_dir, trace)
    marks.append(("setup", time.perf_counter()))
    # process start until the session is up, less input generation; the
    # first Python workers start (and import the library) in prepare
    print("cold_setup_s", age_before_inputs + marks[1][1] - marks[0][1], flush=True)
    try:
        metrics, rec = measure(spark, cls, paths, args, run_id, run_dir, marks)
        if not trace:
            # timed last, in a JVM whose code paths are all loaded, so
            # that the samples are alike
            spark, setups = time_restarts(spark, run_dir)
            marks.append(("restarts", time.perf_counter()))
            print("restart_setup_s", json.dumps(setups), flush=True)
            metrics["setup_s"] = (_median(setups), "s")
    finally:
        stop_session(spark)
    if not trace:
        shutil.rmtree(run_dir, ignore_errors=True)
    marks.append(("stop", time.perf_counter()))
    print("phases_s", json.dumps({b[0]: round(b[1] - a[1], 3)
                                  for a, b in zip(marks, marks[1:])}), flush=True)

    record["loadavg1_end"] = _loadavg1()
    print("record_end", json.dumps({"loadavg1_end": record["loadavg1_end"]}), flush=True)
    correct = rec.failed == 0 and all(v == v for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct, "attempted": rec.attempted, "failed": rec.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0



def measure(spark, cls, paths, args, run_id, run_dir, marks):
    """Prepare the workload, warm it up, run rounds for ``args.seconds``
    and return (metrics, recorder)."""
    from perfbench.trace import Recorder, RssSampler

    sc = spark.sparkContext
    trace = bool(args.trace)
    rec = Recorder(sc, args.workload, run_id, trace)
    wl = cls(spark, paths, args.seed, os.path.abspath(run_dir))
    with rec.group("prepare"):
        wl.prepare(rec)
    marks.append(("prepare", time.perf_counter()))

    rounds: list[tuple[float, int, float]] = []  # (round wall, rows, call wall)
    round_ids: set[int] = set()
    with RssSampler(sc._gateway.proc.pid) as rss:
        with rec.group("round", warmup=True) as warm:
            wl.round(rec, warmup=True)
        t_start = time.perf_counter()
        marks.append(("warmup", t_start))
        while (len(rounds) < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds) \
                and _process_age_s() < ROUND_DEADLINE_S:
            with rec.group("round", warmup=False) as r:
                rows, call_wall = wl.round(rec)
            rounds.append((r.wall, rows, call_wall))
            round_ids.add(r.id)
    marks.append(("measure", time.perf_counter()))
    quality = wl.finish()
    marks.append(("finish", time.perf_counter()))

    run_s = _median([w for w, _, _ in rounds])
    rows_per_s = _median([n / c for _, n, c in rounds if c > 0])
    named = {"round_s": [w for w, _, _ in rounds], "rows_per_s": rows_per_s,
             **{k: v for k, v in quality.items() if k != "bytes_per_key"}}
    named["extra"] = wl.extra
    named["rss_procs_at_peak"] = rss.procs_at_peak
    print("workload", json.dumps(named, default=float), flush=True)

    if trace:
        return traced_metrics(spark, wl, rec, warm.id, round_ids, rounds, run_dir, args), rec
    with open(os.path.join(CACHE, "runs", f"untraced-{args.workload}-s{args.seed}.json"),
              "w") as fh:
        json.dump({"run_s": run_s}, fh)
    return {
        "run_s": (run_s, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "bytes_per_key": (quality.get("bytes_per_key", float("nan")), "B/key"),
        "peak_rss_mib": (rss.peak_kib / 1024.0, "MiB"),
        "ok_op_share": ((rec.attempted - rec.failed) / max(rec.attempted, 1), "ratio"),
    }, rec

def traced_metrics(spark, wl, rec, warm_id, round_ids, rounds, run_dir, args) -> dict:
    """Per-layer metrics: the operator layer table from the event log,
    the scan floor, and direct kernel timings."""
    from perfbench import trace
    from perfbench.kernels import time_kernels

    scan_s = statistics.median(wl.scan_floor() for _ in range(3))
    ratios = wl.pass_share() if hasattr(wl, "pass_share") else {}
    app_id = spark.sparkContext.applicationId
    keys, values, capacity = wl.kernel_inputs()
    stop_session(spark)

    calls = trace.read_event_log(os.path.join(run_dir, "eventlog"), app_id)
    table = trace.layer_table(rec.spans, calls, round_ids, warm_id)
    ops = table["ops"]
    if hasattr(wl, "partial_ratio"):
        ratios.update(wl.partial_ratio(ops))
    if getattr(wl, "commit_bytes", None):
        ratios["commit_bytes"] = statistics.median(wl.commit_bytes)
    kern = time_kernels(keys, values, capacity)

    rec.write(os.path.join(run_dir, "spans.jsonl"))
    op_wall = sum(s.wall for s in rec.spans if "tag" in s.attrs and s.parent in round_ids)
    round_wall = sum(w for w, _, _ in rounds)
    coverage = op_wall / round_wall if round_wall else float("nan")
    overhead = None
    ref = os.path.join(CACHE, "runs", f"untraced-{args.workload}-s{args.seed}.json")
    if os.path.exists(ref):
        with open(ref) as fh:
            overhead = _median([w for w, _, _ in rounds]) - json.load(fh)["run_s"]
    layer_out = {
        "ops": {f"{op}.{k}": v for op, ms in ops.items() for k, v in ms.items()},
        "ratios": ratios,
        "coverage": coverage,
        "tracing_overhead_s": overhead,
    }
    with open(os.path.join(run_dir, "layers.json"), "w") as fh:
        json.dump(layer_out, fh, indent=1, sort_keys=True)
    print("layers", json.dumps(layer_out, sort_keys=True), flush=True)
    print(f"coverage {coverage:.4f} (op wall / round wall); tracing overhead "
          + ("n/a: no untraced run of this seed in the cache" if overhead is None
             else f"{overhead:+.4f} s on run_s"), flush=True)

    out = {k: (v, _unit(k)) for k, v in kern.items()}
    out["tables.scan_s"] = (scan_s, "s")
    for k, v in table["operators"].items():
        out[f"operators.{k}"] = (v, _unit(k))
    out["trace.coverage"] = (coverage, "ratio")
    return out


_UNITS = (("_ns_per_key", "ns"), ("_ns_per_row", "ns"), ("_mb_per_s", "MB/s"),
          ("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_bytes", "B"), ("_bytes_out", "B"),
          ("tasks", "count"), ("_share", "ratio"), ("_skew", "ratio"))


def _unit(name: str) -> str:
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
