"""Self-check of the benchmark.  Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The same seed must give byte-identical inputs and identical deterministic
metrics; a different seed must give different inputs.  The metric check
runs every workload twice end to end and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_cache", "selftest")


def _generate(monkeypatch, sub: str, seed: int) -> dict:
    root = os.path.join(SCRATCH, sub)
    shutil.rmtree(root, ignore_errors=True)
    monkeypatch.setattr(gen, "CACHE_ROOT", root)
    out = {}
    for name in gen.SIZES:
        path, spent = gen.ensure(seed, name)
        assert spent > 0
        out[name] = gen.tree_checksums(path)
    return out


def test_inputs_are_a_function_of_the_seed(monkeypatch):
    a = _generate(monkeypatch, "a", 5)
    b = _generate(monkeypatch, "b", 5)
    c = _generate(monkeypatch, "c", 6)
    assert a == b
    for name in gen.SIZES:
        assert a[name] and a[name] != c[name], name
    shutil.rmtree(SCRATCH, ignore_errors=True)


def test_cache_regenerates_a_corrupted_file(monkeypatch):
    root = os.path.join(SCRATCH, "corrupt")
    shutil.rmtree(root, ignore_errors=True)
    monkeypatch.setattr(gen, "CACHE_ROOT", root)
    path, _ = gen.ensure(9, "events")
    want = gen.tree_checksums(path)
    victim = os.path.join(path, sorted(want)[0])
    with open(victim, "r+b") as fh:
        fh.write(b"\0\0\0\0")
    path2, spent = gen.ensure(9, "events")
    assert spent > 0 and path2 == path
    assert gen.tree_checksums(path) == want
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _run(workload: str, seed: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    named = json.loads(next(l for l in lines if l.startswith("workload "))[len("workload "):])
    return named, json.loads(lines[-1])


DETERMINISTIC = {
    "bulk_build": ["fp_over_eps"],
    "probe_join": ["fp_over_eps"],
    "sketch_rollup": ["sketch_max_rel_err"],
}


@pytest.mark.parametrize("workload", sorted(DETERMINISTIC))
def test_deterministic_metrics_repeat(workload):
    runs = [_run(workload, 3) for _ in range(2)]
    for named, result in runs:
        assert result["correct"] and result["failed"] == 0
    (n1, r1), (n2, r2) = runs
    for key in DETERMINISTIC[workload]:
        assert n1[key] == n2[key], key
    assert r1["metrics"]["bytes_per_key"] == r2["metrics"]["bytes_per_key"]
