#!/usr/bin/env python3
"""Self-test of the benchmark harness at a tiny size.

For every workload declared in BENCHMARK.json it runs one untraced and one
traced run with --tiny and checks that:
  - the run succeeds and its last stdout line is the result object with
    exactly the keys correct/attempted/failed/metrics, correct = true;
  - the result holds exactly the declared end_to_end (untraced) or
    per_layer (traced) metrics, each with its declared unit and a finite
    number;
  - every declared metric is also printed by name with its unit;
  - the env line records nproc, the JVM, Spark and the Spark confs.
It then checks that the benchmark fails fast, without a result, in a
directory holding only BENCHMARK.json and perfbench/.

    python3 perfbench/selftest.py
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def check_run(spec, workload, trace):
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {set(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {result}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{where}: {result}"
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}, \
        f"{where}: metrics {sorted(set(got) ^ {m['name'] for m in declared})} differ from BENCHMARK.json"
    for m in declared:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']} != {m['unit']}"
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{where}: {m['name']}"
        pat = re.compile(rf"^\[perfbench\] {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}( |$)")
        assert any(pat.match(l) for l in lines), f"{where}: no '{m['name']} = … {m['unit']}' line"
    env = [l for l in lines if l.startswith("[perfbench] env ")]
    assert env, f"{where}: no env line"
    e = json.loads(env[0][len("[perfbench] env "):])
    for k in ("nproc", "jvm", "spark", "confs"):
        assert k in e, f"{where}: env lacks {k}"
    assert e["confs"].get("spark.sql.adaptive.enabled") == "true", f"{where}: AQE not recorded"
    print(f"ok  {where}: {len(declared)} metrics, attempted {result['attempted']}")


def check_bare_dir(spec):
    """Without the program's sources the benchmark must fail, not report."""
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=out)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        # the committed files only: no build output, no earlier runs
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".out", "__pycache__"))
        w = spec["workloads"][0]["name"]
        p = run(bare, w, 0)
        assert p.returncode != 0, "bare directory: benchmark exited 0"
        assert '"correct"' not in p.stdout, "bare directory: benchmark printed a result"
        print(f"ok  bare directory: exit {p.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    check_bare_dir(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
