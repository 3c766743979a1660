#!/usr/bin/env python3
"""Fast self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json with ``--tiny`` (a 2k-row CSV;
sf0.001 tables and two micro-batches of 500 documents) untraced and
traced, and asserts that the last stdout line has exactly the result
keys, that every answer was correct, and that every end-to-end (resp.
per-layer) metric named in BENCHMARK.json is printed as a number with
its unit.  Then checks that the command fails, without printing a
result, in a directory holding only BENCHMARK.json and the benchmark's
own files.  Takes a few minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, command: list[str], workload: str, trace: int) -> subprocess.CompletedProcess:
    args = [*command, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(
        [sys.executable if a == "python3" else a for a in args] + ["--tiny"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _check_result(spec: dict, workload: str, trace: int, proc: subprocess.CompletedProcess) -> None:
    where = f"{workload} --trace {trace}"
    assert proc.returncode == 0, f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(last)}"
    assert last["correct"] is True and last["failed"] == 0, f"{where}: {last}"
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1, f"{where}: {last}"
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = last["metrics"]
    for m in wanted:
        assert m["name"] in got, f"{where}: metric {m['name']} missing"
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']} != {m['unit']}"
        assert isinstance(v["value"], (int, float)), f"{where}: {m['name']} = {v['value']!r}"
    extra = set(got) - {m["name"] for m in wanted}
    assert not extra, f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}"
    print(f"ok  {where}: attempted={last['attempted']} metrics={len(got)}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            _check_result(spec, w["name"], trace, _run(ROOT, spec["command"], w["name"], trace))

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, spec["command"], spec["workloads"][0]["name"], 0)
    assert proc.returncode != 0, "bare directory: expected a failure exit"
    assert '"metrics"' not in proc.stdout, "bare directory: printed a result"
    shutil.rmtree(bare)
    print(f"ok  bare directory: exit {proc.returncode}, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
