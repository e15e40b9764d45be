#!/usr/bin/env python3
"""Tiny-scale self-check of the benchmark itself.

    python3 perfbench/smoke.py

For each workload it runs ``run.py --scale smoke`` once untraced and
once traced. It asserts that the last line is the result object, with
every metric BENCHMARK.json declares for that mode and with no failed
operation, and that the run left no process behind.  Then it copies
only BENCHMARK.json and perfbench/ into an empty directory and asserts
that the benchmark refuses to run there: a non-zero exit and no result
line.  It takes a few minutes, most of it JVM start-up.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import reaper

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: {m["name"] for m in bench["end_to_end"]},
              1: {m["name"] for m in bench["per_layer"]}}
    failures = []
    # a process the run leaves behind is re-parented here and found
    reaper.become_subreaper()
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, "--workload", wl, "--seed", "1", "--seconds", "1",
                    "--trace", str(trace), "--scale", "smoke")
            what = f"{wl} trace={trace}"
            stray = reaper.reap_all()
            if stray:
                failures.append(f"{what}: left {len(stray)} process(es) "
                                "running")
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                failures.append(f"{what}: exit {p.returncode}, no result "
                                f"line\n{p.stderr[-2000:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{what}: result keys {sorted(res)}")
            if set(res["metrics"]) != wanted[trace]:
                diff = sorted(set(res["metrics"]) ^ wanted[trace])
                failures.append(f"{what}: metrics differ from "
                                f"BENCHMARK.json: {diff}")
            if not res["correct"] or res["failed"] or p.returncode:
                why = [line for line in p.stdout.splitlines()
                       if line.startswith(("ERROR", "KNOWN DEFECT"))]
                failures.append(f"{what}: correct={res['correct']} "
                                f"failed={res['failed']} exit={p.returncode}"
                                + "".join(f"\n  {w}" for w in why[:6]))
            print(f"{what}: attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bare, "--workload", "ingest", "--seed", "1", "--seconds", "1",
            "--trace", "0")
    if p.returncode == 0 or '"metrics"' in p.stdout:
        failures.append("bare directory: the benchmark did not refuse")
    shutil.rmtree(bare, ignore_errors=True)
    print(f"bare directory: exit {p.returncode}")

    for f in failures:
        print("SMOKE FAIL", f)
    print("SMOKE OK" if not failures else f"SMOKE FAILED ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
