#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {ingest,extract,bootstrap} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One invocation is one fresh Spark JVM
on ``local[nproc]``.  It builds (or reuses) the seeded input, sets up
once from cold (``get_spark`` launching the JVM, input staging, the
warm-up pass) and reports that as ``setup_s``, then repeats the
workload's three operations until ``--seconds`` have passed (at least
the workload's ``min_reps``), checks every output, and prints a report
followed by one JSON line:

  --trace 0: the end-to-end metrics (setup_s, op1_norm_ms..op3_norm_ms),
             measured with tracing off and scaled to a lightly loaded
             host by the median of the host probes taken between the
             ops (hostspeed.py);
  --trace 1: per-layer metrics.  Even reps are traced, odd reps are
             not; per-op overhead is traced minus untraced median.
             Spans are written to .bench_build/perfbench/traces/.

Everything the run writes stays under .bench_build/perfbench/ in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

import reaper

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
STAGE_KEYS = ("wall_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb",
              "tasks")


def pin_host() -> tuple[int, str]:
    """Pin the run to this host from the benchmark's own launcher:
    local[nproc], a driver heap below physical memory, the repo on the
    Python workers' path, and every scratch file inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    root = os.path.join(BUILD, "tmp")
    for d in os.listdir(root) if os.path.isdir(root) else []:
        if not os.path.exists(f"/proc/{d.split('-')[0]}"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    tmp = os.path.join(root, f"{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(tmp)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{min(2048, phys_mb // 4)}m",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # every JVM the run launches (the spark-submit launcher too):
        # temp files in the checkout, no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # one BLAS thread, as session.py gives the Python workers, so the
        # driver-side recompute of kernel outputs runs the same arithmetic
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    return cores, tmp


def start_session(cores: int, tmp: str):
    from ts_pymfe_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # the gateway may already be gone; still reap it
        pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def layer_metrics(wl, tracer) -> dict[str, float]:
    """Per-layer metrics named after the program's modules, from the
    traced reps' spans."""
    from summary import median

    def spans(name):
        return tracer.by_name(name)

    def stage(name, key):
        return median([s.stages[key] for s in spans(name)])

    def count(name, key):
        return median([s.counts[key] for s in spans(name) if key in s.counts])

    def per_rep_sum(name, key="wall_s"):
        """Sum over each traced op1 span's children of ``name``."""
        tot = []
        for op in spans("op1"):
            tot.append(sum(s.stages[key] for s in spans(name)
                           if op.start <= s.start and s.end <= op.end))
        return median(tot)

    def self_time(child, parent, key="wall_s"):
        return median([c.stages[key] - p.stages[key]
                    for c, p in zip(spans(child), spans(parent))])

    out: dict[str, float] = {}
    if wl.name == "ingest":
        out["derive.wall_s"] = stage("prefix.derive", "wall_s")
        out["derive.shuffle_write_mb"] = stage("prefix.derive",
                                               "shuffle_write_mb")
        for key in ("wall_s", "cpu_s", "spill_mb"):
            out[f"rollup.1m.{key}"] = self_time("prefix.1m", "prefix.derive",
                                                key)
        out["rollup.1m.rows_in_per_row_out"] = (
            2 * wl.items["turns"] / wl.items["rows_1m_main"])
        out["rollup.rate.wall_s"] = self_time("prefix.rate", "prefix.1m")
        out["rollup.1h.wall_s"] = self_time("prefix.1h", "prefix.1m")
        out["rollup.1d.wall_s"] = self_time("prefix.1d", "prefix.1h")
        out["rollup.exchanges"] = count("plan.1d", "exchanges")
        for t in ("1m", "rate", "1h", "1d"):
            out[f"ingest.{t}.wall_s"] = per_rep_sum(f"ingest.{t}")
        out["manifest.commit_ms"] = count("op1", "commit_ms")
        out["manifest.completed.wall_s"] = per_rep_sum("manifest.completed")
        out["manifest.read.wall_s"] = per_rep_sum("manifest.read")
        out["manifest.files"] = count("op1", "files")
        out["manifest.partitions"] = count("op1", "partitions")
        out["compression.encode.wall_s"] = stage("compression.encode",
                                                 "wall_s")
        out["compression.encode.cpu_s"] = stage("compression.encode", "cpu_s")
        out["compression.decode.wall_s"] = stage("compression.decode",
                                                 "wall_s")
        for key in ("batches", "batch_p50_s", "batch_max_s", "batch_dirs",
                    "store_mb"):
            out[f"stream.{key}"] = count("op2", key)
        out["stream.append.wall_s"] = stage("stream.append", "wall_s")
        out["stream.read.point_ms"] = 1e3 * stage("stream.read.point",
                                                  "wall_s")
        out["stream.read.range_ms"] = 1e3 * stage("stream.read.range",
                                                  "wall_s")
        out["stream.read.files_scanned"] = count("op2", "files_scanned")
        segs = count("op3", "segments")
        out["compression.segments"] = segs
        out["compression.points_per_segment"] = count("op3", "points") / segs
    else:
        for op, mix in wl.mixes.items():
            for key in ("wall_s", "cpu_s", "shuffle_write_mb"):
                out[f"arrow_kernels.{mix}.{key}"] = stage(op, key)
            for key in ("groups", "rows_out"):
                out[f"arrow_kernels.{mix}.{key}"] = count(op, key)
        (mt,) = spans("kernels.measure_time")
        out.update({f"kernels.{k}": v for k, v in mt.counts.items()})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "extract", "bootstrap"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ts_pymfe_spark", "session.py")):
        print("perfbench: the program source (ts_pymfe_spark/) is not in "
              f"{ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reaper.become_subreaper()
    try:
        return measure(args)
    finally:
        stray = reaper.reap_all()
        if stray:
            print(f"perfbench: stopped {len(stray)} leftover process(es)",
                  file=sys.stderr)


def measure(args) -> int:
    cores, tmp = pin_host()
    import inputs as I
    import workloads as W
    from hostspeed import FLAT_PROBE_S, HostProbe, scale
    from spans import Tracer
    from summary import median

    run_id = uuid.uuid4().hex[:12]
    wl = W.WORKLOADS[args.workload](args.scale, args.seed,
                                    os.path.join(tmp, "work"), cores)
    warm = W.WORKLOADS[args.workload](
        "warm" if args.scale == "full" else args.scale, args.seed,
        os.path.join(tmp, "warm"), cores)
    inp, warm_inp = (I.ensure(w.input_spec(), args.seed,
                              os.path.join(BUILD, "inputs"))
                     for w in (wl, warm))
    rec = W.Recorder(HostProbe(cores))
    tracer = None
    spark = None
    try:
        # the one setup of the run, from cold: JVM launch and session
        # (get_spark), input staging and the warm-up pass.  Building the
        # checks' references in between is not part of it.
        t0 = time.perf_counter()
        spark = start_session(cores, tmp)
        start_s = time.perf_counter() - t0
        wl.stage(spark, inp)
        warm.stage(spark, warm_inp)
        t1 = time.perf_counter()
        wl.prepare_checks(inp, rec)
        warm.prepare_checks(warm_inp, rec)
        check_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        warm.warm_up(rec)
        warm_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0 - check_s
        if args.trace:
            tracer = Tracer(spark, run_id)
        min_reps = 2 * wl.min_reps if args.trace else wl.min_reps
        t_start = time.perf_counter()
        while (wl.reps < min_reps
               or time.perf_counter() - t_start < args.seconds):
            traced = tracer is not None and wl.reps % 2 == 0
            wl.rep(rec, tracer if traced else None)
        measure_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        wl.final_check(rec)
        check_s += time.perf_counter() - t0
        rss_mb = jvm_peak_rss_mb(spark)
        layers = {}
        if tracer is not None:
            tracer.collect_stage_metrics()
            layers = layer_metrics(wl, tracer)
            trace_path = os.path.join(
                BUILD, "traces", f"{args.workload}-seed{args.seed}-{run_id}"
                ".jsonl")
            tracer.write(trace_path)
            with open(trace_path, "a") as fh:
                fh.write(json.dumps({"run_id": run_id, "layers": layers})
                         + "\n")
    finally:
        try:
            if spark is not None:
                stop_jvm(spark)
        finally:
            rec.probe.close()
            shutil.rmtree(tmp, ignore_errors=True)

    # -- report -------------------------------------------------------------
    import summary as S

    s = rec.samples
    # one factor for the whole run, from the median of its probes: a
    # single probe is noisier than the op it would scale
    norm = scale(median(s["probe"]))
    setup_norm_s = setup_s * norm
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores} run_id={run_id} reps={wl.reps} "
          f"measured_s={measure_s:.1f} check_s={check_s:.1f}")
    for what, i in (("input", inp), ("warm-up input", warm_inp)):
        print(f"{what} rows={i.rows} sha256={i.digest[:16]} "
              f"gen_s={i.gen_s:.3f} verify_s={i.verify_s:.3f}")
    print(f"setup_s [s] raw={setup_s:.4g} scaled={setup_norm_s:.4g} n=1")
    print(f"session.start_s [s] {start_s:.4g} n=1")
    print(f"warm_up_s [s] {warm_s:.4g} n=1")
    for op in W.OPS:
        print(S.fmt_timing(f"{op}_ms ({wl.op_labels[op]})", "ms", s[op], 1e3))
    rates, extra = wl.report(rec)
    for name, unit, secs, items in rates:
        t = S.timing(secs)
        tail = (f" p{t['tail_pct']}-time={items / t['tail']:.6g}"
                if t["tail_pct"] is not None else "")
        print(f"{name} [{unit}] median={items / t['median']:.6g}{tail} "
              f"n={t['n']} items={items}")
    for name, unit, value in extra:
        print(f"{name} [{unit}] {value:.6g}")
    error_rate = rec.failed / max(rec.attempted, 1)
    print(f"error_rate [ratio] {error_rate:.6g} "
          f"({rec.failed}/{rec.attempted})")
    print(f"jvm_peak_rss_mb [MB] {rss_mb:.1f}")
    print(S.fmt_timing("host.probe_ms", "ms", s["probe"], 1e3)
          + f" flat_below={FLAT_PROBE_S * 1e3:.1f}")
    for e in rec.errors[:20]:
        print(f"ERROR {e}")
    for d, n in rec.known_divergences.items():
        print(f"KNOWN DEFECT ({n} outputs) {d}")

    if args.trace:
        for k, v in layers.items():
            print(f"layer {k} = {v:.6g}")
        metrics = {"session.start_s": (start_s, "s")}
        for op in W.OPS:
            spans = tracer.by_name(op)
            for key in STAGE_KEYS:
                unit = {"wall_s": "s", "cpu_s": "s", "tasks": "count"}.get(
                    key, "MB")
                metrics[f"{op}.{key}"] = (
                    median([sp.stages[key] for sp in spans]), unit)
            over = 1e3 * (median(s[f"{op}@traced"]) - median(s[op]))
            print(f"tracing overhead {op}_ms = {over:.4g}")
            metrics[f"{op}.overhead_ms"] = (over, "ms")
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = {"setup_s": (setup_norm_s, "s")}
        for op in W.OPS:
            metrics[f"{op}_norm_ms"] = (1e3 * median(s[op]) * norm, "ms")
    ok = rec.failed == 0 and all(v == v for v, _ in metrics.values())
    print(json.dumps({
        "correct": ok,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
