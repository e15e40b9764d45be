"""The benchmark's workloads.  Each drives the package's public functions
on its seeded input, times three operations (``op1``..``op3``), checks
every output, and in traced reps records per-layer spans.

Why these workloads (README.md has the full rationale):
  * ``ingest``  — the two production write paths and the storage
    format: ``ingest_tiers`` (derive, rollup, manifest), a streaming
    append followed by merge-on-read tier reads, and the Gorilla segment
    round trip.  The feature kernels do no work here.
  * ``extract`` — the Arrow feature kernels do the work; rollup and
    manifest do none.  About half of the long mix is kernel compute;
    the short mix is per-group and per-job overhead; the mid mix runs
    every feature over series of the typical length (README.md, "What
    bounds each op").
  * ``bootstrap`` — not in BENCHMARK.json: ``extract`` with op3 replaced
    by ``extract_with_confidence``, which fails its check on this tree
    on some seeds (see ``Bootstrap``).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import time
import uuid
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ts_pymfe_spark import synth
from ts_pymfe_spark.api import TSMFESpark
from ts_pymfe_spark.functions.summaries import DEFAULT_SUMMARIES
from ts_pymfe_spark.operators import rollup as R
from ts_pymfe_spark.operators.compression import (
    compress_segments,
    decompress_segments,
)
from ts_pymfe_spark.operators.derive import derive_series
from ts_pymfe_spark.plans.ingest import ingest_tiers
from ts_pymfe_spark.plans.manifest import CheckpointedWriter
from ts_pymfe_spark.streaming.rollup_stream import (
    read_all_tiers,
    run_stream_to_store,
)

import checks as C
import inputs as I
from spans import patched
from summary import median

OPS = ("op1", "op2", "op3")

#: The fixed 10-feature set of the short and bootstrap mixes.
TEN_FEATURES = ["acf", "pacf", "period", "ps_entropy", "hist_entropy", "dw",
                "trend_strength", "lz_complexity", "sample_entropy",
                "approx_entropy"]
MAX_POINTS = 512

#: Sizes per scale.  "full" is what BENCHMARK.json runs; "warm" is the
#: warm-up pass of a full run; "smoke" is the tiny self-check run by
#: smoke.py, and its own warm-up.
SIZES = {
    "full": {
        "turns_sf": 0.0025,        # 2,500 conversations, ~29k turns
        "gorilla_convs": 120,      # ~3.4k points through Gorilla
        "stream_files": 6,
        "files_per_trigger": 3,    # 2 micro-batches
        "extract_sf": 0.1,
        "long_convs": (16, 24),    # Zipf head: 16 series, ~130-170 turns
        "mid_convs": (100, 112),   # 24 series, ~40-50 turns each
        "short_convs": (20000, 20500),   # 1,000 series, 8..15 turns each
        "boot_convs": (22, 24),    # 4 series, ~130 turns
        "sample_num": 32,
    },
    # the same plans and series lengths as "full", with enough groups
    # and files that every op still runs tasks on every core
    "warm": {
        "turns_sf": 0.0005,        # 500 conversations, ~6k turns
        "gorilla_convs": 20,
        "stream_files": 6,
        "files_per_trigger": 3,
        "extract_sf": 0.1,
        "long_convs": (16, 18),
        "mid_convs": (100, 104),
        "short_convs": (20000, 20400),
        "boot_convs": (16, 17),
        "sample_num": 32,
    },
    "smoke": {
        "turns_sf": 0.0002,
        "gorilla_convs": 20,
        "stream_files": 2,
        "files_per_trigger": 1,
        "extract_sf": 0.002,
        "long_convs": (0, 2),
        "mid_convs": (2, 4),
        "short_convs": (3000, 3020),
        "boot_convs": (0, 1),
        "sample_num": 4,
    },
}


class Recorder:
    """Samples, attempts and failures of one run.  Samples of traced
    reps are kept apart under ``<key>@traced``.  ``probe`` measures the
    host speed (hostspeed.HostProbe)."""

    def __init__(self, probe) -> None:
        self.probe = probe
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.known_divergences: dict[str, int] = defaultdict(int)

    def timed(self, key: str, fn, tracer=None, op: bool = True):
        """Run ``fn`` and record its wall under ``key``.  With a
        ``tracer`` the call runs inside a span named ``key`` and the
        sample goes to ``key@traced``.  An op counts as attempted, and
        an exception it raises counts as failed and yields None; a step
        inside an op (``op=False``) passes the exception to its op."""
        if op:
            self.attempted += 1
        span = (tracer.span(key) if tracer is not None
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception as e:  # a failing op is counted, not fatal
            if not op:
                raise
            self.failed += 1
            self.errors.append(f"{key}: {type(e).__name__}: {e}"[:500])
            return None
        self.add(key, time.perf_counter() - t0, tracer is not None)
        return out

    def add(self, key: str, value: float, traced: bool = False) -> None:
        self.samples[key + ("@traced" if traced else "")].append(value)

    def check(self, problems: list[str]) -> None:
        """An op whose output fails its check counts as failed."""
        if problems:
            self.failed += 1
            self.errors.extend(problems)

    def known(self, divergence: str) -> None:
        """Name the known program defect behind a failed check.  The
        check still counts as failed; this only labels it in the
        report."""
        self.known_divergences[divergence] += 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _parquet_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def _derive_pdf(turns: pd.DataFrame) -> pd.DataFrame:
    """``derive_series`` in pandas: (conv_id, series, turn_idx, ts, value)."""
    cols = {"text_len": turns["text"].str.len().astype(float),
            "tool_flag": turns["tool"].notna().astype(float)}
    return pd.concat([
        pd.DataFrame({"conv_id": turns["conv_id"], "series": s,
                      "turn_idx": turns["turn_idx"], "ts": turns["ts"],
                      "value": v})
        for s, v in cols.items()
    ], ignore_index=True)


class Workload:
    name = ""
    #: op -> what it runs, printed in the report
    op_labels: dict[str, str] = {}
    #: fewest measured reps per run (traced runs make twice as many); a
    #: run repeats until --seconds have passed.  Over six ingest seeds
    #: under heavy host load, the first rep alone spread 0.17-0.23 of
    #: its median per op, the median of two 0.14-0.18; a third would not
    #: fit 48 runs (4 + 22 per workload), each with a cold JVM start and
    #: a warm-up rep, in the hour a full evaluation may take
    min_reps = 2

    def __init__(self, scale: str, seed: int, work: str, cores: int) -> None:
        self.scale = scale
        self.size = SIZES[scale]
        self.seed = seed
        self.work = work
        self.cores = cores
        self.reps = 0
        self.keep: dict[str, str] = {}

    def fresh(self, kind: str) -> str:
        """A new directory path.  Every rep writes its own store and
        checkpoint, so nothing resumes from an earlier rep; the previous
        one of the same kind is deleted."""
        self.drop(kind)
        path = os.path.join(self.work, f"{kind}-{uuid.uuid4().hex[:8]}")
        self.keep[kind] = path
        return path

    def drop(self, kind: str) -> None:
        path = self.keep.pop(kind, None)
        if path:
            shutil.rmtree(path, ignore_errors=True)

    def rep(self, rec: Recorder, tracer=None) -> None:
        """One pass of the three ops, with a host-speed probe before the
        first op and after each op, while Spark is idle."""
        rec.add("probe", rec.probe())
        for op in OPS:
            getattr(self, f"_{op}")(rec, tracer)
            rec.add("probe", rec.probe())
        self.reps += 1

    def input_key(self) -> str:
        """Cache key of the seeded input: the workload and its sizes, so
        a change of size never reuses an input made for another."""
        sizes = json.dumps(self.size, sort_keys=True).encode()
        return f"{self.name}-{hashlib.sha256(sizes).hexdigest()[:10]}"

    def warm_up(self, rec: Recorder) -> None:
        """One untimed pass of the three ops, the last step of the
        setup, run on the workload built at the "warm" scale.  It
        starts the Python workers, loads every kernel and compiles every
        plan that the measured reps use, so the first measured rep does
        not pay for them.  Its outputs are checked like those of any
        rep, and its timings are dropped."""
        warm = Recorder(probe=lambda: 1.0)
        self.rep(warm)
        rec.attempted += warm.attempted
        rec.failed += warm.failed
        rec.errors += warm.errors
        for k, v in warm.known_divergences.items():
            rec.known_divergences[k] += v

    def _rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, self.reps])


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class BatchTimes(StreamingQueryListener):
    """Micro-batch durations of the streaming query (traced reps)."""

    def __init__(self) -> None:
        self.ms: list[float] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.ms.append(float(event.progress.durationMs.get(
            "triggerExecution", 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Ingest(Workload):
    name = "ingest"
    op_labels = {
        "op1": "plans.ingest.ingest_tiers into a fresh store root",
        "op2": "run_stream_to_store into a fresh store and checkpoint, "
               "then one 1h point lookup and one 1d range aggregate "
               "through read_all_tiers",
        "op3": "compress_segments (1d) to parquet, then "
               "decompress_segments to a noop sink",
    }

    def input_spec(self) -> I.InputSpec:
        sf, nf = self.size["turns_sf"], self.size["stream_files"]

        def build(seed):
            pdf = synth.gen_turns_pandas(sf, seed, text_mode="light")
            files = {"turns.parquet": I.to_table(pdf)}
            files.update({f"stream/{k}": v for k, v in
                          I.split_round_robin(pdf, nf).items()})
            return files

        return I.InputSpec(self.input_key(), build)

    def _series(self, turns):
        return derive_series(turns, partition_by=("conv_id",),
                             partitions=2 * self.cores)

    @staticmethod
    def _slice(turns, n_convs: int):
        return turns.filter(F.col("conv_id") < f"conv{n_convs:08d}")

    def stage(self, spark, inp: I.Input) -> None:
        self.spark = spark
        self.turns = spark.read.parquet(f"{inp.path}/turns.parquet")
        self.stream_dir = f"{inp.path}/stream"
        self.gorilla_in = derive_series(
            self._slice(self.turns, self.size["gorilla_convs"])
        ).select("conv_id", "series", "ts", "value")

    def prepare_checks(self, inp: I.Input, rec: Recorder) -> None:
        """References computed in pandas from the raw turns, without any
        engine code; the in-memory cascade is checked against them at
        the end of the run (final_check)."""
        pdf = I.read_turns(f"{inp.path}/turns.parquet")
        self.items = {"turns": len(pdf)}
        self.ref = C.pandas_tiers(_derive_pdf(pdf))
        self.items["rows_1m_main"] = int(
            (self.ref["1m"]["series"] != "turn_rate").sum())
        n_days = self.ref["1d"]["bucket_start"].dt.normalize().nunique()
        self.expect_parts = {"1m": 2 * n_days, "1h": n_days, "1d": n_days}
        self.convs = sorted(self.ref["1h"]["conv_id"].unique())
        self.days = sorted(self.ref["1d"]["bucket_start"].unique())
        n_files = _parquet_files(self.stream_dir)
        self.expect_batches = math.ceil(n_files /
                                        self.size["files_per_trigger"])
        g = pdf[pdf["conv_id"] < f"conv{self.size['gorilla_convs']:08d}"]
        pts = _derive_pdf(g)[["conv_id", "series", "ts", "value"]]
        self.points = pts.sort_values(["conv_id", "series", "ts"]) \
            .reset_index(drop=True)
        self.items["points"] = len(pts)
        self.expect_segments = len(
            pts.groupby(["conv_id", "series", pts["ts"].dt.floor("D")]))

    # -- op1: batch ingest ---------------------------------------------------
    def _op1(self, rec: Recorder, tracer) -> None:
        root = self.fresh("store")

        def run():
            return ingest_tiers(self.spark, self._series(self.turns), root)

        if tracer is None:
            entries = rec.timed("op1", run)
        else:
            self._trace_cascade_prefixes(tracer)

            def writer_span(w, *a, partition_suffix="", **k):
                tier = os.path.basename(w.root).split("=", 1)[1]
                return "ingest.rate" if partition_suffix else f"ingest.{tier}"

            with patched(CheckpointedWriter, "run", tracer, writer_span), \
                    patched(CheckpointedWriter, "completed", tracer,
                            lambda *a: "manifest.completed"), \
                    patched(CheckpointedWriter, "read", tracer,
                            lambda *a: "manifest.read"):
                entries = rec.timed("op1", run, tracer)
        if entries is None:
            return
        allents = [e for es in entries.values() for e in es]
        if tracer is not None:
            tracer.last("op1").counts.update(
                commit_ms=float(sum(e["commit_ms"] for e in allents)),
                partitions=float(len(allents)),
                files=float(_parquet_files(root)))
        problems = []
        for t, n in self.expect_parts.items():
            got = len(entries.get(t, []))
            rows = sum(e["rows"] for e in entries.get(t, []))
            if got != n:
                problems.append(f"ingest: tier {t} committed {got} "
                                f"partitions, expected {n}")
            if rows != len(self.ref[t]):
                problems.append(f"ingest: tier {t} committed {rows} rows, "
                                f"expected {len(self.ref[t])}")
        rec.check(problems)
        rec.add("store_bytes", float(sum(e["bytes"] for e in allents)))

    def _trace_cascade_prefixes(self, tracer) -> None:
        """The cascade operators only build plans, so successive prefixes
        are materialized to a noop sink; a layer's self time is its
        prefix minus the previous one."""
        series = self._series(self.turns)
        t1m = R.rollup_raw(series, "1m", salted=False)
        t1h = R.cascade(t1m, "1h")
        for name, df in (("prefix.derive", series), ("prefix.1m", t1m),
                         ("prefix.rate", R.rate_1m_projection(t1m)),
                         ("prefix.1h", t1h),
                         ("prefix.1d", R.cascade(t1h, "1d"))):
            with tracer.span(name):
                _noop(df)
        with tracer.span("plan.1d") as sp:
            plan = R.build_all_tiers(series, salted=False)["1d"] \
                ._jdf.queryExecution().executedPlan().toString()
            sp.counts["exchanges"] = float(sum(
                1 for line in plan.splitlines()
                if line.lstrip(" :+-*()0123456789").startswith("Exchange")))

    # -- op2: streaming append, then tier reads ------------------------------
    def _point(self, store: str, conv: str) -> pd.DataFrame:
        return read_all_tiers(self.spark, store)["1h"] \
            .filter(F.col("conv_id") == conv).toPandas()

    def _range(self, store: str, d0, d1) -> pd.DataFrame:
        lo, hi = F.lit(d0.to_pydatetime()), F.lit(d1.to_pydatetime())
        return read_all_tiers(self.spark, store)["1d"] \
            .filter((F.col("bucket_start") >= lo)
                    & (F.col("bucket_start") < hi)) \
            .groupBy("series") \
            .agg(F.sum("n").alias("n"), F.sum("s1").alias("s1"),
                 F.max("mx").alias("mx")) \
            .toPandas()

    def _op2(self, rec: Recorder, tracer) -> None:
        """One client in a closed loop: append the seeded files as
        micro-batches, then a seeded 1h point lookup and a seeded 1d
        range aggregate over 1-3 days."""
        store, ckpt = self.fresh("stream-store"), self.fresh("stream-ckpt")
        rng = self._rng()
        conv = self.convs[int(rng.integers(len(self.convs)))]
        d0 = pd.Timestamp(self.days[int(rng.integers(len(self.days)))])
        d1 = d0 + pd.Timedelta(days=1 + int(rng.integers(3)))

        def run():
            rec.timed("stream.append", lambda: run_stream_to_store(
                self.spark, self.stream_dir, store, ckpt,
                max_files_per_trigger=self.size["files_per_trigger"]),
                tracer, op=False)
            point = rec.timed("stream.read.point",
                              lambda: self._point(store, conv), tracer,
                              op=False)
            rng_out = rec.timed("stream.read.range",
                                lambda: self._range(store, d0, d1), tracer,
                                op=False)
            return point, rng_out

        if tracer is None:
            got = rec.timed("op2", run)
        else:
            listener = BatchTimes()
            self.spark.streams.addListener(listener)
            try:
                got = rec.timed("op2", run, tracer)
                self.spark.sparkContext._jsc.sc().listenerBus() \
                    .waitUntilEmpty()
            finally:
                self.spark.streams.removeListener(listener)
            tracer.last("op2").counts.update(
                batches=float(len(listener.ms)),
                batch_p50_s=median(listener.ms) / 1e3,
                batch_max_s=max(listener.ms, default=0.0) / 1e3,
                batch_dirs=float(len(self._batch_dirs(store, "1m"))),
                store_mb=_dir_bytes(store) / (1 << 20),
                files_scanned=float(_parquet_files(f"{store}/tier=1m")))
        if got is None:
            return
        point, rng_out = got
        problems = [
            f"stream: tier {t} has {len(self._batch_dirs(store, t))} batch "
            f"dirs, expected {self.expect_batches}"
            for t in ("1m", "1h", "1d")
            if len(self._batch_dirs(store, t)) != self.expect_batches
        ]
        exp = self.ref["1h"][self.ref["1h"]["conv_id"] == conv]
        problems += C.frames_match(
            point.sort_values(R.KEY).reset_index(drop=True), exp,
            f"point read {conv}")
        problems += self._range_problems(rng_out, d0, d1)
        rec.check(problems)

    @staticmethod
    def _batch_dirs(store: str, tier: str) -> list[str]:
        root = f"{store}/tier={tier}"
        if not os.path.isdir(root):
            return []
        return [d for d in os.listdir(root) if d.startswith("batch=")]

    def _range_problems(self, got, d0, d1) -> list[str]:
        ref = self.ref["1d"]
        sel = ref[(ref["bucket_start"] >= d0) & (ref["bucket_start"] < d1)]
        exp = sel.groupby("series").agg(n=("n", "sum"), s1=("s1", "sum"),
                                        mx=("mx", "max")).reset_index()
        got = got.sort_values("series").reset_index(drop=True)
        what = f"range read from {d0.date()}"
        if list(got["series"]) != list(exp["series"]):
            return [f"{what}: series differ"]
        bad = []
        if not (got["n"].to_numpy() == exp["n"].to_numpy()).all():
            bad.append(f"{what}: n differs")
        if not np.allclose(got["s1"], exp["s1"], rtol=1e-9, atol=0):
            bad.append(f"{what}: s1 differs")
        if not (got["mx"].to_numpy() == exp["mx"].to_numpy()).all():
            bad.append(f"{what}: mx differs")
        return bad

    # -- op3: Gorilla segment round trip -------------------------------------
    def _op3(self, rec: Recorder, tracer) -> None:
        seg = self.fresh("seg")

        def run():
            rec.timed("compression.encode", lambda: compress_segments(
                self.gorilla_in, "1d").write.parquet(seg), tracer, op=False)
            rec.timed("compression.decode", lambda: _noop(
                decompress_segments(self.spark.read.parquet(seg))), tracer,
                op=False)
            return True

        if rec.timed("op3", run, tracer) is None:
            return
        t = pq.read_table(seg, columns=["n", "seg"])
        n_pts = int(pc.sum(t.column("n")).as_py() or 0)
        if tracer is not None:
            tracer.last("op3").counts.update(segments=float(t.num_rows),
                                             points=float(n_pts))
        problems = []
        if t.num_rows != self.expect_segments:
            problems.append(f"gorilla: {t.num_rows} segments, expected "
                            f"{self.expect_segments}")
        if n_pts != len(self.points):
            problems.append(f"gorilla: {n_pts} points, expected "
                            f"{len(self.points)}")
        rec.check(problems)
        rec.add("segment_bytes",
                float(sum(len(b) for b in t.column("seg").to_pylist())))

    def final_check(self, rec: Recorder) -> None:
        """The reference cascade, ``build_all_tiers(persist=True)``, must
        agree with the pandas reference and leave Spark's CacheManager
        empty after ``unpersist_all()``.  Then content checks on the last
        rep's outputs: the read-back batch store and the merged stream
        store both equal the cascade per tier (rows, exact-column hash,
        power sums), and the Gorilla round trip is bit-exact.  All tier
        digests come from one Spark action."""
        spark = self.spark
        cascade = R.build_all_tiers(self._series(self.turns), salted=False,
                                    persist=True)
        tiers = {f"cascade tier {t}": df for t, df in cascade.items()}
        store = self.keep.get("store")
        if store:
            tiers.update({
                f"ingest store tier {t}":
                CheckpointedWriter(spark, f"{store}/tier={t}").read()
                for t in R.TIER_ORDER})
        stream = self.keep.get("stream-store")
        if stream:
            tiers.update({f"stream store tier {t}": df for t, df in
                          read_all_tiers(spark, stream).items()})
        digests = C.tier_digests(tiers)
        cascade.unpersist_all()
        ref = {name[-2:]: d for name, d in digests.items()
               if name.startswith("cascade")}
        problems = C.oracle_match(ref, self.ref)
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            problems.append("build_all_tiers: CacheManager not empty after "
                            "unpersist_all()")
        rec.attempted += 1
        rec.check(problems)
        problems = []
        for name, digest in digests.items():
            if not name.startswith("cascade"):
                problems += C.digest_match(digest, ref[name[-2:]], name)
        seg = self.keep.get("seg")
        if seg:
            dec = decompress_segments(spark.read.parquet(seg)).toPandas() \
                .sort_values(["conv_id", "series", "ts"]) \
                .reset_index(drop=True)
            exp = self.points
            same = len(dec) == len(exp) and all(
                (dec[c].to_numpy() == exp[c].to_numpy()).all()
                for c in ("conv_id", "series")
            ) and (
                dec["ts"].to_numpy().astype("datetime64[us]")
                == exp["ts"].to_numpy().astype("datetime64[us]")
            ).all() and (
                dec["value"].to_numpy(np.float64).view(np.int64)
                == exp["value"].to_numpy(np.float64).view(np.int64)
            ).all()
            if not same:
                problems.append("gorilla: round trip is not bit-exact")
        rec.attempted += 1
        rec.check(problems)

    def report(self, rec: Recorder):
        """([(metric, unit, samples in s, items per sample)],
        [(metric, unit, value)])."""
        s, n = rec.samples, self.items
        reads = [x * 1e3 for x in
                 s["stream.read.point"] + s["stream.read.range"]]
        extra = []
        if s["store_bytes"]:
            extra.append(("store_bytes_per_turn", "B/turn",
                          median(s["store_bytes"]) / n["turns"]))
        if s["segment_bytes"]:
            extra.append(("segment_bytes_per_point", "B/point",
                          median(s["segment_bytes"]) / n["points"]))
        if reads:
            extra += [(f"tier_read_p50_ms (n={len(reads)})", "ms",
                       median(reads)),
                      (f"tier_read_p90_ms (n={len(reads)})", "ms",
                       float(np.percentile(reads, 90)))]
        return [
            ("ingest_turns_per_s", "turns/s", s["op1"], n["turns"]),
            ("stream_turns_per_s", "turns/s", s["stream.append"],
             n["turns"]),
            ("compress_points_per_s", "points/s", s["compression.encode"],
             n["points"]),
            ("decompress_points_per_s", "points/s", s["compression.decode"],
             n["points"]),
        ], extra


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------

class Extract(Workload):
    name = "extract"
    op_labels = {
        "op1": "TSMFESpark(all features, max_points=512).extract over the "
               "Zipf-head series",
        "op2": "TSMFESpark(10 features).extract over short series",
        "op3": "TSMFESpark(all features).extract over mid-length series",
    }
    #: op -> the mix's name in the per-layer metrics
    mixes = {"op1": "long", "op2": "short", "op3": "mid"}

    def input_spec(self) -> I.InputSpec:
        sz, sf = self.size, self.size["extract_sf"]
        return I.InputSpec(
            self.input_key(),
            lambda seed: {
                f"{mix}.parquet": I.to_table(
                    I.gen_convs(range(*sz[f"{mix}_convs"]), sf, seed))
                for mix in ("long", "mid", "short")
            },
        )

    def stage(self, spark, inp: I.Input) -> None:
        self.spark = spark
        self.series = {
            mix: derive_series(spark.read.parquet(f"{inp.path}/{mix}.parquet"))
            for mix in ("long", "mid", "short")}

    def prepare_checks(self, inp: I.Input, rec: Recorder) -> None:
        self.points = {}
        self.keys = {}
        for mix in ("long", "mid", "short"):
            d = _derive_pdf(I.read_turns(f"{inp.path}/{mix}.parquet"))
            self.keys[mix] = []
            for key, g in d.groupby(["conv_id", "series"]):
                self.points[key] = C.series_array(g, MAX_POINTS)
                self.keys[mix].append(key)
        self.items = {mix: len(k) for mix, k in self.keys.items()}

    def _check_features(self, res, keys, names, what, n_sample) -> list[str]:
        if res is None:
            return []
        got_keys = set(zip(res["conv_id"], res["series"]))
        if got_keys != set(keys):
            return [f"{what}: {len(got_keys)} series in output, "
                    f"expected {len(keys)}"]
        problems = []
        rng = self._rng()
        for i in rng.choice(len(keys), size=min(n_sample, len(keys)),
                            replace=False):
            conv, ser = keys[int(i)]
            exp = C.driver_features(self.points[(conv, ser)], conv, names,
                                    DEFAULT_SUMMARIES)
            sub = res[(res["conv_id"] == conv) & (res["series"] == ser)]
            problems += C.features_match(sub, exp, f"{what} {conv}/{ser}")
        return problems

    def _run(self, rec, op, tracer, fn):
        res = rec.timed(op, fn, tracer)
        if res is not None and tracer is not None:
            tracer.last(op).counts.update(rows_out=float(len(res)),
                             groups=float(res.groupby(
                                 ["conv_id", "series"]).ngroups))
        return res

    def _extract(self, rec: Recorder, tracer, op: str, features,
                 n_sample: int):
        """``TSMFESpark(features).extract`` over the op's mix, with
        ``n_sample`` seeded series recomputed on the driver."""
        mix = self.mixes[op]
        res = self._run(rec, op, tracer, lambda: TSMFESpark(
            features=features, max_points=MAX_POINTS)
            .extract(self.series[mix]).toPandas())
        names = (TSMFESpark().valid_features() if features == "all"
                 else features)
        rec.check(self._check_features(res, self.keys[mix], names, mix,
                                       n_sample))
        return res

    def _op1(self, rec: Recorder, tracer) -> None:
        res = self._extract(rec, tracer, "op1", "all", 1)
        if res is not None:
            rec.add("nan_share", float(res["value"].isna().mean()))
        if tracer is not None and not tracer.by_name("kernels.measure_time"):
            with tracer.span("kernels.measure_time") as sp:
                timed = TSMFESpark(max_points=MAX_POINTS).extract(
                    self.series["long"], measure_time=True).toPandas()
            timed["feature"] = timed["name"].str.split(".").str[0]
            per = (timed.drop_duplicates(["conv_id", "series", "feature"])
                   .groupby("feature")["wall_ms"].sum()
                   .sort_values(ascending=False))
            sp.counts.update({f"feature_ms.{k}": float(v)
                              for k, v in per.head(20).items()})

    def _op2(self, rec: Recorder, tracer) -> None:
        self._extract(rec, tracer, "op2", TEN_FEATURES, 3)

    def _op3(self, rec: Recorder, tracer) -> None:
        self._extract(rec, tracer, "op3", "all", 2)

    def final_check(self, rec: Recorder) -> None:
        """Every rep's output was checked as it came back."""

    def report(self, rec: Recorder):
        s, n = rec.samples, self.items
        extra = []
        if s.get("nan_share"):
            extra.append(("kernels.nan_share", "ratio",
                          median(s["nan_share"])))
        return [
            ("extract_long_series_per_s", "series/s", s["op1"], n["long"]),
            ("extract_short_series_per_s", "series/s", s["op2"],
             n["short"]),
            (f"extract_{self.mixes['op3']}_series_per_s", "series/s",
             s["op3"], n[self.mixes["op3"]]),
        ], extra


class Bootstrap(Extract):
    """``extract`` with op3 replaced by ``extract_with_confidence``.

    Not in BENCHMARK.json: on this tree the output breaks the method's
    documented contract on some seeds (checks.NAN_RESAMPLES_DROPPED),
    and a gated workload must not fail.  Run it by name to see the
    defect; it belongs back in BENCHMARK.json once the program is
    fixed."""

    name = "bootstrap"
    op_labels = dict(Extract.op_labels,
                     op3="extract_with_confidence(sample_num=32), "
                         "10 features, head series")
    mixes = dict(Extract.mixes, op3="bootstrap")

    def _boot_ids(self) -> list[str]:
        lo, hi = self.size["boot_convs"]
        return [f"conv{i:08d}" for i in range(lo, hi)]

    def stage(self, spark, inp: I.Input) -> None:
        super().stage(spark, inp)
        self.series["bootstrap"] = self.series["long"].filter(
            F.col("conv_id").isin(self._boot_ids()))

    def prepare_checks(self, inp: I.Input, rec: Recorder) -> None:
        super().prepare_checks(inp, rec)
        ids = set(self._boot_ids())
        self.keys["bootstrap"] = [k for k in self.keys["long"]
                                  if k[0] in ids]
        if not self.keys["bootstrap"]:
            raise ValueError("boot_convs must lie inside long_convs")
        self.items["bootstrap"] = len(self.keys["bootstrap"])

    def _op3(self, rec: Recorder, tracer) -> None:
        n = self.size["sample_num"]
        keys = self.keys["bootstrap"]
        res = self._run(rec, "op3", tracer, lambda: TSMFESpark(
            features=TEN_FEATURES, max_points=MAX_POINTS)
            .extract_with_confidence(self.series["bootstrap"],
                                     sample_num=n).toPandas())
        if res is None:
            return
        got_keys = set(zip(res["conv_id"], res["series"]))
        if got_keys != set(keys):
            rec.check([f"bootstrap: {len(got_keys)} series in output, "
                       f"expected {len(keys)}"])
            return
        conv, ser = keys[int(self._rng().integers(len(keys)))]
        contract, dropped = C.bootstrap_expected(
            self.points[(conv, ser)], conv, TEN_FEATURES, DEFAULT_SUMMARIES,
            n, 0.95, 1234)
        sub = res[(res["conv_id"] == conv) & (res["series"] == ser)]
        what = f"bootstrap {conv}/{ser}"
        problems = C.bootstrap_match(sub, contract, what)
        if problems and not C.bootstrap_match(sub, dropped, what):
            rec.known(C.NAN_RESAMPLES_DROPPED)
        rec.check(problems)


WORKLOADS = {w.name: w for w in (Ingest, Extract, Bootstrap)}
