#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. One process drives one workload with a
single closed-loop client on ``local[<cores>]``; all inputs are
generated from ``--seed`` under ``.perfbench/`` in the current
directory. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` repeats the workload with Spark
job labels, storage snapshots and the event log on, and reports the
per-layer metrics (plus a span/roll-up report under ``.perfbench/out``).

``--smoke`` runs every workload at a tiny size, untraced then traced,
and checks that each printed metric name and unit matches
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_batch", "warehouse")

E2E_UNITS = {"setup_s": "s", "round_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench import batch, trace, warehouse

    units = {"round_wall_s": "s", "stolen_pct": "%",
             "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
             "build_s": "s", "build_jobs": "count", "exec_s": "s",
             "exec_jobs": "count"}
    for q in batch.QUERIES:
        units[f"build_s.{q}"] = "s"
        units[f"exec_s.{q}"] = "s"
    for k in trace.ROLLUP_KEYS:
        units[k] = ("count" if k == "tasks" else "s" if k.endswith("_s")
                    else "MB")
    units.update({"cached_mb_at_op_start": "MB",
                  "cached_rdds_at_op_start": "count"})
    for op in warehouse.LOOKUPS:
        units[f"serve_ms.{op}"] = "ms"
    units.update({"plan_ms": "ms", "collect_ms": "ms",
                  "jobs_per_request": "count", "files_per_table": "count",
                  "weekly_pipeline_s": "s", "er_pairs_per_s": "1/s"})
    for t in warehouse.UPSERTED:
        units[f"merge_upsert_s.{t}"] = "s"
    units.update({"files_written": "count", "partitions_rewritten": "count",
                  "write_amp": "ratio", "space_amp": "ratio",
                  "stream_drain_s": "s", "fresh_read_ms": "ms",
                  "jvm_start_s": "s", "warmup_s": "s", "datagen_s": "s",
                  "land_s": "s"})
    return units


class Ctx:
    """What a workload needs, and what it reports back."""

    def __init__(self, args, spark, rec, work: str, ticks0):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.smoke = args.seconds, args.smoke_size
        self.spark, self.rec, self.work = spark, rec, work
        self.attempted = self.failed = 0
        self.latencies: list[float] = []   # seconds per operation
        self.rounds: list[float] = []      # seconds per pass / week
        self.shares: list[float] = []      # unstolen CPU share per round
        self.round_s = 0.0                 # the run's round_s
        self.datagen_s = self.land_s = self.warmup_s = 0.0
        self.ticks0, self.setup_share = ticks0, 1.0
        self.layer: dict[str, float] = {}  # workload-specific per-layer values
        self.measure_start = self.measure_end = 0.0

    def log(self, msg: str) -> None:
        print(f"[{self.workload}] {msg}", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.log(f"FAILED {msg[:500]}")

    def setup_done(self) -> None:
        from perfbench.trace import cpu_ticks, unstolen_share

        self.measure_start = time.perf_counter()
        self.setup_share = unstolen_share(self.ticks0, cpu_ticks())

    def collect_garbage(self) -> None:
        """Full GC in the JVM and in Python before a timed round, so no
        round inherits the previous round's garbage."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


def _env(work: str, traced: bool) -> str | None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory; returns the event-log dir when traced."""
    for sub in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd()] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local")}
    log_dir = None
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": log_dir})
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    # -XX:-UsePerfData: no hsperfdata files outside the run directory;
    # -Xms: a fixed-size heap, so peak memory does not follow heap resizing
    args += ["--driver-java-options",
             f"'-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
             " -Xms1g'",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args)
    return log_dir


def _e2e(ctx, jvm_start_s: float, rss: float) -> dict[str, float]:
    setup = ((jvm_start_s + ctx.datagen_s + ctx.land_s + ctx.warmup_s)
             * ctx.setup_share)
    return {"setup_s": setup, "round_s": ctx.round_s, "peak_rss_mb": rss}


def _per_layer(ctx, jvm_start_s: float, log_dir: str | None,
               out_dir: str) -> dict[str, float]:
    from perfbench import trace

    rec = ctx.rec
    vals = dict.fromkeys(per_layer_units(), 0.0)
    n_rounds = max(len(ctx.rounds), 1)
    timed = rec.timed()
    for phase in ("build", "exec"):
        spans = [s for s in timed if s.phase == phase]
        by_op: dict[str, list[float]] = {}
        jobs: dict[str, list[int]] = {}
        for s in spans:
            by_op.setdefault(s.op, []).append(s.seconds)
            jobs.setdefault(s.op, []).append(s.jobs)
        # per query, the median over passes (wall time); totals sum them
        for op, xs in by_op.items():
            vals[f"{phase}_s.{op}"] = trace.median(xs)
        vals[f"{phase}_s"] = sum(trace.median(xs) for xs in by_op.values())
        vals[f"{phase}_jobs"] = sum(trace.median(xs) for xs in jobs.values())
    if timed:
        vals["cached_mb_at_op_start"] = max(s.cached_mb for s in timed)
        vals["cached_rdds_at_op_start"] = max(s.cached_rdds for s in timed)
    lat_ms = [x * 1000.0 for x in ctx.latencies]
    wall = max(ctx.measure_end - ctx.measure_start, 1e-9)
    vals.update({"op_p50_ms": trace.median(lat_ms),
                 "op_p90_ms": trace.pct(lat_ms, 90),
                 "ops_per_s": len(lat_ms) / wall,
                 "round_wall_s": trace.median(ctx.rounds),
                 "stolen_pct": 100.0 * (1.0 - trace.median(ctx.shares or [1.0]))})
    vals.update({"jvm_start_s": jvm_start_s, "warmup_s": ctx.warmup_s,
                 "datagen_s": ctx.datagen_s, "land_s": ctx.land_s})
    vals.update({k: v for k, v in ctx.layer.items() if k in vals})
    report = {"workload": ctx.workload, "seed": ctx.seed,
              "spans": [s.__dict__ for s in rec.spans]}
    if log_dir:
        rollup = trace.rollup_event_log(log_dir, rec.spans)
        timed_labels = {s.name for s in timed}
        for k in trace.ROLLUP_KEYS:
            xs = [r[k] for lbl, r in rollup.items() if lbl in timed_labels]
            vals[k] = (max(xs, default=0.0) if k == "peak_exec_mem_mb"
                       else sum(xs) / n_rounds)
        report["event_log_rollup"] = rollup
    with open(os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-trace.json"),
              "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return vals


def run_one(args) -> dict:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "database_convertor_spark")):
        sys.exit("run from the repository root: database_convertor_spark/ "
                 "is not in the current directory")
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    log_dir = _env(work, args.trace == 1)
    try:
        return _measure(args, work, out_dir, log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: str, out_dir: str, log_dir: str | None) -> dict:
    from perfbench import batch, procs, trace, warehouse

    t0, ticks0 = time.perf_counter(), trace.cpu_ticks()
    from database_convertor_spark.session import get_spark

    spark = None
    try:
        spark = get_spark("perfbench")
        spark.range(1).collect()
        jvm_start_s = time.perf_counter() - t0
        rec = trace.Recorder(spark, args.workload, args.trace == 1)
        ctx = Ctx(args, spark, rec, work, ticks0)
        if args.workload == "catalog_batch":
            batch.run(ctx)
        else:
            warehouse.run(ctx)
        ctx.measure_end = ctx.measure_end or time.perf_counter()
        rss = trace.peak_rss_mb()
    finally:
        # the session, its JVM and the JVM's workers, on every path out
        procs.stop_all(spark)
    e2e = _e2e(ctx, jvm_start_s, rss)
    units = E2E_UNITS
    if args.trace == 1:
        metrics = _per_layer(ctx, jvm_start_s, log_dir, out_dir)
        units = per_layer_units()
        _overhead_note(ctx, e2e, out_dir)
    else:
        metrics = e2e
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-e2e.json"),
                  "w") as fh:
            json.dump(e2e, fh)
    ctx.log(f"{ctx.attempted} operations, {ctx.failed} failed, "
            f"{len(ctx.latencies)} timed, {len(ctx.rounds)} rounds")
    return {"correct": ctx.failed == 0, "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def _overhead_note(ctx, traced: dict, out_dir: str) -> None:
    """Tracing overhead: traced minus untraced end-to-end figures, when
    an untraced run of the same workload and seed left its numbers."""
    path = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-e2e.json")
    if not os.path.exists(path):
        ctx.log("no untraced run with this seed: tracing overhead not computed")
        return
    with open(path) as fh:
        plain = json.load(fh)
    over = {f"{k}_traced_minus_untraced": traced[k] - plain[k]
            for k in ("round_s", "setup_s")}
    ctx.log(f"tracing overhead: {over}")
    with open(os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-overhead.json"),
              "w") as fh:
        json.dump(over, fh)


def smoke() -> int:
    """Every workload at the tiny size, untraced then traced; checks
    the printed metric names and units against BENCHMARK.json."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in WORKLOADS:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w, "--seed", "1", "--seconds", "1",
                   "--trace", str(tr), "--smoke-size"]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            got = ({k: v["unit"] for k, v in res["metrics"].items()}
                   if res else {})
            ok = res is not None and res["correct"] and got == want[tr]
            bad += not ok
            print(f"{w} trace={tr}: {'ok' if ok else 'MISMATCH'}"
                  + ("" if res else f" (exit {out.returncode}) "
                     + out.stderr[-2000:]), flush=True)
            if res and got != want[tr]:
                print("  missing:", sorted(set(want[tr]) - set(got)),
                      "extra:", sorted(set(got) - set(want[tr])),
                      "unit:", sorted(k for k in got.keys() & want[tr].keys()
                                      if got[k] != want[tr][k]))
    return 1 if bad else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at a tiny size and check names")
    p.add_argument("--smoke-size", action="store_true",
                   help="use the tiny input sizes for this one run")
    args = p.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        p.error("--workload is required")
    # a terminated run still stops what it started (see procs.stop_all)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run_one(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(main())
