"""Run one benchmark workload and print its metrics as one JSON line.

    python3 cdcbench/run.py --workload trickle_old_value --seed 1 --seconds 10 --trace 0

Run from the repository root or anywhere else: the engine package is taken
from the directory above this one. A run generates its inputs from --seed,
sets up SETUP_REPEATS times (session start, table create, pre-load) and
reports the median, runs one unmeasured warm-up step, then the workload's
fixed number of measured steps (--seconds only caps them), and finally
checks every table and lookup against the sequential oracle. The last
stdout line is {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1 (which also
attaches Spark status-store counters to the spans and writes them under
.work/traces/).
The line before it is a "detail" object with sample counts, set-up parts,
the end-to-end figures of the same run and the checks' first problems.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SETUP_REPEATS = 2


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    """What a workload needs from the run: seed, paths, Spark, spans."""

    def __init__(self, args, run_dir: str, tracer):
        self.seed = args.seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def start_session(self) -> None:
        """(Re)start the Spark session; the first call launches the JVM."""
        from ticdc_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.run_dir, "tmp")
        self.spark = build_session(
            app_name="cdcbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                # the driver heap stays the session's own setting; these
                # only keep the JVM's temporary files inside the run dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the traced run reads every job and stage back at the end
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def memory_mb(self) -> dict:
        """Peak resident set of the driver's Python and JVM processes, and
        the JVM's peak use of each heap pool."""
        from pyspark import SparkContext

        out = {"python_hwm": vm_hwm_mb("self"), "jvm_hwm": vm_hwm_mb(SparkContext._gateway.proc.pid)}
        for p in SparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if p.getType().toString() == "Heap memory":
                out[f"heap_peak {p.getName()}"] = p.getPeakUsage().getUsed() / 2**20
        return out


def end_to_end(wl, setups: list[float]) -> dict:
    steps = wl.steps
    events = sum(s["events"] for s in steps)
    feed = sum(s["feed_s"] for s in steps)
    consume = sum(s["consume_s"] for s in steps)
    return {
        "setup_s": med(setups),
        "events_per_s": events / feed if feed else 0.0,
        "delivered_events_per_s": events / (feed + consume) if feed else 0.0,
        "commit_latency_p50_s": med([x for s in steps for x in s["commit"]]),
        "delivery_latency_p50_s": med([x for s in steps for x in s["deliver"]]),
        "lookup_latency_p50_s": med(measured_lookups(wl)),
    }


def measured_lookups(wl) -> list[float]:
    return [lk["wall"] for lk in wl.lookups if lk["measured"] and lk["rows"] is not None]


def per_layer(wl, tracer, measure: dict, cores: int, starts: list[float], mem: dict) -> dict:
    """Layer metrics from the measured phase's spans and Spark counters. A
    layer the workload does not run reports 0."""
    from spans import totals

    out = {}
    events = sum(s["events"] for s in wl.steps)
    for layer in ("changefeed", "multi"):
        calls = tracer.named(f"{layer}.run_available", measure)
        batches = tracer.named(f"{layer}.batch", measure)
        t, n, ev = totals(calls), len(batches), events if layer == wl.feed_layer else 0
        out[f"{layer}.batch_s"] = med([dur(b) for b in batches])
        out[f"{layer}.jobs_per_batch"] = t["jobs"] / n if n else 0.0
        out[f"{layer}.stages_per_batch"] = t["stages"] / n if n else 0.0
        out[f"{layer}.executor_busy_frac"] = t["executor_run_s"] / (t["wall_s"] * cores) if t["wall_s"] else 0.0
        out[f"{layer}.shuffle_write_bytes_per_event"] = t["shuffle_write_bytes"] / ev if ev else 0.0
        out[f"{layer}.failed_tasks"] = t["failed_tasks"]
        if layer == "changefeed":
            out["changefeed.shuffle_read_bytes_per_event"] = t["shuffle_read_bytes"] / ev if ev else 0.0
            for stage in ("part_stats", "apply", "tail", "lineage", "mq", "compact"):
                out[f"changefeed.{stage}_s"] = med([b["attrs"]["timings"].get(stage, 0.0) for b in batches])

    calls = tracer.named("consumer.run_once", measure)
    t = totals(calls)
    mq_batches = sum(s["mq_batches"] for s in wl.steps)
    out["consumer.run_once_s"] = med([dur(c) for c in calls])
    out["consumer.jobs_per_batch"] = t["jobs"] / mq_batches if mq_batches else 0.0
    out["consumer.events_per_s"] = events / t["wall_s"] if t["wall_s"] else 0.0
    out["consumer.executor_busy_frac"] = t["executor_run_s"] / (t["wall_s"] * cores) if t["wall_s"] else 0.0

    tables = wl.upstream_tables()
    pre = [p for s in wl.steps for p in s["preimage"]]
    files_total = sum(p["files_total"] for p in pre)
    out["lake.lookup_jobs"] = med([lk["span"]["spark"]["jobs"] for lk in wl.lookups if lk["measured"]])
    out["lake.max_files_per_bucket"] = max(tb.max_files_per_bucket() for tb in tables)
    out["lake.manifest_bytes"] = sum(os.path.getsize(wl.manifest_path(tb)) for tb in tables)
    out["lake.preimage_prune_frac"] = (
        1 - sum(p["files_read"] for p in pre) / files_total if files_total else 0.0
    )
    out["lake.data_bytes_per_live_row"] = (
        sum(wl.data_bytes(tb) for tb in tables) / wl.live_rows if wl.live_rows else 0.0
    )
    mq_bytes, mq_messages = wl.mq_totals()
    out["mq.bytes_per_event"] = mq_bytes / events if events else 0.0
    out["mq.messages_per_event"] = mq_messages / events if events else 0.0
    out["session.start_s"] = med(starts)
    out["session.peak_rss_mb"] = mem["python_hwm"] + mem["jvm_hwm"]
    return out


def run(args, spec: dict, run_dir: str) -> tuple[dict, dict]:
    from spans import Tracer
    from workloads import WORKLOADS, Oracle

    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    ctx = Ctx(args, run_dir, tracer)
    wl = WORKLOADS[args.workload](ctx, args.size)
    try:
        t0 = time.time()
        wl.generate()
        gen_s = time.time() - t0

        setups, starts = [], []
        for rep in range(SETUP_REPEATS):
            with tracer.span("setup", rep=rep) as s:
                with tracer.span("session.start") as ss:
                    ctx.start_session()
                wl.setup(rep)
            setups.append(dur(s))
            starts.append(dur(ss))
        with tracer.span("warmup") as warm:
            wl.step()

        wl.measuring = True
        with tracer.span("measure") as measure:
            # a fixed number of steps, so every run measures the same
            # chunks; --seconds only caps a run on a machine far slower
            # than usual
            while not wl.exhausted() and time.time() - measure["start"] < args.seconds:
                wl.step()
        wl.measuring = False
        mem = ctx.memory_mb()

        with tracer.span("check") as chk:
            wl.check(Oracle(os.path.join(WORK, "cache")))
        e2e = end_to_end(wl, setups)
        detail = {
            "workload": args.workload, "seed": args.seed, "size": args.size, "cores": ctx.cores,
            "steps": len(wl.steps),
            "samples": {
                "commit_latency": sum(len(s["commit"]) for s in wl.steps),
                "delivery_latency": sum(len(s["deliver"]) for s in wl.steps),
                "lookup_latency": len(measured_lookups(wl)),
            },
            "commit_latency_s": [x for s in wl.steps for x in s["commit"]],
            "lookup_latency_s": measured_lookups(wl),
            "setup_s_each": setups, "session_start_s_each": starts,
            "generate_s": gen_s, "warmup_s": dur(warm), "measure_s": dur(measure),
            "check_s": dur(chk), "memory_mb": mem, "end_to_end": e2e,
            "problems": wl.problems[:5],
        }
        if args.trace:
            t0 = time.time()
            tracer.attach_spark_counters(ctx.spark)
            path = os.path.join(WORK, "traces", f"{tracer.run_id}.jsonl")
            tracer.write(path)
            detail["trace_file"] = os.path.relpath(path, ROOT)
            detail["trace_harvest_s"] = time.time() - t0
            metrics = per_layer(wl, tracer, measure, ctx.cores, starts, mem)
        else:
            metrics = e2e
    finally:
        ctx.stop()
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # workload names and metric units
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, only proves every metric prints")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ticdc_spark", "__init__.py")):
        print(f"cdcbench: no ticdc_spark package in {ROOT}; nothing to measure", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # every temporary file (Python, pyspark's gateway handshake, the JVM and
    # its workers) stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        detail, result = run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
