"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts one ``local[4]`` session, sets
up the workload's inputs from the seed, runs it closed-loop from one
client thread for the given seconds, checks every output, and prints a
human-readable record line followed by the result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (BENCHMARK.json lists both). Everything the run writes
stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (records and spans) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

import probe
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "portfolio_data_pipelines_spark"

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "batch_p50_s": "s", "batch_tail_s": "s", "write_amp": "ratio", "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "weather.parse_s": "s",
    "runner.store_s": "s", "runner.load_s": "s", "runner.models_s": "s",
    "runner.jobs_per_batch": "count",
    "plan.build_s": "s", "plan.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_s": "s", "exec.driver_gap_s": "s", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.cpu_util": "ratio", "exec.gc_s": "s",
    "exec.input_b": "B", "exec.shuffle_write_b": "B", "exec.shuffle_read_b": "B",
    "exec.spill_b": "B",
    "mat.rdds": "count", "mat.bytes_retained": "B", "mat.bytes_peak": "B",
    "delta.write_s": "s", "delta.merge_s": "s", "delta.micro_append_s": "s",
    "delta.optimize_s": "s",
    "delta.commits": "count", "delta.checkpoints": "count", "delta.files_added": "count",
    "delta.files_removed": "count", "delta.bytes_added": "B", "delta.log_bytes": "B",
    "delta.read_s": "s", "delta.skip_read_s": "s", "delta.changes_s": "s",
    "delta.files_per_read": "count",
    "feed.backfill_s": "s", "feed.empty_s": "s", "stream.mart_s": "s",
    "corpus.query_s": "s",
    "trace.overhead": "ratio",
}
SETUP_REPS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run creates inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data file under /tmp, from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # executors' Python workers (mapInPandas, the delta_feed source)
    # import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str):
    from portfolio_data_pipelines_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master="local[4]",
        extra_conf={
            "spark.ui.enabled": "false",
            # one shuffle partition per core of local[4], and a heap that
            # fits beside other jobs on a shared 4-core host; a fixed
            # young generation keeps the JVM's resident peak a function
            # of what the engine retains, not of GC pause tuning
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": "4g",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xmn256m -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {os.path.basename(HERE)}/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _isolate(work)
    try:
        return _run(args, run_id, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id, work, out_dir) -> int:
    t0 = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # the start probe's shuffle is the JVM's first Spark job: its
        # wall time is the JVM warm-up, counted in setup_s
        calib_start = probe.calibrate(spark)
        warmup_s = calib_start["spark_shuffle_s"]
        tracer = probe.Tracer(spark, args.workload, run_id, enabled=bool(args.trace))
        h = W.Harness(spark, tracer, args.seed, work)
        w = W.WORKLOADS[args.workload](h)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup(rep)
            reps.append(time.perf_counter() - t)
        measure = _measure_hourly if args.workload == "hourly_elt" else _measure_lakehouse
        result = measure(w, h, args)
        result["e2e"]["setup_s"] = session_s + warmup_s + statistics.median(reps)
        result["layers"]["session.start_s"] = session_s
        calib_end = probe.calibrate(spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        result["e2e"]["peak_rss_mb"] = probe.vm_hwm_mb() + probe.vm_hwm_mb(jvm_pid)
    finally:
        _stop(spark)

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "session_s": session_s, "warmup_s": warmup_s,
        "setup_reps_s": reps, "calibration": {"start": calib_start, "end": calib_end},
        **result["extra"], "e2e": result["e2e"], "layers": result["layers"],
        "attempted": h.attempted, "failed": h.failed,
        "error_rate": h.failed / max(1, h.attempted), "errors": h.errors[:20],
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    print("record: " + json.dumps(record, default=str))
    if args.trace:
        metrics = {k: {"value": float(result["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(result["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": h.failed == 0, "attempted": h.attempted,
                      "failed": h.failed, "metrics": metrics}))
    return 0


# --- measuring ------------------------------------------------------------


def _measure_lakehouse(w, h, args) -> dict:
    """Cold pass, then warm passes until the window closes. The
    workload's batch is a warm pass: one day-MERGE and four
    micro-appends delivered to fresh marts. Single micro-append commits
    (~0.4 s) were tried as batches and their run-to-run spread on a
    shared 4-core host was 25-29%; their latencies stay in the record.
    With tracing, warm passes alternate traced/untraced so the overhead
    is measured in the same run."""
    tr = h.tracer
    cold_wall, _ = w.run_pass("cold")
    cold_idx = _last_span(tr, "cold")
    warm = []  # (wall, micro-append latencies, traced, span index)
    deadline = time.perf_counter() + args.seconds
    while len(warm) < (2 if args.trace else 1) or time.perf_counter() < deadline:
        traced = bool(args.trace) and len(warm) % 2 == 0
        tr.enabled = traced
        label = f"warm{len(warm)}"
        wall, lats = w.run_pass(label)
        warm.append((wall, lats, traced, _last_span(tr, label)))
    tr.enabled = bool(args.trace)
    t0 = time.perf_counter()
    w.verify()
    verify_s = time.perf_counter() - t0
    untraced = [x for x in warm if not x[2]]
    lats = [x[0] for x in untraced]
    q, tail_v = W.tail(lats)
    e2e = {"cold_pass_s": cold_wall, "pass_s": statistics.median(lats),
           "batch_p50_s": statistics.median(lats), "batch_tail_s": tail_v}
    counts = W.delta_log_counts(w.last_table)
    e2e["write_amp"] = counts["write_amp"]
    extra = {"warm_passes_s": [x[0] for x in warm], "batch_tail_pct": q,
             "batch_samples": len(lats), "batch_s": lats,
             "micro_append_s": [lat for x in untraced for lat in x[1]], "verify_s": verify_s}
    layers = {}
    if args.trace:
        traced_units = [x[3] for x in warm if x[2]]
        layers = _layers(tr, traced_units, [cold_idx] + traced_units)
        layers["trace.overhead"] = (statistics.median(x[0] for x in warm if x[2])
                                    / statistics.median(x[0] for x in warm if not x[2]))
        layers["delta.files_per_read"] = statistics.median(w.files_per_read)
    layers.update({k: v for k, v in counts.items() if k.startswith("delta.")})
    return {"e2e": e2e, "layers": layers, "extra": extra}


def _measure_hourly(w, h, args) -> dict:
    """Warm-up deliveries (the first one creates the lake and is the
    cold figure), bronze-only deliveries up to the window's first
    commit, then deliveries until the window closes and the bronze
    table has written its first checkpoint, so the measured batches
    always hold the checkpoint commit. With tracing, deliveries
    alternate traced/untraced."""
    tr = h.tracer
    restore = _time_parse(tr) if args.trace else None
    try:
        cold, _, _ = w.deliver()
        for _ in range(W.HOURLY_WARMUP - 1):
            w.deliver()
        while (w.next < w.MAX_DELIVERIES
               and W.tip_version(w.table()) < W.HOURLY_WINDOW_START - 1):
            w.deliver(models=False)
        batches = []  # (latency, traced, span index, stage seconds, bronze version)
        deadline = time.perf_counter() + args.seconds
        n = 0
        while w.next < w.MAX_DELIVERIES and (
                not batches or time.perf_counter() < deadline
                or w.checkpoint_version() is None
                or (args.trace and _overhead_samples(batches, w.checkpoint_version()) < 2)):
            traced = bool(args.trace) and n % 2 == 0
            tr.enabled = traced
            lat, carried, stages = w.deliver()
            n += 1
            if lat is not None and carried:
                batches.append((lat, traced, _last_span(tr, f"delivery{w.next - 1}"), stages,
                                W.tip_version(w.table())))
    finally:
        if restore:
            restore()
    tr.enabled = bool(args.trace)
    for b in batches:
        # a traced delivery that carried rows must have parsed them
        # under the timed parser; otherwise weather.parse_s reads 0
        if b[1] and not any(tr.spans[i].name == "weather.parse" for i in tr.descendants(b[2])):
            h.fail(f"{tr.spans[b[2]].name}: no weather.parse span; "
                   "runner no longer calls weather_payload_to_df")
    lats = [b[0] for b in batches if not b[1]] or [0.0]  # every delivery failed: see `failed`
    q, tail_v = W.tail(lats)
    # mean without the fastest and slowest delivery: one delivery slowed
    # by a burst of host contention moved the plain mean by 22%
    ordered = sorted(lats)
    core = ordered[1:-1] if len(ordered) > 2 else ordered
    e2e = {"cold_pass_s": cold if cold is not None else 0.0, "pass_s": statistics.fmean(core),
           "batch_p50_s": statistics.median(lats), "batch_tail_s": tail_v}
    # the log up to the first checkpoint: the same commits in every run,
    # however many deliveries the window held
    counts = W.delta_log_counts(w.table(), upto=w.checkpoint_version())
    e2e["write_amp"] = counts["write_amp"]
    extra = {"deliveries": w.next, "batch_tail_pct": q, "batch_samples": len(lats),
             "batch_s": lats}
    layers = {}
    if args.trace:
        traced_b = [b for b in batches if b[1]]
        units = [b[2] for b in traced_b]
        layers = _layers(tr, units, units)
        for stage in ("store", "load", "models"):
            layers[f"runner.{stage}_s"] = statistics.median(b[3].get(stage, 0.0) for b in traced_b)
        layers["runner.jobs_per_batch"] = layers["exec.jobs"]
        # the checkpoint commit's delivery is slower by itself
        plain = [b for b in batches if b[4] != w.checkpoint_version()]
        layers["trace.overhead"] = (statistics.median(b[0] for b in plain if b[1])
                                    / statistics.median(b[0] for b in plain if not b[1]))
    layers.update({k: v for k, v in counts.items() if k.startswith("delta.")})
    return {"e2e": e2e, "layers": layers, "extra": extra}


def _overhead_samples(batches: list, checkpoint: int | None) -> int:
    """Fewest traced or untraced batches outside the checkpoint commit."""
    plain = [b[1] for b in batches if b[4] != checkpoint]
    return min(plain.count(True), plain.count(False))


def _time_parse(tr):
    """Time the payload parse inside ``transform_and_store`` as its own
    span (traced runs only). Returns the function that undoes it."""
    from portfolio_data_pipelines_spark import runner

    parse = runner.weather_payload_to_df

    def timed_parse(spark, payload):
        with tr.span("weather.parse"):
            return parse(spark, payload)

    runner.weather_payload_to_df = timed_parse

    def restore():
        runner.weather_payload_to_df = parse

    return restore


def _last_span(tr, name: str) -> int:
    return max(i for i, sp in enumerate(tr.spans) if sp.name == name)


def _layers(tr, units: list[int], mat_units: list[int]) -> dict:
    """Per-layer figures: the median over ``units`` (traced passes or
    deliveries) of each unit's sums; materialization peaks over
    ``mat_units``."""
    per_span_jobs = tr.attribute(tr.jobs())
    rows = []
    for u in units:
        idx = tr.descendants(u)
        spans = [tr.spans[i] for i in idx]
        jobs = [j for i in idx for j in per_span_jobs.get(i, [])]
        wall = tr.spans[u].end - tr.spans[u].start
        row = probe.exec_summary(jobs, wall)
        names = {i: tr.spans[i].name for i in idx}
        built = {n[:-4] for n in names.values() if n.endswith(":run")}
        build_idx = [i for i in idx if names[i].endswith(":build") and names[i][:-6] in built]
        row["plan.build_s"] = sum(tr.spans[i].end - tr.spans[i].start for i in build_idx)
        row["plan.build_jobs"] = sum(len(per_span_jobs.get(i, [])) for i in build_idx)
        for key in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"):
            row[key] = sum(sp.attrs.get(key, 0.0) for sp in spans)
        row["catalyst.optimizer_s"] = row.pop("catalyst.optimization_s")
        row["corpus.query_s"] = sum(
            sp.attrs.get("op_s", 0.0) for sp in spans if sp.name.startswith("corpus."))
        row["weather.parse_s"] = sum(sp.end - sp.start for sp in spans if sp.name == "weather.parse")
        for op in ("delta.write", "delta.merge", "delta.micro_append", "delta.optimize",
                   "delta.read", "delta.skip_read", "delta.changes",
                   "feed.backfill", "feed.empty", "stream.mart"):
            row[f"{op}_s"] = sum(sp.attrs.get("op_s", 0.0) for sp in spans if sp.name == op)
        sampled = [sp for sp in spans if "mat.rdds" in sp.attrs]
        if sampled:
            row["mat.rdds"] = sampled[-1].attrs["mat.rdds"]
            row["mat.bytes_retained"] = sampled[-1].attrs["mat.bytes"]
        rows.append(row)
    keys = {k for r in rows for k in r}
    out = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
    out["mat.bytes_peak"] = max(
        (tr.spans[i].attrs.get("mat.bytes", 0) for u in mat_units for i in tr.descendants(u)),
        default=0)
    return out


if __name__ == "__main__":
    sys.exit(main())
