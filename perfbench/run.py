#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 \
        --seconds 5 --trace 0

Run from the root of a repository checkout. One process, one
`local[N]` session (N = min(4, cores)), a closed loop: each iteration
starts after the previous one ends, until `--seconds` have passed.
Inputs are generated from `--seed` under `.perfbench_work/` and removed
at exit.

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics: that run wraps the engine's layer functions in
spans (one Spark job group each), runs iterations untraced, traced,
traced, untraced so the tracing overhead is measured in the same process,
reads Spark's status stores after the loop and writes the spans to
`.perfbench_out/`. The last stdout line is the JSON result; the lines
before it are a readable summary.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
MAX_CORES = 4
HEAP = "1g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap resizing


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--write-pins",
        action="store_true",
        help="pipeline_daily, default seed: record the output checksums "
        "in pinned.json instead of checking them",
    )
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def configure_environment(work: str) -> dict[str, str]:
    """Keep every file the run writes under `work` and pin the session
    size; returns the extra Spark confs for the session."""
    for sub in ("tmp", "local", "stream", "warehouse-sql"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["LDP_STREAM_SCRATCH"] = os.path.join(work, "stream")
    os.environ["LDP_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse-sql"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{HEAP}",
    }


def start_session(cores: int, conf: dict[str, str]):
    """Set up the session SETUP_REPEATS times (the first launches the
    JVM); each sample is get_spark + ensure_engine_confs + one fixed
    warm-up job."""
    from legendary_data_pipeline_spark.session import ensure_engine_confs, get_spark

    samples = []
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          extra_conf=conf)
        t1 = time.perf_counter()
        ensure_engine_confs(spark)
        t2 = time.perf_counter()
        spark.range(0, 200_000, 1, cores).selectExpr("sum(id * 2)").collect()
        t3 = time.perf_counter()
        samples.append({"total": t3 - t0, "get_spark": t1 - t0,
                        "ensure_engine_confs": t2 - t1})
        spark.sparkContext.setLogLevel("ERROR")
    return spark, samples


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are ten or fewer samples."""
    s = sorted(values)
    return s[-1] if len(s) <= 10 else s[len(s) - 11]


def run(args: argparse.Namespace, work: str, spec: dict) -> dict:
    import procstats
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"one of {sorted(workloads.WORKLOADS)}")
    conf = configure_environment(work)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    phases = {"imports": time.perf_counter() - T_START}
    t = time.perf_counter()
    spark, setup = start_session(cores, conf)
    phases["setup"] = time.perf_counter() - t
    try:
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        listener = None
        if args.trace:
            listener = spans.BatchListener()
            spark.streams.addListener(listener)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t = time.perf_counter()
        sizes = wl.prepare()
        phases["inputs"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_ops = wl.warmup()
        phases["warmup"] = time.perf_counter() - t
        if args.write_pins:
            return write_pins(wl)
        if args.trace:
            # one more untimed iteration: the traced/untraced comparison
            # starts past the steepest part of the warm-up
            extra = wl.iteration()
            wl.check(extra)
            warm_ops += extra
            wl.install_wrappers()
        iters = []
        loop_start = time.perf_counter()
        with procstats.PeakRss() as rss:
            while True:
                # untraced, traced, traced, untraced: the warm-up drift
                # between iterations cancels in the overhead estimate
                traced = bool(args.trace) and len(iters) % 4 in (1, 2)
                tracer.enabled = traced
                tracer.iteration = len(iters)
                n_batches = len(listener.batches) if listener else 0
                c0, t0 = procstats.tree_cpu_s(), time.perf_counter()
                with tracer.span("iteration"):
                    ops = wl.iteration()
                t1, c1 = time.perf_counter(), procstats.tree_cpu_s()
                tracer.enabled = False
                wl.check(ops)
                if listener:
                    spans.drain_listener_bus(spark)
                iters.append({
                    "wall": t1 - t0, "cpu": c1 - c0, "ops": ops, "traced": traced,
                    "batches": listener.batches[n_batches:] if listener else [],
                })
                elapsed = time.perf_counter() - loop_start
                if elapsed >= args.seconds and (not args.trace or len(iters) % 4 == 0):
                    break
        phases["loop"] = time.perf_counter() - loop_start
        all_ops = warm_ops + [op for it in iters for op in it["ops"]]
        failed = [op for op in all_ops if not op.ok]
        steps = [op.seconds for it in iters for op in it["ops"]]
        summary = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "inputs": sizes, "iterations": len(iters),
            "fail_ratio": len(failed) / len(all_ops),
            "step_tail_s": tail(steps), "step_samples": len(steps),
            "first_run_s": getattr(wl, "first_run_s", None),
            "failures": [f"{op.name}: {op.error}" for op in failed][:10],
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "setup_samples_s": [{k: round(v, 2) for k, v in x.items()} for x in setup],
            "warmup_ops_s": {op.name: round(op.seconds, 2) for op in warm_ops},
            "iteration_ops_s": [{op.name: round(op.seconds, 2) for op in it["ops"]}
                                for it in iters],
        }
        if args.trace:
            metrics = per_layer(spark, tracer, iters, setup, cores, summary)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"spans-{args.workload}-seed{args.seed}.json"),
                {"summary": summary},
            )
        else:
            metrics = {
                "setup_s": statistics.median(s["total"] for s in setup),
                "wall_s": statistics.median(it["wall"] for it in iters),
                "cpu_s": statistics.median(it["cpu"] for it in iters),
                "peak_rss_mb": rss.peak_mb,
                "step_p50_s": statistics.median(steps),
            }
        for key, value in summary.items():
            print(f"{key}: {value}")
        return {
            "correct": not failed,
            "attempted": len(all_ops),
            "failed": len(failed),
            "metrics": format_metrics(
                spec["per_layer" if args.trace else "end_to_end"], metrics),
        }
    finally:
        stop_session(spark)


def format_metrics(wanted: list[dict], values: dict) -> dict:
    """Every metric BENCHMARK.json names for this mode, with its unit;
    a metric the run did not produce is an error."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted}


def write_pins(wl) -> dict:
    import workloads

    if not isinstance(wl, workloads.PipelineDaily) or wl.seed != workloads.DEFAULT_SEED:
        raise SystemExit("--write-pins applies to pipeline_daily at the default seed")
    with open(workloads.PINS_PATH, "w", encoding="utf-8") as fh:
        json.dump({"seed": wl.seed, "scale": workloads.PIPELINE_SCALE,
                   "pipeline_daily": wl.baseline}, fh, indent=2, sort_keys=True)
        fh.write("\n")
    return {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}


def per_layer(spark, tracer, iters, setup, cores, summary) -> dict:
    """Per-layer metrics: the median over traced iterations of each
    iteration's value."""
    import checks
    import spans
    import workloads

    spans.drain_listener_bus(spark)
    reader = spans.StatusReader(spark)
    kids = tracer.children()
    by_id = {s.id: s for s in tracer.spans}
    group_jobs = {s.id: set(reader.jobs_for_group(s.group)) for s in tracer.spans}

    def jobs_under(span_ids) -> set[int]:
        out: set[int] = set()
        for sid in span_ids:
            for sub in tracer.subtree(sid, kids):
                out |= group_jobs[sub]
        return out

    def outermost(spans_, prefix: str) -> list:
        """Spans named `prefix...` with no ancestor of the same prefix."""
        out = []
        for s in spans_:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p is not None and not by_id[p].name.startswith(prefix):
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    per_iter = []
    for k, it in enumerate(iters):
        if not it["traced"]:
            continue
        mine = [s for s in tracer.spans if s.iteration == k]
        root = next(s for s in mine if s.name == "iteration")
        m: dict[str, float] = {}

        def layer(prefix: str, name: str) -> list:
            found = outermost(mine, prefix)
            m[f"{name}_s"] = sum(s.seconds for s in found)
            return found

        for job, _ in checks.CHAIN:
            key = "cli." + job.replace("-", "_")
            found = layer(f"cli.{job}", key)
            m[f"{key}.spark_jobs"] = len(jobs_under([s.id for s in found]))
        writers = ("sources.runlog", "sources.write_feed", "operators.upsert.")
        outside = jobs_under([s.id for s in outermost(mine, "cli.")]) - jobs_under(
            [s.id for s in mine if s.name.startswith(writers)])
        m["cli.outside_writer_exec_s"] = reader.totals(sorted(outside)).executor_run_s
        found = layer("sources.runlog", "sources.runlog")
        m["sources.runlog.spark_jobs"] = len(jobs_under([s.id for s in found]))
        layer("sources.read_csv_with_aliases", "sources.read_csv_with_aliases")
        layer("sources.write_feed", "sources.write_feed")
        found = layer("plans.jobs.", "plans.jobs.build")
        m["plans.jobs.spark_jobs"] = len(jobs_under([s.id for s in found]))
        found = layer("operators.upsert.", "operators.upsert.write")
        up = reader.totals(sorted(jobs_under([s.id for s in found])))
        m["operators.upsert.spark_jobs"] = up.jobs
        m["operators.upsert.shuffle_mb"] = up.shuffle_write_mb
        m["operators.upsert.output_mb"] = up.output_mb
        for phase in ("build", "exec"):
            found = [s for s in mine if s.name.startswith("queries.")
                     and s.name.endswith(f".{phase}")]
            m[f"queries.{phase}_s"] = sum(s.seconds for s in found)
            m[f"queries.{phase}.spark_jobs"] = len(jobs_under([s.id for s in found]))
        for name in workloads.QUERY_BASKET:
            layer_name = f"{workloads.layer_of(name)}.{name}"
            m[f"{layer_name}_s"] = sum(
                s.seconds for s in mine if s.name.startswith(f"{layer_name}."))
        b = it["batches"]
        m["streaming.batches"] = len(b)
        for key in ("add_batch_s", "wal_commit_s", "query_planning_s",
                    "state_commit_s"):
            m[f"streaming.{key}"] = sum(x[key] for x in b)
        m["streaming.state_rows"] = sum(x["state_rows"] for x in b)
        trig = [x["trigger_s"] for x in b]
        m["streaming.microbatch_p50_s"] = statistics.median(trig) if trig else 0.0
        m["streaming.microbatch_tail_s"] = tail(trig) if trig else 0.0
        it_jobs = jobs_under([root.id])
        tot = reader.totals(sorted(it_jobs))
        m.update({
            "spark.executor_run_s": tot.executor_run_s,
            "spark.executor_cpu_s": tot.executor_cpu_s,
            "spark.gc_s": tot.gc_s,
            "spark.input_mb": tot.input_mb,
            "spark.shuffle_read_mb": tot.shuffle_read_mb,
            "spark.shuffle_write_mb": tot.shuffle_write_mb,
            "spark.spill_mb": tot.spill_mb,
            "spark.jobs": tot.jobs,
            "spark.tasks": tot.tasks,
            "spark.failed_tasks": tot.failed_tasks,
            "spark.useful_task_ratio":
                (tot.tasks - tot.failed_tasks - tot.killed_tasks) / tot.tasks
                if tot.tasks else 1.0,
            "spark.slot_idle_s": it["wall"] * cores - tot.executor_run_s,
            "iteration.wall_s": it["wall"],
            "iteration.cpu_s": it["cpu"],
        })
        per_iter.append(m)

    out = {key: statistics.median(m[key] for m in per_iter) for key in per_iter[0]}
    traced = [it["wall"] for it in iters if it["traced"]]
    plain = [it["wall"] for it in iters if not it["traced"]]
    out["trace.overhead_s"] = statistics.mean(traced) - statistics.mean(plain)
    out["session.get_spark_s"] = statistics.median(s["get_spark"] for s in setup)
    out["session.ensure_engine_confs_s"] = statistics.median(
        s["ensure_engine_confs"] for s in setup)
    out["cli.first_run_s"] = summary["first_run_s"] or 0.0
    out["step_tail_s"] = summary["step_tail_s"]
    out["step_samples"] = summary["step_samples"]
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "legendary_data_pipeline_spark")):
        print("perfbench: the engine package legendary_data_pipeline_spark/ is "
              "not next to perfbench/; run from a repository checkout",
              file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
