"""Benchmark entry point: one workload, one seed, one measurement window.

    python3 perfbench/run.py --workload extract_html --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its input from the seed
inside ``.perfbench/`` of the checkout, starts Spark on ``local[nproc]``
with 2 x nproc shuffle partitions, warms up, then runs the workload in a
closed loop (one client, each run starts when the previous one ends)
for ``--seconds`` seconds and checks every output.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones (medians over the runs in the
window); with ``--trace 1`` every second run is traced and the metrics
are the per-layer ones, read from Spark's status stores and from a
single-process pass over the same input. Lines before it describe the
host (git sha, nproc, pyspark version, hw_eff) and, with ``--trace 1``,
where the span file was written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from datetime import datetime, timezone
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

SETUP_BUILDS = 2  # input builds per run; setup_s takes their median

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_QUERY_METRICS = {"_s": ("s", "lower"), ".shuffle_mb": ("MB", "lower"),
                  ".spill_mb": ("MB", "lower"), ".task_s_max_over_median": ("ratio", "lower")}

PER_LAYER = {
    "transcripts.gen_s": ("s", "lower"),
    "transcripts.input_mb": ("MB", "lower"),
    "scan.read_s": ("s", "lower"),
    "scan.input_mb_read": ("MB", "lower"),
    "scan.passes": ("count", "lower"),
    "repartition.s": ("s", "lower"),
    "repartition.shuffle_write_mb": ("MB", "lower"),
    "repartition.task_s_max_over_median": ("ratio", "lower"),
    "udf.wall_s": ("s", "lower"),
    "udf.python_total_s": ("s", "lower"),
    "udf.python_boot_s": ("s", "lower"),
    "udf.python_init_s": ("s", "lower"),
    "udf.data_sent_mb": ("MB", "lower"),
    "udf.data_received_mb": ("MB", "lower"),
    "udf.glue_us_per_turn": ("us", "lower"),
    "dom.parse_us_per_doc": ("us", "lower"),
    "readability.us_per_doc": ("us", "lower"),
    "readability.self_us_per_doc": ("us", "lower"),
    "readability.p99_doc_ms": ("ms", "lower"),
    "readability.max_doc_ms": ("ms", "lower"),
    "pdf.us_per_doc": ("us", "lower"),
    "pdf.docs": ("count", "higher"),
    "textstats.us_per_turn": ("us", "lower"),
    "formulas.s": ("s", "lower"),
    "sink.s": ("s", "lower"),
    "pipeline.bucket_s_median": ("s", "lower"),
    "pipeline.bucket_s_max": ("s", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.bytes_written_mb": ("MB", "lower"),
    "pipeline.files_written": ("count", "lower"),
    "pipeline.write_amp": ("ratio", "lower"),
    "parse_failed_ratio": ("ratio", "lower"),
    "pipeline.parse_failed_ratio": ("ratio", "lower"),
    "plan.build_s": ("s", "lower"),
    "unattributed_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _per_layer_names() -> dict:
    from perfbench.workloads import ANALYTICS_QUERIES

    out = dict(PER_LAYER)
    for query in ANALYTICS_QUERIES:
        for suffix, spec in _QUERY_METRICS.items():
            out[f"q.{query}{suffix}"] = spec
    return out


def _git_sha() -> str:
    """HEAD of the checkout if it is a git work tree, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def _start_spark(work: str, nproc: int):
    from readability_scanner_spark.config import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the program's 8g default lets G1 grow the heap by up to
            # 400 MB per run at its own pace, which swings peak_rss_mb by a
            # quarter between seeds; at 2g the heap settles and no workload
            # runs slower (see CHANGES.md)
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from perfbench.proc import wait_for_children

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    left = wait_for_children()
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


def measure(workload, seconds: float, trace: bool, stats) -> dict:
    """The closed loop: runs until ``seconds`` have passed and at least
    three runs are done, so the median is of three or more. A workload
    whose timed run is a cold first pass (``cold``) runs once. With
    ``trace``, odd runs are traced and there are always three, so the
    traced run has an untraced one after it to be compared with."""
    from perfbench.proc import RssSampler, tree_cpu_s
    from perfbench.spans import Tracer

    tracer = Tracer(run_id=f"{workload.name}-{os.getpid()}")
    walls, cpus, traced_walls, ops = [], [], [], []
    attempted = failed = 0
    layers: dict = {}
    cold = getattr(workload, "cold", False)
    runs = (3, 3) if trace else ((1, 1) if cold else (3, None))  # (min, max)
    started = perf_counter()
    with RssSampler() as rss:
        rep = 0
        while True:
            traced = trace and rep % 2 == 1
            group = f"rep-{rep}"
            cpu0 = tree_cpu_s()
            with tracer.span(f"{workload.name}.run") as span:
                t0 = perf_counter()
                result = workload.run_once(rep, group, tracer)
                wall = perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            (traced_walls if traced else walls).append(wall)
            cpus.append(cpu)
            ops.append(result.ops)
            attempted += result.ops
            workload.ctx.spark.sparkContext.setJobGroup(f"{group}-check", "check")
            failed += workload.check(result)
            if traced:
                for st in stats.stages(group):
                    tracer.add(f"stage.{st.stage_id}", st.start, st.end,
                               parent=tracer.child_at(span, st.start))
                layers = workload.layers(stats, group, result)
                layers.update(_driver_split(tracer, span))
            rep += 1
            elapsed = perf_counter() - started
            if rep == runs[1] or (rep >= runs[0] and elapsed >= seconds):
                break
    checked, sample_failed = workload.final_check()
    return {
        "walls": walls,
        "traced_walls": traced_walls,
        "cpus": cpus,
        "ops": ops,
        "peak_rss_mb": rss.peak_mb,
        "attempted": attempted + checked,
        "failed": failed + sample_failed,
        "layers": layers,
        "tracer": tracer,
    }


def _driver_split(tracer, run) -> dict:
    """Driver time of one traced run: plan building (a layer of its own)
    and the time no stage covers inside the run and its actions (job
    scheduling, adaptive re-planning, ``_meta`` commits)."""
    from perfbench.spans import PLAN_SPAN

    children = [c for c in tracer.children(run) if not c.name.startswith("stage.")]
    plans = [c for c in children if c.name == PLAN_SPAN]
    return {
        "plan.build_s": sum(c.duration for c in plans),
        "unattributed_s": tracer.self_time(run)
        + sum(tracer.self_time(c) for c in children if c.name != PLAN_SPAN),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import bench  # the frozen harness; its hw probe is reused
        import readability_scanner_spark
        from perfbench import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    for module in (bench, readability_scanner_spark):  # not a copy found on PYTHONPATH
        if not os.path.abspath(module.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: {module.__name__} is not under {ROOT}", file=sys.stderr)
            return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temporary file of this run, Spark's included, stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    stamp = {
        "git_sha": _git_sha(),
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        **bench._hw_probe(nproc),
        "workload": args.workload,
        "seed": args.seed,
    }
    print(json.dumps({"stamp": stamp}), flush=True)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    t0 = perf_counter()
    spark = _start_spark(work, nproc)
    session_s = perf_counter() - t0
    try:
        from perfbench.sparkstats import SparkStats

        ctx = workloads.Context(
            spark=spark, nproc=nproc, seed=args.seed, work=work,
            expected=expected, started=datetime.now(timezone.utc),
        )
        workload = workloads.WORKLOADS[args.workload](ctx)
        t0 = perf_counter()
        workload.warm_up()
        warm_s = perf_counter() - t0
        builds = []
        for _ in range(SETUP_BUILDS):
            t0 = perf_counter()
            workload.build_input()
            builds.append(perf_counter() - t0)
        setup_s = session_s + warm_s + statistics.median(builds)
        run = measure(workload, args.seconds, bool(args.trace), SparkStats(spark))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    wall_s = statistics.median(run["walls"])
    if args.trace:
        metrics = _layer_metrics(workload, run, builds)
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        run["tracer"].dump(path, stamp=stamp, metrics=metrics)
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
        units = _per_layer_names()
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "ops_per_s": statistics.median(run["ops"]) / wall_s,
            "cpu_s": statistics.median(run["cpus"]),
            "peak_rss_mb": run["peak_rss_mb"],
        }
        units = END_TO_END
        print(json.dumps({"runs": len(run["walls"]), "walls_s": run["walls"],
                          "session_s": session_s, "builds_s": builds, "warm_up_s": warm_s}))
    result = {
        "correct": run["failed"] == 0,
        "attempted": int(run["attempted"]),
        "failed": int(run["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k][0]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_metrics(workload, run, builds) -> dict:
    names = _per_layer_names()
    layers = dict(run["layers"])
    metrics = {name: 0.0 for name in names}  # layers a workload does not run read 0
    metrics.update({k: v for k, v in layers.items() if k in names})
    if hasattr(workload, "turns"):
        metrics["transcripts.gen_s"] = statistics.median(builds)
        metrics["parse_failed_ratio"] = max(workload.parse_failed) / workload.turns
    traced = statistics.median(run["traced_walls"])
    metrics["trace.wall_s"] = traced
    metrics["trace.overhead_s"] = traced - statistics.median(run["walls"][1:])
    return metrics


if __name__ == "__main__":
    sys.exit(main())
