"""Front-door benchmark for ocr_spark (see perfbench/README.md).

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run builds a ``local[<cores>]`` session,
generates the workload's input from ``--seed``, lays it out, warms up, then
times passes for ``--seconds`` and checks every pass against the goldens.
The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``; with ``--trace 1``, per-layer metrics from traced passes and
the layer ladder (spans and details go to .perfbench_out/).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

WORKLOAD_NAMES = ("html_crawl", "pdf_docs")
WARMUP_PASSES = 3
DRIVER_MEMORY = "3g"  # the production 16g default is sized for a cluster driver


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_spark(work: str, cores: int):
    from ocr_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return build_session("perfbench", cores=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (``pyspark.daemon`` and its workers) have
    ended.  The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants, wait_ended

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()
        wait_ended(children)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_passes(wl, spark, out_root, seconds, gate, rss):
    """Passes until ``seconds`` have elapsed (at least one); returns the
    timed pass durations."""
    from perfbench.workloads import one_pass

    durations = []
    deadline = time.perf_counter() + seconds
    while not durations or time.perf_counter() < deadline:
        durations.append(one_pass(wl, spark, out_root, gate, rss, f"pass {len(durations)}")[0])
    return durations


def run(args, root: str, work: str) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Gate, one_pass

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](cores)
    tracer = Tracer()  # set-up spans; the untraced passes record none
    gate = Gate()
    spark = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session.build"):
            spark = build_spark(work, cores)
        with tracer.span("fixtures.generate"):
            wl.generate(args.seed)
        with tracer.span("sources.layout"):
            wl.layout(spark, work)
        out_root = os.path.join(work, "out")
        rss: list[float] = []
        with tracer.span("bench.warmup"):
            for i in range(WARMUP_PASSES):
                one_pass(wl, spark, out_root, gate, rss, f"warm-up {i}")
        setup_s = time.perf_counter() - t_setup

        summary = {"workload": wl.name, "seed": args.seed, "cores": cores, "docs": wl.n_docs}
        if args.trace:
            from perfbench.traced import traced_run

            metrics, detail = traced_run(wl, spark, args, work, tracer, gate, rss)
            summary.update(detail)
            durations = detail["untraced_pass_s"]
        else:
            durations = timed_passes(wl, spark, out_root, args.seconds, gate, rss)
            summary["pass_s"] = durations
        docs_per_s = wl.n_docs / statistics.median(durations)
        if not args.trace:
            metrics = {
                "docs_per_s": (docs_per_s, "1/s"),
                "setup_s": (setup_s, "s"),
                "py_worker_peak_rss_mb": (max(rss), "MB"),
            }
    finally:
        stop_jvm(spark)

    summary.update(
        docs_per_s=docs_per_s,
        setup_s=setup_s,
        py_worker_peak_rss_mb=max(rss),
        failed_share=gate.failed / gate.attempted,
        problems=gate.problems,
    )
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        summary["spans"] = tracer.spans
        summary["self_time_s"] = tracer.self_time_by_layer()
        with open(path, "w") as f:
            json.dump(summary, f, indent=1, default=str)
        print(f"perfbench: trace written to {os.path.relpath(path, root)}")
    for p in gate.problems:
        print(f"perfbench: FAILED CHECK {p}", file=sys.stderr)
    print(
        f"perfbench: {wl.name} seed={args.seed} docs={wl.n_docs} "
        f"passes={len(durations)} docs_per_s={docs_per_s:.1f} setup_s={setup_s:.2f} "
        f"failed_share={gate.failed / gate.attempted:.6f} ({gate.failed}/{gate.attempted})"
    )
    return {
        "correct": gate.correct,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ocr_spark", "__init__.py")):
        print(
            "perfbench: ocr_spark/ not found — run from the repository root",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in the
    # checkout: shuffle/spill dirs, temp files, the workers' import path
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # a SIGTERM unwinds through the same clean-up as an error: the JVM and
    # its Python workers are stopped and waited for, the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p) != here]
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
