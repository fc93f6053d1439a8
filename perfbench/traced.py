"""The traced run: alternating untraced/traced passes, then the ladder.

1. For ``--seconds``, passes alternate: an untraced pass (plain table, no
   listener) and a traced one, with spans around ``plans`` (the pass) and
   ``sources`` (every ``IceliteTable.merge``, through ``TimedTable``) and
   an uncompressed, non-rolling event log attached for that pass only.
   Alternating keeps the JVM's warm-up drift out of the tracing overhead.
2. The ladder runs one job group per step, on the workload's own input:
   scan only, operator only (aggregate sink over computed columns), the
   ``layout_ops`` steps where the workload has glyphs, merge of the pass's
   output into an empty and then a populated table, and the pass again
   with ``force=True`` into the populated table.
3. The event logs give Python-worker time and bytes, Python-node counts,
   shuffle bytes and executor CPU per job group.
4. The ``functions`` kernels are timed serially, in-process, on the same
   documents.

The sink guard: scan and write steps must plan no Python node, and the
operator steps at least one — a sink that lets Catalyst prune the UDF
would time a scan instead of the operator.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time

from pyspark.sql import functions as F

from ocr_spark.operators.layout_ops import glyphs_to_page_text, pages_to_doc_text
from ocr_spark.sources.icelite import IceliteTable

from perfbench.tracing import (
    TimedTable,
    column_bytes,
    event_log,
    median,
    read_event_log,
    step_metrics,
)
from perfbench.workloads import N_BUCKETS, fresh_table, one_pass

# the workload's front-door operator, under its name in perfbench/README.md
OPERATOR_NAMES = {
    "html_crawl": "operators.extract_pages.s",
    "pdf_docs": "operators.pdf_doc_records.s",
}


def traced_run(wl, spark, args, work, tracer, gate, rss):
    """Returns (per-layer metrics for the result line, details for the
    trace file, including the untraced pass times)."""
    log_root = os.path.join(work, "eventlog")
    out_root = os.path.join(work, "out")
    untraced, passes = _alternating_passes(wl, spark, args.seconds, out_root, log_root, tracer, gate, rss)
    with event_log(spark, os.path.join(log_root, "ladder")):
        steps = _ladder(wl, spark, work, out_root, tracer, gate)
    ev = {}
    for log_dir in sorted(glob.glob(os.path.join(log_root, "*"))):
        ev.update(step_metrics(read_event_log(log_dir)))
    kernels = wl.kernels(tracer)
    metrics, detail = _metrics(wl, passes, untraced, steps, ev, kernels, tracer, gate)
    detail["untraced_pass_s"] = untraced
    return metrics, detail


def _alternating_passes(wl, spark, seconds, out_root, log_root, tracer, gate, rss):
    sc = spark.sparkContext
    mx = spark._jvm.java.lang.management.ManagementFactory

    def jvm_gc_s() -> float:
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1e3

    def timed_table(root, key_col, n_buckets):
        return TimedTable(root, key_col, n_buckets, tracer)

    @contextlib.contextmanager
    def traced(group, rec):
        with event_log(spark, os.path.join(log_root, group)):
            gc0 = jvm_gc_s()
            with tracer.span("plans.run", job_group=group) as rec["span"]:
                yield
            rec["gc_s"] = jvm_gc_s() - gc0

    untraced: list[float] = []
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        i = len(passes)
        sc.setJobGroup(f"untraced-{i}", f"untraced-{i}")
        untraced.append(one_pass(wl, spark, out_root, gate, rss, f"untraced pass {i}")[0])

        group = f"pass-{i}"
        sc.setJobGroup(group, group)
        rec: dict = {}
        run_s, out, _stats = one_pass(
            wl, spark, out_root, gate, rss, f"traced {group}", timed_table, traced(group, rec)
        )
        merges = [m["end"] - m["start"] for m in tracer.children(rec["span"]["id"], "sources.merge")]
        passes.append(
            {
                "job_group": group,
                "run_s": run_s,
                "group_s": merges,
                "overhead_s": run_s - sum(merges),
                "gc_s": rec["gc_s"],
                "commits": len(out.snapshots()),
                "files_written": sum(len(ps) for ps in out.snapshot().files.values()),
            }
        )
    return untraced, passes


def _ladder(wl, spark, work, out_root, tracer, gate) -> dict[str, float]:
    sc = spark.sparkContext
    steps: dict[str, float] = {}

    def step(name, fn):
        sc.setJobGroup(name, name)
        with tracer.span(name) as s:
            result = fn()
        steps[name] = s["end"] - s["start"]
        return result

    df = wl.input_df(spark)
    step("sources.scan", lambda: wl.scan_sink(df).collect())
    row = step("operators.transform", lambda: wl.operator_sink(wl.operator(df)).collect()[0])
    if not wl.operator_ok(row):
        gate.problems.append(f"ladder operator step: {row.asDict()} disagrees with the goldens")
    glyphs = wl.layout_glyphs(spark, df, work, step)
    if glyphs is not None:
        # the glyph shuffle path is new to this JVM: warm it once, untimed,
        # so the page-text and chain steps compare like with like
        sc.setJobGroup("layout-warm-up", "layout-warm-up")
        glyphs_to_page_text(glyphs).agg(F.sum(F.length("text"))).collect()
        step(
            "operators.glyphs_to_page_text",
            lambda: glyphs_to_page_text(glyphs)
            .agg(F.count(F.lit(1)).alias("pages"), F.sum(F.length("text")).alias("chars"))
            .collect(),
        )
        row = step(
            "operators.layout_chain",
            lambda: pages_to_doc_text(glyphs_to_page_text(glyphs))
            .agg(F.count(F.lit(1)).alias("docs"), F.sum(F.length("text")).alias("chars"))
            .collect()[0],
        )
        want = (len(wl.inputs.golden) - wl.inputs.golden_errors, wl.inputs.golden_text_chars)
        if (row["docs"], row["chars"]) != want:
            gate.problems.append(f"ladder layout chain: {row.asDict()} != docs/chars {want}")

    # the last traced pass's committed output is the pre-materialized input
    # of the write steps, and the populated table of the upsert step
    src = IceliteTable(out_root, key_col=wl.key_col, n_buckets=N_BUCKETS)
    materialized = src.read(spark)
    fresh = fresh_table(os.path.join(work, "ladder"), wl.key_col)
    step("sources.write_fresh", lambda: fresh.merge(materialized))
    step("sources.write_upsert", lambda: fresh.merge(materialized))
    gate.check_rows(wl, fresh, "ladder write steps")
    stats = step("plans.upsert", lambda: wl.run_pass(spark, src, force=True))
    gate.check(wl, src, stats, "ladder upsert pass")
    return steps


def _metrics(wl, passes, untraced, steps, ev, kernels, tracer, gate):
    def evs(group: str) -> dict:
        return ev.get(group, {})

    guard = {
        "sources.scan": (0, 0),
        "sources.write_fresh": (0, 0),
        "sources.write_upsert": (0, 0),
        "operators.transform": (1, None),
        "operators.pdf_to_glyphs": (1, None),
        "operators.glyphs_to_page_text": (1, None),
        "operators.layout_chain": (1, None),
    }
    selftest = {}
    for name, (lo, hi) in guard.items():
        if name not in steps:
            continue
        n = evs(name).get("python_evals", 0)
        selftest[name] = n
        if n < lo or (hi is not None and n > hi):
            gate.problems.append(
                f"sink guard: ladder step {name} planned {n} Python nodes, "
                f"expected {lo}" + ("" if hi == lo else " or more")
            )

    per_pass = [evs(p["job_group"]) for p in passes]
    run_s = [p["run_s"] for p in passes]
    group_s = [g for p in passes for g in p["group_s"]]
    traced_docs_per_s = wl.n_docs / median(run_s)
    untraced_docs_per_s = wl.n_docs / median(untraced)
    op = evs("operators.transform")
    transform_s = steps["operators.transform"]
    metrics = {
        "session.build_s": (tracer.durations("session.build")[0], "s"),
        "fixtures.generate_s": (tracer.durations("fixtures.generate")[0], "s"),
        "sources.layout_s": (tracer.durations("sources.layout")[0], "s"),
        "sources.scan_s": (steps["sources.scan"], "s"),
        "sources.scan_bytes": (column_bytes(wl.payload_files(), wl.payload_columns), "B"),
        "sources.write_fresh_s": (steps["sources.write_fresh"], "s"),
        "sources.write_upsert_s": (steps["sources.write_upsert"], "s"),
        "sources.shuffle_bytes_written": (
            median([e.get("shuffle_bytes_written", 0) for e in per_pass]), "B"),
        "sources.files_written": (median([p["files_written"] for p in passes]), "count"),
        "sources.commits": (median([p["commits"] for p in passes]), "count"),
        "functions.busy_s": (kernels["busy_s"], "s"),
        "functions.items": (kernels["items"], "count"),
        "operators.transform_s": (transform_s, "s"),
        "operators.channel_s": (
            transform_s - steps["sources.scan"] - kernels["busy_s"] / wl.cores, "s"),
        "operators.py_run_s": (op.get("py_run_s", 0.0), "s"),
        "operators.py_bytes_sent": (op.get("py_bytes_sent", 0.0), "B"),
        "operators.py_bytes_returned": (op.get("py_bytes_returned", 0.0), "B"),
        "operators.python_evals": (median([e.get("python_evals", 0) for e in per_pass]), "count"),
        "operators.python_evals_upsert": (evs("plans.upsert").get("python_evals", 0), "count"),
        "plans.run_s": (median(run_s), "s"),
        "plans.group_s_median": (median(group_s), "s"),
        "plans.group_s_max": (max(group_s), "s"),
        "plans.overhead_s": (median([p["overhead_s"] for p in passes]), "s"),
        "plans.upsert_s": (steps["plans.upsert"], "s"),
        "spark.gc_s": (median([p["gc_s"] for p in passes]), "s"),
        "spark.executor_cpu_s": (
            median([e.get("executor_cpu_s", 0.0) for e in per_pass]), "s"),
        "tracing.docs_per_s_traced": (traced_docs_per_s, "1/s"),
        "tracing.docs_per_s_untraced": (untraced_docs_per_s, "1/s"),
    }
    named = {k: v for k, (v, _u) in metrics.items()}
    named.update({k: v for k, v in kernels.items() if k.startswith("functions.")})
    named[OPERATOR_NAMES[wl.name]] = transform_s
    for name in ("operators.pdf_to_glyphs", "operators.glyphs_to_page_text"):
        if name in steps:
            named[name + ".s"] = steps[name]
    if "operators.layout_chain" in steps:
        named["operators.pages_to_doc_text.s"] = (
            steps["operators.layout_chain"] - steps["operators.glyphs_to_page_text"]
        )
    detail = {
        "per_layer": named,
        "tracing_overhead_share": 1.0 - traced_docs_per_s / untraced_docs_per_s,
        "traced_passes": passes,
        "ladder_s": steps,
        "event_log_by_job_group": ev,
        "sink_guard_python_nodes": selftest,
    }
    return metrics, detail
