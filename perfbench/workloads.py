"""The benchmark workloads: html_crawl and pdf_docs.

Each workload generates its input from the seed, lays it out, and defines
one timed *pass* through the production entry point
(``ExtractionPipeline.run``) into an empty output table.  After every pass
the output table is read back with pyarrow and compared with the
generator's goldens (``gate``).  The traced ladder reuses the same input
through ``input_df`` (scan), ``operator`` (the ``operators`` front door
with an aggregate sink) and ``kernels`` (the ``functions`` layer, serial
and in-process).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions.html_extract import DEFAULT_MAX_HTML_BYTES, extract_html_doc
from ocr_spark.functions.layout import page_text
from ocr_spark.functions.pdf import pdf_glyphs
from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.pdf_ops import pdf_doc_records, pdf_to_glyphs
from ocr_spark.plans.pipeline import ExtractionPipeline
from ocr_spark.sources.icelite import IceliteTable

from perfbench import inputs
from perfbench.tracing import Tracer, jvm_pid, python_worker_peak_rss_mb

N_BUCKETS = 16


def write_parquet(path: str, table: pa.Table, target_bytes: int) -> None:
    """Flat parquet with row groups of about ``target_bytes`` raw bytes, so
    Spark's byte-range splits give every core rows to work on."""
    avg_row = max(1, table.nbytes // max(table.num_rows, 1))
    rows = max(16, target_bytes // avg_row)
    pq.write_table(table, path, compression="zstd", row_group_size=rows)


def read_output(table: IceliteTable, cols: list[str]) -> dict[str, list]:
    """The committed rows of ``table`` read straight from the head
    snapshot's data files (no Spark, so the check costs no Spark time)."""
    head = table.snapshot()
    if head is None or not head.files:
        return {c: [] for c in cols}
    paths = [os.path.join(table.root, p) for ps in head.files.values() for p in ps]
    t = pa.concat_tables(pq.read_table(p, columns=cols) for p in paths)
    return {c: t[c].to_pylist() for c in cols}


class Workload:
    name = ""
    key_col = ""
    payload_columns: set[str] = set()
    n_docs = 0

    def __init__(self, spark_cores: int):
        self.cores = spark_cores
        self.inputs: inputs.Inputs | None = None

    # -- set-up -------------------------------------------------------------
    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def layout(self, spark: SparkSession, work: str) -> None:
        raise NotImplementedError

    # -- the timed pass -------------------------------------------------------
    def run_pass(self, spark: SparkSession, out: IceliteTable, force: bool = False) -> dict:
        """Process the whole input into ``out``; returns the run's own
        counters ({"docs", "errors"})."""
        raise NotImplementedError

    # -- ladder ---------------------------------------------------------------
    def input_df(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def scan_sink(self, df: DataFrame) -> DataFrame:
        """Aggregate that reads every payload byte and runs no Python."""
        raise NotImplementedError

    def operator(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def kernels(self, tracer: Tracer) -> dict:
        """Serial in-process kernel time over the same documents."""
        raise NotImplementedError

    def payload_files(self) -> list[str]:
        """The input's parquet files (for the scan's on-disk bytes)."""
        return [self.path]

    def layout_glyphs(self, spark, df, work, step) -> DataFrame | None:
        """Glyph rows for the ladder's ``operators.layout_ops`` steps, or
        None when the workload has no glyph layout."""
        return None

    # -- the golden gate --------------------------------------------------------
    def row_ok(self, text, error, golden) -> bool:
        raise NotImplementedError

    def gate(self, out: IceliteTable) -> int:
        """Documents that are missing, duplicated, unexpected, or differ
        from the golden text or error code."""
        got = read_output(out, [self.key_col, "text", "error"])
        keys = got[self.key_col]
        counts = Counter(keys)
        golden = self.inputs.golden
        failed = sum(1 for k in golden if counts.get(k, 0) != 1)
        failed += sum(1 for k in counts if k not in golden)
        for k, text, err in zip(keys, got["text"], got["error"]):
            if counts[k] == 1 and k in golden and not self.row_ok(text, err, golden[k]):
                failed += 1
        return failed

    def counters_ok(self, stats: dict) -> bool:
        return (
            stats["docs"] == len(self.inputs.golden)
            and stats["errors"] == self.inputs.golden_errors
        )

    def operator_sink(self, df: DataFrame) -> DataFrame:
        """Aggregate over COMPUTED columns: a count-only sink lets Catalyst
        prune a projection UDF out of the plan entirely."""
        return df.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            F.sum(F.length("text")).alias("text_chars"),
        )

    def operator_ok(self, row) -> bool:
        return (
            row["docs"] == len(self.inputs.golden)
            and row["errors"] == self.inputs.golden_errors
            and row["text_chars"] == self.inputs.golden_text_chars
        )


class HtmlCrawl(Workload):
    """Common-Crawl-style pages in a 16-bucket icelite table through
    ``ExtractionPipeline`` into an empty table (every merge appends)."""

    name = "html_crawl"
    key_col = "url"
    payload_columns = {"html"}
    n_docs = 5000
    group_size = 8

    def generate(self, seed: int) -> None:
        self.inputs = inputs.html_pages(seed, self.n_docs)

    def layout(self, spark, work):
        flat = os.path.join(work, "pages.parquet")
        write_parquet(flat, self.inputs.table, 1 << 20)
        self.table = IceliteTable(os.path.join(work, "pages"), key_col="url", n_buckets=N_BUCKETS)
        self.table.append(spark.read.parquet(flat))
        os.remove(flat)

    def run_pass(self, spark, out, force=False):
        pipe = ExtractionPipeline(out, n_buckets=N_BUCKETS, group_size=self.group_size)
        return pipe.run(self.table, spark=spark, force=force)

    def input_df(self, spark):
        return self.table.read(spark)

    def payload_files(self):
        head = self.table.snapshot()
        return [os.path.join(self.table.root, p) for ps in head.files.values() for p in ps]

    def scan_sink(self, df):
        return df.agg(F.sum(F.length("html")).alias("payload"))

    def operator(self, df):
        return extract_pages(df)

    def row_ok(self, text, error, golden):
        golden_text, expect_error = golden
        return text == golden_text and (error is not None) == bool(expect_error)

    def kernels(self, tracer):
        docs = self.inputs.table.column("html").to_pylist()
        with tracer.span("functions.html_extract") as sp:
            for d in docs:
                extract_html_doc(d, DEFAULT_MAX_HTML_BYTES)
        busy = sp["end"] - sp["start"]
        return {"functions.html_extract.busy_s": busy, "busy_s": busy, "items": len(docs)}


class PdfDocs(Workload):
    """Generated PDFs (1.5-style xref streams included) as a flat parquet
    through ``ExtractionPipeline`` with ``pdf_doc_records`` keyed on
    doc_id; every bucket group re-scans the file with a bucket predicate."""

    name = "pdf_docs"
    key_col = "doc_id"
    payload_columns = {"pdf"}
    n_docs = 800
    group_size = 8

    def generate(self, seed):
        self.inputs = inputs.pdf_docs(seed, self.n_docs)

    def layout(self, spark, work):
        self.path = os.path.join(work, "pdf_docs.parquet")
        write_parquet(self.path, self.inputs.table, 1 << 18)

    def run_pass(self, spark, out, force=False):
        pipe = ExtractionPipeline(
            out,
            n_buckets=N_BUCKETS,
            group_size=self.group_size,
            key_col="doc_id",
            transform=pdf_doc_records,
        )
        return pipe.run(self.input_df(spark), force=force)

    def input_df(self, spark):
        return spark.read.parquet(self.path)

    def scan_sink(self, df):
        return df.agg(F.sum(F.length("pdf")).alias("payload"))

    def operator(self, df):
        return pdf_doc_records(df)

    def layout_glyphs(self, spark, df, work, step):
        """The PDFs' own glyphs, materialized by ``pdf_to_glyphs`` (error
        documents' sentinel rows dropped), so the layout steps time
        ``layout_ops`` alone."""
        path = os.path.join(work, "pdf_glyphs.parquet")
        glyphs = pdf_to_glyphs(df).filter(F.col("error").isNull()).drop("error")
        step("operators.pdf_to_glyphs", lambda: glyphs.write.parquet(path))
        return spark.read.parquet(path)

    def row_ok(self, text, error, golden):
        return text == golden[0] and error == golden[1]

    def kernels(self, tracer):
        pdf_busy = layout_busy = 0.0
        n_glyphs = 0
        with tracer.span("functions.pdf_and_layout"):
            for payload in self.inputs.table.column("pdf").to_pylist():
                t0 = time.perf_counter()
                rows, _err = pdf_glyphs(payload)
                pdf_busy += time.perf_counter() - t0
                n_glyphs += len(rows)
                # page slicing as pdf_doc_records does it, outside the timing
                pages = []
                start = 0
                for i in range(1, len(rows) + 1):
                    if i == len(rows) or rows[i][0] != rows[start][0]:
                        chunk = rows[start:i]
                        pages.append(
                            (
                                np.array([r[1] for r in chunk], dtype=object),
                                *(np.array([r[k] for r in chunk]) for k in (2, 3, 4, 5)),
                            )
                        )
                        start = i
                t0 = time.perf_counter()
                for page in pages:
                    page_text(*page)
                layout_busy += time.perf_counter() - t0
        return {
            "functions.pdf.busy_s": pdf_busy,
            "functions.pdf.glyphs": n_glyphs,
            "functions.layout.busy_s": layout_busy,
            "busy_s": pdf_busy + layout_busy,
            "items": n_glyphs,
        }


WORKLOADS = {w.name: w for w in (HtmlCrawl, PdfDocs)}


def fresh_table(root: str, key_col: str, factory=IceliteTable) -> IceliteTable:
    """An empty output table at ``root`` (whatever was there is removed)."""
    shutil.rmtree(root, ignore_errors=True)
    return factory(root, key_col, N_BUCKETS)


class Gate:
    """Accumulates the golden checks of every pass in the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check_rows(self, wl: Workload, out: IceliteTable, label: str) -> None:
        bad = wl.gate(out)
        self.attempted += len(wl.inputs.golden)
        self.failed += bad
        if bad:
            self.problems.append(f"{label}: {bad} documents differ from the goldens")

    def check(self, wl: Workload, out: IceliteTable, stats: dict, label: str) -> None:
        """Rows against the goldens, and the run's own docs/errors counters
        against the input and golden counts."""
        self.check_rows(wl, out, label)
        if not wl.counters_ok(stats):
            self.problems.append(
                f"{label}: counters {stats} != docs {len(wl.inputs.golden)} / "
                f"errors {wl.inputs.golden_errors}"
            )

    @property
    def correct(self) -> bool:
        return not self.problems


def one_pass(wl, spark, out_root, gate, rss, label, factory=IceliteTable, around=None):
    """One pass into a freshly emptied table (the reset is not timed), then
    its golden check and a worker-RSS sample.  ``around`` is an optional
    context manager entered around the timed section.  Returns
    (duration, out, stats)."""
    out = fresh_table(out_root, wl.key_col, factory)
    with around or contextlib.nullcontext():
        t0 = time.perf_counter()
        stats = wl.run_pass(spark, out)
        duration = time.perf_counter() - t0
    gate.check(wl, out, stats, label)
    rss.append(python_worker_peak_rss_mb(jvm_pid(spark)))
    return duration, out, stats
