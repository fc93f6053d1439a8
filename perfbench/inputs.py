"""Seeded benchmark inputs, made by calling the fixture generator directly.

Every workload draws its documents from ``gen_pages_doc`` or
``gen_pdf_doc`` with a ``random.Random`` derived from the run's seed, so
the same seed gives byte-identical inputs and goldens.  Documents are
generated in fixed-size chunks, each with its own RNG, so a seed's
documents do not depend on how many were asked for.  Generation runs in
this process: a worker pool would leave its resource-tracker process
behind after the run, and costs more to start than the few seconds it
saves.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa

from ocr_spark.fixtures import generator as gen

CHUNK_DOCS = 100


@dataclass
class Inputs:
    """One workload's input table plus its goldens.

    ``golden`` maps key -> (text, error) where ``error`` is the expected
    error code (PDF), a truthy marker (HTML: only nullness is checked) or
    None."""

    table: pa.Table
    golden: dict
    golden_errors: int
    golden_text_chars: int


def _pages_chunk(args: tuple[int, int, int]) -> list[dict]:
    seed, lo, hi = args
    rng = random.Random(f"perfbench-{seed}-pages-{lo}")
    hosts = gen._host_pool(random.Random(f"perfbench-{seed}-hosts"))
    return [gen.gen_pages_doc(rng, i, hosts) for i in range(lo, hi)]


def _pdf_chunk(args: tuple[int, int, int]) -> list[tuple]:
    seed, lo, hi = args
    rng = random.Random(f"perfbench-{seed}-pdf-{lo}")
    out = []
    for i in range(lo, hi):
        pdf, _glyphs, text_rows, err = gen.gen_pdf_doc(rng, i)
        # the pdf_doc_text golden: pages joined with \n in page order;
        # error documents carry empty text plus the planted taxonomy code
        text = "\n".join(t for _page, t in sorted(text_rows))
        out.append((i, pdf, text, err))
    return out


def _chunked(fn, seed: int, n: int) -> list:
    return [fn((seed, lo, min(lo + CHUNK_DOCS, n))) for lo in range(0, n, CHUNK_DOCS)]


def html_pages(seed: int, n: int) -> Inputs:
    docs = [d for chunk in _chunked(_pages_chunk, seed, n) for d in chunk]
    table = pa.table(
        {
            "url": [d["url"] for d in docs],
            "warc_ts": pa.array([d["warc_ts"] for d in docs], pa.timestamp("us", tz="UTC")),
            "html": pa.array([d["html"] for d in docs], pa.binary()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
        }
    )
    golden = {d["url"]: (d["_golden_text"], d["_expect_error"]) for d in docs}
    return Inputs(
        table=table,
        golden=golden,
        golden_errors=sum(1 for d in docs if d["_expect_error"]),
        golden_text_chars=sum(len(d["_golden_text"]) for d in docs),
    )


def pdf_docs(seed: int, n: int) -> Inputs:
    docs = [d for chunk in _chunked(_pdf_chunk, seed, n) for d in chunk]
    table = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "pdf": pa.array([d[1] for d in docs], pa.binary()),
        }
    )
    return Inputs(
        table=table,
        golden={d[0]: (d[2], d[3]) for d in docs},
        golden_errors=sum(1 for d in docs if d[3] is not None),
        golden_text_chars=sum(len(d[2]) for d in docs),
    )
