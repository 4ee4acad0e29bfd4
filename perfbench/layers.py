"""Single-thread direct calls into the kernel and UDF layers.

Each layer is timed from outside through its public functions, on the
same deduplicated rows the Spark workloads extract:

* ``kernels.pdf``: ``extract_pdf_text`` per document (through
  ``udfs._extract_one``), then its stages one by one: ``PDFDocument`` +
  ``pages()`` (open), ``page_extraction_context`` (context) and
  ``page_content`` (content). Content-stream interpretation is the
  remainder of the whole call.
* ``kernels.html``: ``extract_html_text`` per document, then
  ``segment_blocks`` and ``classify_blocks``.
* ``functions.udfs``: ``extract_batches`` over pandas batches of the
  size Spark hands it, against the summed direct ``_extract_one`` time.
"""

from __future__ import annotations

import pathlib
from time import perf_counter

# The staged PDF parts repeat what extract_pdf_text does before it
# interprets content streams, so they may not exceed the whole call by
# more than this share; otherwise the split is not a split of that call.
PARTS_TOLERANCE = 0.10


def _rows(table_dir: pathlib.Path) -> list[tuple]:
    """(url, html, text, is_pdf) of the newest crawl of each url."""
    import pyarrow.parquet as pq

    t = pq.read_table(table_dir, columns=["url", "warc_ts", "html", "text"]).to_pydict()
    newest: dict[str, tuple] = {}
    for url, ts, html, text in zip(t["url"], t["warc_ts"], t["html"], t["text"]):
        if url not in newest or ts > newest[url][0]:
            is_pdf = url.endswith(".pdf") and html is not None and html[:5] == b"%PDF-"
            newest[url] = (ts, url, html, text, is_pdf)
    return [v[1:] for v in newest.values()]


def _p99(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.99 * len(xs)))] if xs else 0.0


def _pdf_parts(data: bytes) -> list[float]:
    """Seconds spent in [open, context, content] for one document; a
    stage that raises ends the document there, as it does in the kernel."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument

    parts, stage = [0.0, 0.0, 0.0], 0
    t = perf_counter()
    try:
        doc = PDFDocument(data)
        pages = doc.pages()
        now = perf_counter()
        parts[0], t = now - t, now
        for p in pages:
            stage = 1
            doc.page_extraction_context(p)
            now = perf_counter()
            parts[1], t = parts[1] + now - t, now
            stage = 2
            doc.page_content(p)
            now = perf_counter()
            parts[2], t = parts[2] + now - t, now
    except Exception:  # the kernel turns these into a parse status
        parts[stage] += perf_counter() - t
    return parts


def kernel_pass(table_dir: pathlib.Path, batch_rows: int) -> dict:
    """→ kernels.* and functions.udfs.* metrics, the direct single-thread
    rate ``direct_docs_per_s``, and ``parts_ok`` (PARTS_TOLERANCE).

    Batch by batch, extract_batches runs first, then each row's direct
    call and its staged parts, so every comparison is between timings
    taken seconds apart and drift on a shared host mostly cancels."""
    import pandas as pd

    from pdf_to_text_spark.functions.udfs import _extract_one, extract_batches
    from pdf_to_text_spark.kernels.html import classify_blocks, segment_blocks

    rows = _rows(table_dir)
    frame = pd.DataFrame(rows, columns=["url", "html", "text", "is_pdf"])
    frame["warc_ts"] = pd.Timestamp("2024-01-01")
    frame["lang"] = "en"
    pdf_us, html_us = [], []
    batch_s = direct_s = opened = ctx = content = segment = classify = 0.0
    for lo in range(0, len(rows), batch_rows):
        t0 = perf_counter()
        for _ in extract_batches(iter([frame.iloc[lo : lo + batch_rows]])):
            pass
        batch_s += perf_counter() - t0
        for url, html, text, is_pdf in rows[lo : lo + batch_rows]:
            t0 = perf_counter()
            _extract_one(html, text, is_pdf)
            dt = perf_counter() - t0
            direct_s += dt
            if html is None:
                continue
            if is_pdf:
                pdf_us.append(dt * 1e6)
                o, c, s = _pdf_parts(html)
                opened, ctx, content = opened + o, ctx + c, content + s
            else:
                html_us.append(dt * 1e6)
                t0 = perf_counter()
                blocks = segment_blocks(html.decode("utf-8", errors="replace"))
                t1 = perf_counter()
                classify_blocks(blocks)
                segment += t1 - t0
                classify += perf_counter() - t1

    n_pdf, n_html = max(len(pdf_us), 1), max(len(html_us), 1)
    pdf_total = sum(pdf_us)
    parts_us = (opened + ctx + content) * 1e6
    return {
        "kernels.pdf.us_per_doc": pdf_total / n_pdf,
        "kernels.pdf.p99_us": _p99(pdf_us),
        "kernels.pdf.open_us_per_doc": opened * 1e6 / n_pdf,
        "kernels.pdf.context_us_per_doc": ctx * 1e6 / n_pdf,
        "kernels.pdf.content_us_per_doc": content * 1e6 / n_pdf,
        "kernels.pdf.interpret_us_per_doc": (pdf_total - parts_us) / n_pdf,
        "kernels.html.us_per_doc": sum(html_us) / n_html,
        "kernels.html.segment_us_per_doc": segment * 1e6 / n_html,
        "kernels.html.classify_us_per_doc": classify * 1e6 / n_html,
        "functions.udfs.batch_overhead_share": (batch_s - direct_s) / batch_s,
        "direct_docs_per_s": len(rows) / direct_s,
        "parts_ok": parts_us <= pdf_total * (1 + PARTS_TOLERANCE),
    }
