"""Seeded benchmark inputs, generated once per seed and cached.

Pages: ``sources.pages.build_pages_pdf`` rows are pure functions of
their id, so a seed only has to pick an id window. Windows start on a
multiple of ``ID_PERIOD`` (the least common multiple of the generator's
row-kind moduli), so every seed sees the same mix of PDF, HTML, mega,
encrypted, damaged and re-crawled rows, with different bytes (only the
sub-kind rotation inside the 0.4% font and damaged-PDF slices differs).

Documents: a vendored copy of the sf0.1 ``documents`` test table.
The seed only permutes which rows land in which file; the curate
outputs do not depend on it.

Each input is cached under ``.work/inputs/`` keyed by everything its
bytes depend on, beside the digests the benchmark checks outputs
against. The expected extraction digests come from direct
``functions.udfs._extract_one`` calls on the generated rows after
keep-newest dedup, computed in the generating worker processes.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import pathlib
import random
import shutil
import sys

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent
DOCUMENTS = HERE / "data" / "documents.parquet"
DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"

PAGE_IDS = 5400          # ids per window; plus 2% re-crawled duplicates
ID_PERIOD = 5400         # lcm(3, 9, 40, 50, 90, 100, 200, 270, 360)
PAGE_FILES = 8           # parquet files per pages table
DOCUMENT_FILES = 4       # parquet files per documents layout
KEEP_INPUTS = 32         # cached inputs kept per kind; older ones go


def _schema():
    import pyarrow as pa

    return pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])


def window_start(seed: int) -> int:
    # bounded so warc_ts (37 s per id) stays far inside datetime's range
    return (seed % 10_007) * ID_PERIOD


def text_digest(text: str | None) -> str:
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


def _build_part(args: tuple[int, int, str]) -> list[tuple]:
    """Worker: write one parquet file of ids [lo, hi) and return
    (url, warc_ts, text_sha256, parse_status, n_pages) per row."""
    lo, hi, path = args
    sys.path.insert(0, str(REPO))
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_to_text_spark.functions.udfs import _extract_one
    from pdf_to_text_spark.sources.pages import build_pages_pdf

    df = build_pages_pdf(list(range(lo, hi)))
    pq.write_table(pa.Table.from_pandas(df, schema=_schema(), preserve_index=False), path)
    out = []
    for url, ts, html, text in zip(df["url"], df["warc_ts"], df["html"], df["text"]):
        # the content-type rule extract_batches applies per row
        is_pdf = url.endswith(".pdf") and html is not None and html[:5] == b"%PDF-"
        txt, n_pages, status, _ = _extract_one(html, text, is_pdf)
        out.append((url, ts.isoformat(), text_digest(txt), status, n_pages))
    return out


def table_rows(table_dir: pathlib.Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in table_dir.glob("*.parquet"))


def _evict(parent: pathlib.Path, prefix: str) -> None:
    old = sorted(parent.glob(prefix + "*"), key=lambda p: p.stat().st_mtime)
    for p in old[:-KEEP_INPUTS]:
        shutil.rmtree(p, ignore_errors=True)


def pages_input(work: pathlib.Path, seed: int, processes: int) -> tuple[pathlib.Path, dict]:
    """→ (pages table dir, {url: [text_sha256, parse_status, n_pages]})."""
    from pdf_to_text_spark.sources.pages import PAGES_GEN

    root = work / "inputs"
    name = f"pages-g{PAGES_GEN}-s{seed}-n{PAGE_IDS}"
    out = root / name
    if not (out / "expected.json").exists():
        tmp = root / (name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "table").mkdir(parents=True)
        lo = window_start(seed)
        cuts = [lo + PAGE_IDS * k // PAGE_FILES for k in range(PAGE_FILES + 1)]
        jobs = [(a, b, str(tmp / "table" / f"part-{k:03d}.parquet"))
                for k, (a, b) in enumerate(zip(cuts, cuts[1:]))]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(processes) as pool:
            rows = [r for part in pool.map(_build_part, jobs) for r in part]
        newest: dict[str, tuple] = {}
        for url, ts, digest, status, n_pages in rows:
            if url not in newest or ts > newest[url][0]:
                newest[url] = (ts, digest, status, n_pages)
        expected = {u: list(v[1:]) for u, v in newest.items()}
        (tmp / "expected.json").write_text(json.dumps(expected, sort_keys=True))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
        _evict(root, f"pages-g{PAGES_GEN}-")
    out.touch()
    return out / "table", json.loads((out / "expected.json").read_text())


def documents_input(work: pathlib.Path, seed: int) -> pathlib.Path:
    """The vendored documents table, rows permuted by `seed` over
    DOCUMENT_FILES files."""
    import pyarrow.parquet as pq

    digest = hashlib.sha256(DOCUMENTS.read_bytes()).hexdigest()
    if digest != DOCUMENTS_SHA256:
        raise RuntimeError(f"{DOCUMENTS} changed: sha256 {digest}")
    root = work / "inputs"
    out = root / f"documents-s{seed}"
    if not (out / "_DONE").exists():
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        table = pq.read_table(DOCUMENTS)
        order = list(range(table.num_rows))
        random.Random(seed).shuffle(order)
        table = table.take(order)
        n = table.num_rows
        for k in range(DOCUMENT_FILES):
            lo, hi = n * k // DOCUMENT_FILES, n * (k + 1) // DOCUMENT_FILES
            pq.write_table(table.slice(lo, hi - lo), out / f"part-{k:03d}.parquet")
        (out / "_DONE").touch()
        _evict(root, "documents-s")
    out.touch()
    return out
