"""The extraction pipeline: pages → extracted text + metrics.

Spark-first restatement of the reference's /upload dataflow
(src/main.ts:133-263): scan → validity dispatch → dedup-by-url →
salted repartition → Arrow-batched extraction kernel → metrics rollup.
Everything before and after the one mapInPandas stage is built-in
Catalyst expressions (pushdown/pruning-friendly).
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import N_BUCKETS
from ..functions.udfs import EXTRACT_SCHEMA, content_type_col, extract_batches
from ..plans.layout import salted_repartition, with_bucket

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]


def dedup_latest_by_url(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (Common-Crawl inputs repeat urls).

    row_number over (url ORDER BY warc_ts DESC) == 1 — SURVEY.md §2.1.
    At scale this is a single hash-shuffle on url; AQE handles stragglers.
    This is the shuffle-bearing strategy; run_extraction's default "auto"
    path replaces it with dup_url_stats + a broadcast filter whenever the
    duplicate-url set is broadcastable (see run_extraction docstring).
    """
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# Broadcast ceiling for the prefilter dedup strategy: the duplicated-url
# relation is collected to the driver as an Arrow table and re-broadcast
# when it has at most this many rows. Driver memory at the cap: the
# collected (url, _max_ts, _n, _tie_free) columns cost the url bytes plus
# ~20 B per row in Arrow buffers (~100 MB for crawl-length urls), and
# createDataFrame hands the JVM one more copy of (url, _max_ts) — no
# per-row Python objects. Crawl dup rates run ~2%, so the cap covers
# ~50M-doc corpora; beyond it run_extraction falls back to the window
# strategy (which still shuffles only extracted kilobyte rows, never
# payloads).
PREFILTER_MAX_DUP_URLS = 1_000_000


def dup_url_stats(pages: DataFrame) -> DataFrame:
    """Per-duplicated-url stats: (url, _max_ts, _n, _tie_free).

    Built from ONLY (url, warc_ts) — parquet column pruning makes this a
    tiny-column scan and ONE keyed aggregation with map-side partials
    (the shuffle carries per-url partial rows, never payloads). Measured
    0.4 s warm at the sandbox's 48k-doc bench scale, core-count-
    independent (pure stage latency); at real scale it amortizes into
    the scan. Rows come back only for urls with more than one crawl.
    _max_ts is the newest warc_ts (F.max skips NULLs, so a timestamp-
    less crawl only wins when every crawl of the url is timestamp-less —
    matching the window strategy's desc-nulls-last). _tie_free is true
    when every crawl has a distinct timestamp (countDistinct skips
    NULLs; at most one NULL keeps it tie-free) — conservative: a
    repeated ts anywhere routes the url set to the window fallback even
    when the repeat is not at the max."""
    n_null = F.sum(F.when(F.col("warc_ts").isNull(), 1).otherwise(0))
    agg = (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .agg(
            F.max("warc_ts").alias("_max_ts"),
            F.count(F.lit(1)).alias("_n"),
            (
                F.countDistinct("warc_ts") + F.least(n_null, F.lit(1))
                == F.count(F.lit(1))
            ).alias("_tie_free"),
        )
    )
    return agg.where(F.col("_n") > 1).select("url", "_max_ts", "_n", "_tie_free")


def _dedup_prefilter(pages: DataFrame, dup) -> DataFrame:
    """Drop superseded crawls via a broadcast anti-filter — zero payload
    shuffle. `dup` is the collected dup_url_stats result (a pyarrow Table,
    size-capped by the caller); every row must be _tie_free (no exact
    (url, warc_ts) collisions — those need the window).

    The table goes back to Spark as Arrow, so the broadcast side is a
    LocalTableScan (no job, no Python worker) and each _max_ts keeps the
    exact instant collected: a Python datetime would pass through the
    driver's local zone, where a fall-back DST hour is ambiguous and the
    eqNullSafe below would then drop every crawl of the url."""
    spark = pages.sparkSession
    dup = spark.createDataFrame(dup.select(["url", "_max_ts"]))
    return (
        pages.join(F.broadcast(dup), "url", "left_outer")
        .where(F.col("_max_ts").isNull() | F.col("warc_ts").eqNullSafe(F.col("_max_ts")))
        .drop("_max_ts")
    )


def run_extraction(
    pages: DataFrame,
    *,
    num_partitions: int | None = None,
    dedup: bool = True,
    dedup_strategy: str = "auto",
    shuffle_payloads: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """pages → extracted (url, warc_ts, lang, content_type, extracted_text,
    n_pages, n_chars, parse_status, parse_failed, bucket, partition_id).

    Scale-critical ordering: NEVER shuffle raw payloads. The kernel maps
    directly over the size-bounded scan splits (maxPartitionBytes already
    caps task input, which is what actually balances megabyte-PDF skew at
    the scan).

    dedup_strategy (keep-newest-crawl-per-url semantics, SURVEY §2.1):
      * "prefilter" — dup_url_stats (a tiny-column scan + map-combined
        agg, the ONLY shuffle in the job and it carries (url, ts, count)
        partials) finds the duplicated urls; superseded crawls are then
        dropped BEFORE the kernel by a broadcast filter. Payloads and
        extracted text never cross a shuffle, and duplicated urls are no
        longer redundantly extracted. Requires the dup-url set to fit the
        broadcast cap (PREFILTER_MAX_DUP_URLS) and no exact
        (url, warc_ts) collisions — raises ValueError otherwise.
      * "window" — row_number over (url ORDER BY warc_ts DESC) AFTER
        extraction: one hash-shuffle of the derived rows (~100-1000×
        smaller than payloads, the kilobytes-not-megabytes trade) plus
        ~2% redundant kernel CPU on the dup urls. No driver job, no
        broadcast cap, handles exact-ts collisions — the unconditional
        fallback.
      * "auto" (default) — runs the dup_url_stats job eagerly (metrics-
        sized collect, same class as checkpoint commit metadata): zero
        dups → no dedup plan at all; broadcastable and collision-free →
        prefilter; else window. The decision is logged in the plan shape
        (tests/test_plan_quality.py pins that no Exchange carries
        payload or extracted-text columns on the prefilter path).
        SCALE CAVEAT (r6 review): the stats job's "tiny-column scan"
        relies on column pruning reaching the source. Over parquet that
        is free; over a source that computes rows (warc_to_page_rows'
        binaryFile + record walk, pages_df's generator) pruning cannot
        pass the mapInPandas and the eager job EXECUTES THE FULL SOURCE
        PLAN once before extraction runs it again. For WARC-scale
        ingest, either land records to parquet first (the recommended
        crawl pattern — sources/warc.py docstring) or pass
        dedup_strategy="window", which folds dedup into the single pass.

    `shuffle_payloads=True` restores the pre-shuffle layout (bucket +
    salted repartition before the kernel) for inputs that arrive so
    skewed that scan splits can't balance them (e.g. one giant file of
    mega-PDFs with tiny row groups).

    `n_buckets` overrides the bucket-column modulus (default
    config.N_BUCKETS) — callers that partition work by a custom bucket
    count (run_resumable_extraction) must pass it here too, or the
    output/metrics `bucket` column would silently disagree with their
    wave filtering (r6 review).
    """
    if dedup_strategy not in ("auto", "prefilter", "window"):
        raise ValueError(f"unknown dedup_strategy {dedup_strategy!r}")
    if num_partitions is not None and not shuffle_payloads:
        # same guard run_resumable_extraction has had since r3: the value
        # is consumed only by the shuffle_payloads layout, and a silently
        # dead tuning knob misleads benchmarks and callers (r6 review —
        # bench.py itself was passing it to no effect)
        raise ValueError(
            "run_extraction: num_partitions only applies with "
            "shuffle_payloads=True — the default layout maps the kernel "
            "over scan splits and the value would be silently ignored"
        )
    nb = N_BUCKETS if n_buckets is None else n_buckets
    df = pages.select(*PAGES_COLS)

    post_window = False
    if dedup and dedup_strategy != "window":
        import pyarrow.compute as pc

        # cap+1 so overflow is detectable without counting the full set
        dup = dup_url_stats(df).limit(PREFILTER_MAX_DUP_URLS + 1).toArrow()
        broadcastable = dup.num_rows <= PREFILTER_MAX_DUP_URLS
        # ties need the window; so does a duplicated NULL url (join keys
        # never match NULL, so the filter could not drop its extra rows)
        tie_free = dup["url"].null_count == 0 and bool(
            pc.all(dup["_tie_free"], skip_nulls=False, min_count=0).as_py()
        )
        if broadcastable and tie_free:
            if dup.num_rows:
                df = _dedup_prefilter(df, dup)
            # else: no duplicated urls at all — dedup is a no-op
        elif dedup_strategy == "prefilter":
            # when the cap overflowed, tie_free was computed over the
            # truncated limit(cap+1) sample — don't report it as a fact
            # about the whole corpus (ADVICE r4)
            tie_msg = (
                f"tie_free={tie_free} (over a truncated sample)"
                if not broadcastable else f"tie_free={tie_free}"
            )
            raise ValueError(
                "dedup_strategy='prefilter' needs a broadcastable, "
                f"collision-free dup-url set (got {dup.num_rows} dup urls, "
                f"{tie_msg}); use 'window' or 'auto'"
            )
        else:
            post_window = True

    if shuffle_payloads:
        df = with_bucket(df, n_buckets=nb)
        df = salted_repartition(df, num_partitions or 64).select(*PAGES_COLS)
    extracted = df.mapInPandas(extract_batches, schema=EXTRACT_SCHEMA)
    extracted = extracted.withColumn("partition_id", F.spark_partition_id())
    if dedup and (dedup_strategy == "window" or post_window):
        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
        extracted = (
            extracted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    # bucket is recomputed (cheap, deterministic) rather than shipped
    # through the Python worker.
    return with_bucket(extracted, n_buckets=nb)


def metrics_rollup(extracted: DataFrame) -> DataFrame:
    """Per-bucket extraction metrics (north_star: pages, chars, failures).

    Partial aggregation happens map-side (built-in hash agg), so the
    shuffle carries one row per (partition, bucket).
    """
    return extracted.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").alias("pages"),
        F.sum("n_chars").alias("chars"),
        F.sum("parse_failed").alias("parse_failures"),
        F.sum(F.when(F.col("parse_status") == "passthrough", 1).otherwise(0)).alias(
            "passthrough_docs"
        ),
        F.sum(F.when(F.col("parse_status") == "empty", 1).otherwise(0)).alias("empty_docs"),
        F.countDistinct("partition_id").alias("n_tasks"),
    )


_ROUNDTRIP_NAV = "".join(f'<a href="/s/{i}">section link {i}</a> | ' for i in range(8))


def _roundtrip_wrap_one(text: str | None) -> bytes:
    """THE single definition of the round-trip boilerplate wrap, shared by
    wrap_documents_as_pages and the fused html_roundtrip_extract so the
    two paths can never drift byte-wise. Escapes markup chars (the kernel
    decodes entities, so the round-trip inverts); a raw '<' in text would
    otherwise open a bogus tag the extractor cannot recover
    byte-identically, and a NULL text would render as the literal
    'None'."""
    return (
        "<!DOCTYPE html><html><head><title>d</title>"
        "<style>p{margin:0}</style><script>var x=1;</script></head>"
        f"<body><nav><div>{_ROUNDTRIP_NAV}</div></nav>"
        f"<article><p>{_html.escape(text or '', quote=False)}</p></article>"
        '<footer><div><a href="/a">about</a> <a href="/b">legal</a>'
        " &copy; 2024</div></footer></body></html>"
    ).encode()


def wrap_documents_as_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang) → pages rows whose html wraps the text
    in realistic boilerplate (nav/header/footer link farms + one article).

    Used by the flagship round-trip check: the extraction pipeline must
    strip the boilerplate and recover `text` byte-identically, which gives
    the extractor a DuckDB-checkable oracle (SELECT doc_id, text)."""
    import datetime as _dt

    import pandas as pd

    def gen(batches):
        for b in batches:
            htmls = [_roundtrip_wrap_one(t) for t in b["text"]]
            yield pd.DataFrame(
                {
                    "url": [f"https://corpus/{d:012d}.html" for d in b["doc_id"]],
                    "warc_ts": _dt.datetime(2024, 1, 1),
                    "html": htmls,
                    "text": None,
                    "lang": b["lang"],
                }
            )

    from ..plans.layout import spread_small_scan

    base = spread_small_scan(documents.select("doc_id", "text", "lang"))
    return base.mapInPandas(
        gen, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


def html_roundtrip_extract(documents: DataFrame) -> DataFrame:
    """Flagship: wrap corpus text in boilerplate HTML, extract, return
    (doc_id, extracted_text). Oracle: SELECT doc_id, text FROM documents.

    r7 (guide §4.1/§8): wrap + extract are FUSED into one mapInPandas so
    the multi-KB html bytes are built and consumed inside the same Python
    worker — the previous two-stage form shipped every wrapped page
    Python→JVM→Python through two Arrow boundaries for no reason (the
    bytes decide nothing in between). Same kernels, same per-row error
    routing (_extract_one), byte-identical wrap (_roundtrip_wrap_one);
    equality with the unfused wrap_documents_as_pages → run_extraction
    composition is pinned by test_pipeline_spark. The unfused operators
    remain the general-purpose surface."""
    import pandas as pd

    from ..functions.udfs import _extract_one
    from ..plans.layout import spread_small_scan

    def gen(batches):
        for b in batches:
            ids, outs = [], []
            for d, t in zip(b["doc_id"].tolist(), b["text"].tolist()):
                out, _, _, _ = _extract_one(_roundtrip_wrap_one(t), None, False)
                # the unfused path recovers doc_id from the generated url
                # via regexp_extract(r"/(\d+)\.html$") + try_cast — a
                # negative doc_id renders with '-' and yields NULL there;
                # mirror that exactly
                ids.append(d if d is None or d >= 0 else None)
                outs.append(out)
            yield pd.DataFrame({"doc_id": ids, "extracted_text": outs})

    base = spread_small_scan(documents.select("doc_id", "text"))
    return base.mapInPandas(gen, schema="doc_id long, extracted_text string")


def content_type_dispatch(pages: DataFrame) -> DataFrame:
    """Pure-projection content-type classification (SURVEY §2 #2/#16).

    Built-in expressions only — exercises pushdown/codegen, used by the
    driver oracle checks as a SQL-expressible stand-in for the UDF path.
    """
    return pages.select(
        "url",
        content_type_col().alias("content_type"),
        F.when(F.col("html").isNull() & F.col("text").isNull(), 1)
        .otherwise(0)
        .alias("is_empty"),
    )
