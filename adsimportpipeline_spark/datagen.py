"""Deterministic synthetic CDC change-log generator + pure-Python oracle.

The generator is *Spark-native and scale-free*: every field of every event is
a pure function of the event id (``spark.range`` + hash expressions), so the
same code generates 10k events for unit tests and 10^8+ events for the bench
without driver-side state.  Mirrors the reference's feed semantics
(SURVEY.md §1.1: TSV change feed run.py:34-62) and builds in the tricky cases
from FIXTURES.md §1:

- out-of-order ``warc_ts`` relative to ``log_offset`` (LWW must pick max)
- exact ``warc_ts`` ties broken by ``log_offset``
- duplicate deliveries (identical rows re-emitted; idempotency)
- deletes and delete→stale-update resurrection attempts (tombstone guard)
- hot-url skew (a configurable share of all events hit one url)
- ``'ignore'`` force-update fingerprints (reference run.py:83-86)

The oracle (:func:`replay_oracle`) is a tiny single-threaded replayer
implementing exactly the reference's decision rules — LWW cascade
(merger.py:320-339) and tombstone audit (app.py:15-21) — producing the
expected final table state for equivalence asserts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.html import extract_text_str

BASE_EPOCH = 1_600_000_000  # 2020-09-13T12:26:40Z, fixed base for warc_ts

LANGS = ["en", "de", "fr", "es", "zh"]
ORIGINS = ["crawl-a", "crawl-b", "publisher", "sitemap", "api"]


@dataclass(frozen=True)
class GenSpec:
    n_events: int = 10_000
    n_urls: int = 1_000
    seed: int = 42
    hot_share_pct: int = 10     # % of events hitting the single hot url 0
    delete_pct: int = 3         # % delete ops
    dup_pct: int = 5            # % duplicate deliveries of the previous event
    ignore_pct: int = 2         # % 'ignore' force-update fingerprints
    ts_spread: int = 1_000_000  # seconds of warc_ts spread (coarse → ties)


def _mix(col, salt: int):
    """Deterministic 63-bit mix of a long column (xxhash64 seeded by salt)."""
    return F.abs(F.xxhash64(col, F.lit(salt)))


def generate_change_log(spark: SparkSession, spec: GenSpec = GenSpec()) -> DataFrame:
    """Return a DataFrame of CHANGE_EVENT_SCHEMA rows, fully deterministic."""
    n = spec.n_events
    df = spark.range(0, n, 1)  # id == physical delivery position

    # duplicate delivery: event content (incl. log_offset) copied from id-1
    is_dup = (_mix(F.col("id") * 3 + 1, spec.seed) % 100 < spec.dup_pct) & (F.col("id") > 0)
    logical = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id")).alias("logical")
    df = df.select(F.col("id").alias("delivery_id"), logical)

    h_url = _mix(F.col("logical"), spec.seed + 1)
    url_id = F.when(
        _mix(F.col("logical"), spec.seed + 2) % 100 < spec.hot_share_pct, F.lit(0)
    ).otherwise(h_url % spec.n_urls)

    # warc_ts decorrelated from log_offset (out-of-order arrivals); coarse
    # granularity (seconds over ts_spread) produces genuine ties.
    ts_sec = F.lit(BASE_EPOCH) + (_mix(F.col("logical"), spec.seed + 3) % spec.ts_spread)

    h_op = _mix(F.col("logical"), spec.seed + 4) % 100
    op = (
        F.when(h_op < spec.delete_pct, F.lit("delete"))
        .when(h_op < 50, F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    rev = _mix(F.col("logical"), spec.seed + 5) % 1_000_000
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (_mix(F.col("logical"), spec.seed + 6) % len(LANGS) + 1).cast("int"),
    )
    origin = F.element_at(
        F.array(*[F.lit(x) for x in ORIGINS]),
        (_mix(F.col("logical"), spec.seed + 7) % len(ORIGINS) + 1).cast("int"),
    )

    url = F.concat(F.lit("https://example.org/page/"), url_id.cast("string"))
    body = F.concat(
        F.lit("<html><head><title>Page "),
        url_id.cast("string"),
        F.lit("</title><style>p{color:red}</style></head><body><h1>Page "),
        url_id.cast("string"),
        F.lit("</h1><p>rev "),
        rev.cast("string"),
        F.lit(" &amp; lang "),
        lang,
        F.lit("</p><script>var x=1;</script><p>payload "),
        F.sha2(F.concat(url_id.cast("string"), F.lit(":"), rev.cast("string")), 256),
        F.lit("</p></body></html>"),
    )

    fp = F.when(
        _mix(F.col("logical"), spec.seed + 8) % 100 < spec.ignore_pct, F.lit("ignore")
    ).otherwise(F.md5(body))

    return df.select(
        url.alias("url"),
        F.timestamp_seconds(ts_sec).alias("warc_ts"),
        F.col("logical").alias("log_offset"),
        op.alias("op"),
        body.cast("binary").alias("html"),
        lang.alias("lang"),
        origin.alias("source_origin"),
        fp.alias("fingerprint"),
    )


def write_change_log(
    spark: SparkSession,
    path: str,
    spec: GenSpec = GenSpec(),
    n_files: int = 32,
    ordered: bool = True,
) -> None:
    """Materialize the change log as parquet split into n_files files.

    ``ordered=True`` range-partitions + sorts by log_offset so a streaming
    file source consumes micro-batches in roughly delivery order (realistic
    binlog tailing).  Batch replay benchmarks can skip the global sort."""
    df = generate_change_log(spark, spec)
    if ordered:
        df = df.repartitionByRange(n_files, "log_offset").sortWithinPartitions("log_offset")
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(path)


# ----------------------------------------------------------------------------
# Pure-Python oracle replayer (reference decision rules, single-threaded)
# ----------------------------------------------------------------------------

def replay_oracle(events: list[dict]) -> tuple[dict[str, dict], list[tuple]]:
    """Replay a collected change log; return (pages, tombstones).

    pages: url -> final row dict (LWW winner with extracted text), deletes
    applied.  tombstones: sorted list of distinct (url, warc_ts, log_offset)
    for every delete event (audit log, reference app.py:15-21 appends every
    delete to change_log).

    LWW rule (reference equalTrustFallback merger.py:320-339 collapsed onto
    our ordering): winner per url = max (warc_ts, log_offset); exact
    duplicates collapse; a delete that wins removes the row.
    """
    best: dict[str, dict] = {}
    tombs: set[tuple] = set()
    for ev in events:
        url = ev["url"]
        key = (ev["warc_ts"], ev["log_offset"])
        if ev["op"] == "delete":
            tombs.add((url, ev["warc_ts"], ev["log_offset"]))
        cur = best.get(url)
        if cur is None or key > (cur["warc_ts"], cur["log_offset"]):
            best[url] = ev
    pages = {}
    for url, ev in best.items():
        if ev["op"] == "delete":
            continue
        pages[url] = {
            "url": url,
            "warc_ts": ev["warc_ts"],
            "log_offset": ev["log_offset"],
            "html": bytes(ev["html"]) if ev["html"] is not None else None,
            "text": extract_text_str(ev["html"]),
            "lang": ev["lang"],
            "source_origin": ev["source_origin"],
            "fingerprint": ev["fingerprint"],
        }
    return pages, sorted(tombs)
