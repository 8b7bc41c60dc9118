"""Correctness gate: the final lake table against an independent oracle.

The oracle is DuckDB SQL over the delivered change-log parquet files, not
the engine: the final table must hold, per url, the arg-max of
``(warc_ts, log_offset)`` with delete winners removed, and the tombstone
audit must be the distinct ``(url, deleted_ts, log_offset)`` set of all
deletes.  Every stored ``text`` must be byte-identical to
``datagen.extract_text_str`` of the row's html.
"""

from __future__ import annotations

import duckdb

_PAGE_COLS = "url, ts, log_offset, html, lang, source_origin, fingerprint"


def check(spark, table, log_files: list[str]) -> list[str]:
    """Return a list of mismatch descriptions; empty means the gate passes."""
    from adsimportpipeline_spark.datagen import extract_text_str
    from adsimportpipeline_spark.schema import TOMBSTONE_SCHEMA

    pages = table.read().toArrow()
    tombs = table.read_tombstones(TOMBSTONE_SCHEMA).toArrow()
    problems: list[str] = []

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("pages_raw", pages)
        con.register("tombs_raw", tombs)
        con.execute(
            "CREATE TEMP TABLE ev AS SELECT url, epoch_us(warc_ts) AS ts, log_offset, op, "
            "html, lang, source_origin, fingerprint FROM read_parquet(?)",
            [log_files],
        )
        con.execute(
            f"CREATE TEMP TABLE want AS SELECT {_PAGE_COLS} FROM ("
            " SELECT *, row_number() OVER (PARTITION BY url"
            "   ORDER BY ts DESC, log_offset DESC) AS rn FROM ev)"
            " WHERE rn = 1 AND op <> 'delete'"
        )
        con.execute(
            f"CREATE TEMP TABLE got AS SELECT url, epoch_us(warc_ts) AS ts, log_offset, "
            "html, lang, source_origin, fingerprint FROM pages_raw"
        )
        for a, b in (("want", "got"), ("got", "want")):
            n = con.execute(
                f"SELECT count(*) FROM (SELECT {_PAGE_COLS} FROM {a} "
                f"EXCEPT ALL SELECT {_PAGE_COLS} FROM {b})"
            ).fetchone()[0]
            if n:
                problems.append(f"pages: {n} rows in {a} but not in {b}")

        con.execute(
            "CREATE TEMP TABLE want_t AS SELECT DISTINCT url, ts, log_offset "
            "FROM ev WHERE op = 'delete'"
        )
        con.execute(
            "CREATE TEMP TABLE got_t AS SELECT url, epoch_us(deleted_ts) AS ts, log_offset "
            "FROM tombs_raw"
        )
        for a, b in (("want_t", "got_t"), ("got_t", "want_t")):
            n = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
            ).fetchone()[0]
            if n:
                problems.append(f"tombstones: {n} rows in {a} but not in {b}")
    finally:
        con.close()

    html = pages.column("html").to_pylist()
    text = pages.column("text").to_pylist()
    bad = sum(1 for h, t in zip(html, text) if extract_text_str(h) != t)
    if bad:
        problems.append(f"text: {bad} of {len(text)} rows differ from extract_text_str")
    if pages.num_rows == 0:
        problems.append("pages: final table is empty")
    return problems
