"""Reference answers for the output checks, computed with DuckDB.

The lake table after a feed is applied must equal a last-writer-wins
replay of that feed: per ``url`` the event with the greatest
``(warc_ts, event_id)``, kept only when its ``op`` is not ``'D'``.
Rows compare on ``(url, warc_ts, md5(html))``.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

Rows = dict[str, tuple[int, str]]


def replay(files: list[str], with_event_id: bool = False) -> Rows:
    """``url -> (warc_ts in µs, md5 of html)`` of the live LWW winners
    over the feed ``files``; ``with_event_id`` appends the winner's
    event id, which tells apart versions with equal content."""
    src = ", ".join(f"'{f}'" for f in files)
    sql = f"""
        SELECT url, epoch_us(warc_ts), html, event_id FROM (
            SELECT url, warc_ts, html, op, event_id, row_number() OVER (
                PARTITION BY url ORDER BY warc_ts DESC, event_id DESC) AS rn
            FROM read_parquet([{src}]))
        WHERE rn = 1 AND op <> 'D'"""
    with duckdb.connect() as con:
        rows = con.execute(sql).fetchall()
    return {
        u: (ts, hashlib.md5(h).hexdigest()) + ((e,) if with_event_id else ())
        for u, ts, h, e in rows
    }


def as_rows(df) -> Rows:
    """The same projection of a Spark DataFrame of pages."""
    out = df.select("url", F.unix_micros("warc_ts"), F.md5("html")).collect()
    return {u: (ts, h) for u, ts, h in out}


def mismatches(got: Rows, want: Rows) -> int:
    """Keys present on one side only, or with a different row."""
    return sum(got.get(k) != want.get(k) for k in got.keys() | want.keys())


def corrupt_file(table) -> None:
    """Flip the html of every row in the newest data file of the
    table's current snapshot (a deliberate wrong answer, for checking
    that the checks catch one)."""
    f = table.commit()["files"][-1]
    path = os.path.join(table.path, f["path"])
    t = pq.read_table(path)
    i = t.schema.get_field_index("html")
    bad = pa.array([None if h is None else h + b"!" for h in t.column(i).to_pylist()],
                   t.schema.field(i).type)
    pq.write_table(t.set_column(i, t.schema.field(i), bad), path)
    # drop the stale Hadoop checksum, or the read fails instead of
    # returning the wrong rows
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
