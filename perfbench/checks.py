"""Output checks for `pipeline_daily`, computed outside the engine.

Each warehouse table is reduced to `<rows>:<checksum>`: every row is
canonicalized as the unit-separator-joined string form of its columns
(sorted by name, NULL as the literal 'NULL'), hashed to the upper 64
bits of its md5, and the hashes are summed. The sum commutes, so the
checksum does not depend on row order, file count or partition layout
beyond the partition column's values. It is the canonical form of
`operators.profiling.table_checksum`, evaluated by DuckDB so that the
check does not run on the engine it checks. The feed is checked by the
sha256 of its part files' bytes.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb

#: (cli job, the warehouse tables it writes; "feed" is the export file)
CHAIN = (
    ("import-pricecharting", ("pricecharting_prices_raw",)),
    ("normalize-scryfall", ("market_price_snapshots",)),
    ("build-daily", ("market_price_daily",)),
    ("export-feed", ("feed",)),
)


def table_checksum(path: str) -> str:
    con = duckdb.connect()
    try:
        src = (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
               "union_by_name = true)")
        cols = sorted(r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
        canon = ", ".join(f"COALESCE(CAST(\"{c}\" AS VARCHAR), 'NULL')" for c in cols)
        n, total = con.sql(
            f"SELECT count(*), CAST(sum(md5_number_upper(concat_ws(chr(31), {canon})))"
            f" AS VARCHAR) FROM {src}"
        ).fetchone()
    finally:
        con.close()
    return f"{n}:{total}"


def feed_digest(feed_dir: str) -> str:
    parts = sorted(glob.glob(os.path.join(feed_dir, "part-*")))
    h = hashlib.sha256()
    for p in parts:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return f"{len(parts)}:{h.hexdigest()}"


def snapshot(warehouse: str, feed_dir: str) -> dict[str, str]:
    """Checksum of every table the chain writes, and the feed digest."""
    return {
        t: feed_digest(feed_dir) if t == "feed"
        else table_checksum(os.path.join(warehouse, t))
        for _, tables in CHAIN
        for t in tables
    }


def mismatches(want: dict[str, str], got: dict[str, str]) -> dict[str, list[str]]:
    """{cli job: [tables whose checksum differs]} for the jobs at fault."""
    out = {}
    for job, tables in CHAIN:
        bad = [t for t in tables if want.get(t) != got.get(t)]
        if bad:
            out[job] = bad
    return out
