"""Expected outputs, computed by DuckDB apart from the program.

Query results are compared under the normalisation of the repository's
oracle test (``tests/test_entry_oracle.py``): columns sorted by name,
floats to 9 significant digits, nulls and NaN alike, rows sorted.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

# event_type -> route, through the transcript role (transcripts_from_events),
# the reformed tag ``reformed.transcripts.<role>`` and the first-match
# route table (user_sink, assistant_sink, then ``**`` -> ops_sink).
ROUTE_OF_EVENT_SQL = (
    "CASE WHEN event_type IN ('click','view') THEN 'user_sink' "
    "WHEN event_type IN ('purchase','signup') THEN 'assistant_sink' "
    "ELSE 'ops_sink' END"
)


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def same(got: pd.DataFrame, want_normalised: pd.DataFrame) -> bool:
    got = normalise(got)
    return (
        list(got.columns) == list(want_normalised.columns)
        and len(got) == len(want_normalised)
        and bool((got == want_normalised).all(axis=None))
    )


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame:
    return normalise(con.execute(sql).fetchdf())


def route_counts(con: duckdb.DuckDBPyConnection, events_path: str) -> dict[str, int]:
    """Turns per route for one events shard."""
    rows = con.execute(
        f"SELECT {ROUTE_OF_EVENT_SQL} AS route, count(*) FROM read_parquet(?) GROUP BY 1",
        [events_path],
    ).fetchall()
    return {r: int(n) for r, n in rows}


def committed(con: duckdb.DuckDBPyConnection, out_dir: str) -> tuple[dict, int]:
    """Read every committed batch back: ``{(batch_id, route): turns}`` and
    the number of ``(conv_id, turn_idx)`` keys that appear more than once."""
    src = (
        f"read_parquet('{out_dir}/batch=*/route=*/*.parquet',"
        " hive_partitioning = true, hive_types_autocast = false)"
    )
    per = con.execute(
        f"SELECT CAST(batch AS VARCHAR), route, count(*) FROM {src} GROUP BY 1, 2"
    ).fetchall()
    dups = con.execute(
        f"SELECT count(*) FROM (SELECT conv_id, turn_idx FROM {src} "
        "GROUP BY 1, 2 HAVING count(*) > 1)"
    ).fetchone()[0]
    return {(b, r): int(n) for b, r, n in per}, int(dups)


def fanout_counts(con: duckdb.DuckDBPyConnection, base: str) -> dict[str, int]:
    """Turns per route read back from a ``write_fanout`` sink."""
    rows = con.execute(
        f"SELECT route, count(*) FROM read_parquet('{base}/route=*/*.parquet',"
        " hive_partitioning = true, hive_types_autocast = false) GROUP BY 1"
    ).fetchall()
    return {r: int(n) for r, n in rows}
