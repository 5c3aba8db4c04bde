"""Output checks, run by DuckDB outside the timed window.

The expected values come from the engine's own registry oracles
(``queries.oracle_sql()``), evaluated by DuckDB over the generated
inputs.  The engine's Spark code is never used to produce an expected
value.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

#: warehouse table, in the order a sync tick runs the six reference
#: mains → how to derive its expected rows from the registry.
#: ``restrict`` names the fixture tables the run's windows apply to and
#: their timestamp column; ``ts`` is the output column that places a
#: row in a window; ``order`` is the merge's last-writer order column
#: (``pipelines.run_pipeline`` uses updated_at / calculated_at when the
#: table has one, else the key, which is unique per row).
POS_TABLES: dict[str, dict] = {
    "pos_payments": {
        "oracle": "pipeline_payments",
        "restrict": {"orders": "o_orderdate"},
        "ts": "created_at",
        "order": "updated_at",
    },
    "pos_order_items": {
        "oracle": "pipeline_order_items",
        "restrict": {"orders": "o_orderdate"},
        "ts": None,
        "order": None,
    },
    "pos_inventory": {
        "oracle": "pipeline_inventory",
        "restrict": {"lineitem": "l_shipdate"},
        "ts": "calculated_at",
        "order": "calculated_at",
    },
    "pos_catalog": {"oracle": "pipeline_catalog", "restrict": {}, "ts": None, "order": None},
    "pos_categories": {"oracle": "pipeline_categories", "restrict": {}, "ts": None, "order": None},
    "pos_locations": {"oracle": "pipeline_locations", "restrict": {}, "ts": None, "order": None},
}

POS_SOURCES = ("orders", "lineitem", "part", "customer", "nation")


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def warehouse_scan(wh_dir: str, table: str) -> str:
    path = os.path.join(wh_dir, table, "**", "*.parquet")
    return f"read_parquet('{path}', hive_partitioning = true)"


def _windows_table(con: duckdb.DuckDBPyConnection, windows: list[tuple[dt.datetime, dt.datetime]]) -> None:
    con.execute("CREATE OR REPLACE TEMP TABLE w (idx INTEGER, b TIMESTAMP, e TIMESTAMP)")
    con.executemany("INSERT INTO w VALUES (?, ?, ?)", [(i, b, e) for i, (b, e) in enumerate(windows)])


def check_pos(
    data_dir: str,
    wh_dir: str,
    windows: list[tuple[dt.datetime, dt.datetime]],
    oracles: dict[str, str],
    keys: dict[str, list[str]],
) -> tuple[list[str], dict[str, int]]:
    """Compare every warehouse table with its registry oracle over the
    inputs restricted to the windows the run applied, in order.

    A key's expected row comes from the LAST applied window that holds
    any of its rows (the merge replaces the stored row whenever the key
    is in the batch), and within that window the newest row by the
    merge's order column.  Where several rows tie for newest, any of
    them is accepted and the key is counted in the returned tie counts.
    Returns (problems, tied keys per table); no problems means equal."""
    problems: list[str] = []
    tied: dict[str, int] = {}
    con = _connect()
    try:
        _windows_table(con, windows)
        for table, spec in POS_TABLES.items():
            for src in POS_SOURCES:
                scan = f"read_parquet('{os.path.join(data_dir, src + '.parquet')}')"
                col = spec["restrict"].get(src)
                where = (
                    f" WHERE EXISTS (SELECT 1 FROM w WHERE {col} >= w.b AND {col} < w.e)"
                    if col else ""
                )
                con.execute(f"CREATE OR REPLACE TEMP VIEW {src} AS SELECT * FROM {scan}{where}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {oracles[spec['oracle']]}")
            cols = [r[0] for r in con.execute("DESCRIBE exp").fetchall()]
            key = ", ".join(keys[table])
            col_list = ", ".join(cols)
            idx = (
                f"(SELECT max(idx) FROM w WHERE {spec['ts']} >= w.b AND {spec['ts']} < w.e)"
                if spec["ts"] else "0"
            )
            order = f", {spec['order']} DESC NULLS LAST" if spec["order"] else ""
            con.execute(f"""
                CREATE OR REPLACE TEMP TABLE cand AS
                SELECT {col_list} FROM (
                  SELECT *, rank() OVER (PARTITION BY {key} ORDER BY __idx DESC{order}) AS __r
                  FROM (SELECT *, {idx} AS __idx FROM exp))
                WHERE __r = 1""")
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE got AS SELECT {col_list} FROM {warehouse_scan(wh_dir, table)}"
            )
            n_got, n_keys = con.execute(
                f"SELECT count(*), count(DISTINCT ({key})) FROM got"
            ).fetchone()
            missing = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT {key} FROM cand EXCEPT SELECT {key} FROM got)"
            ).fetchone()[0]
            wrong = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM cand)"
            ).fetchone()[0]
            tied[table] = con.execute(
                f"SELECT count(*) FROM (SELECT {key} FROM (SELECT DISTINCT * FROM cand) "
                f"GROUP BY {key} HAVING count(*) > 1)"
            ).fetchone()[0]
            if n_got != n_keys:
                problems.append(f"{table}: {n_got - n_keys} duplicate keys")
            if missing:
                problems.append(f"{table}: {missing} expected keys missing")
            if wrong:
                problems.append(f"{table}: {wrong} rows differ from the oracle")
    finally:
        con.close()
    return problems, tied


def snapshot_pos(wh_dir: str) -> duckdb.DuckDBPyConnection:
    """Copy every warehouse table into an in-memory DuckDB database."""
    con = _connect()
    for table in POS_TABLES:
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM {warehouse_scan(wh_dir, table)}")
    return con


def unchanged_since(snap: duckdb.DuckDBPyConnection, wh_dir: str) -> list[str]:
    """Tables whose rows differ (as multisets) from the snapshot."""
    changed = []
    for table in POS_TABLES:
        now = f"(SELECT * FROM {warehouse_scan(wh_dir, table)})"
        diff = snap.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {table} EXCEPT ALL SELECT * FROM {now}))"
            f" + (SELECT count(*) FROM (SELECT * FROM {now} EXCEPT ALL SELECT * FROM {table}))"
        ).fetchone()[0]
        if diff:
            changed.append(f"{table}: replay changed {diff} rows")
    return changed


def corpus_expected(batch_dir: str, oracle: str) -> set[tuple]:
    """The registry oracle's corpus_clean_pipeline output for one batch."""
    con = _connect()
    try:
        path = os.path.join(batch_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return {tuple(r) for r in con.execute(f"SELECT lang, n_docs, total_tokens FROM ({oracle})").fetchall()}
    finally:
        con.close()
