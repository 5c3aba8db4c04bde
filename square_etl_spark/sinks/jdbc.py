"""Relational (JDBC) upsert sink — parity with the reference's Postgres sink.

The reference writes every warehouse table to Postgres with a per-row
``INSERT ... ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col`` inside
one transaction (``/root/reference/src/db.ts:1-21`` for the pool,
``/root/reference/src/etl-square-payments.ts:49-100`` for the statement
shape, repeated in etl-square-orders.ts:92-140, etl-square-locations.ts:55-90,
etl-square-inventory.ts:62-95, etl-square-categories.ts:55-90,
etl-square-catalog.ts).

A row-at-a-time driver loop is the wrong shape for Spark at scale: it
serializes 100 TB through one connection.  The Spark-first equivalent is

  1. executors write the batch IN PARALLEL to a staging table with the
     built-in JDBC writer (``df.write.jdbc`` — one connection per
     partition, batched prepared statements, all JVM-side);
  2. the driver runs ONE set-based merge statement server-side
     (``INSERT INTO target SELECT ... FROM staging ON CONFLICT ... DO
     UPDATE``), which Postgres executes as a single relational plan —
     the same semantics as the reference's loop, minus the N round
     trips;
  3. staging is dropped in the same transaction.

Same merge semantics as :mod:`square_etl_spark.sinks.merge` (last-writer
wins on the natural key; ``updated_at`` stamped only when an existing row
actually changes is the caller's concern — the reference stamps it
unconditionally from the payload, and so do we here).

CONTAINER NOTE: no Postgres server exists in this environment, but the
``ON CONFLICT`` dialect is executed semantically end-to-end on DuckDB
(which implements Postgres's INSERT ... ON CONFLICT grammar verbatim —
update/insert branches, NULL-safe change guard, replay idempotence:
tests/test_jdbc_sink.py::test_postgres_dialect_*), and Spark ships
embedded Apache Derby jars, so the FULL wire path (parallel staging
write → one server-side set-based merge in one transaction → staging
drop) IS integration-tested against a live JDBC database using the
ANSI ``MERGE`` dialect (tests/test_jdbc_sink.py::test_write_jdbc_
upsert_derby_end_to_end).  Identifiers are emitted double-quoted
lowercase to match what Spark's JDBC writer creates for the staging
table (unquoted names would fold to uppercase on Derby and miss).
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame

from square_etl_spark.operators.aggregations import last_writer_wins

_SEGMENT_RE = re.compile(r"^[a-z_][a-z0-9_]*$")


def _ident(name: str) -> str:
    """Validate a SQL identifier: every dot-separated segment must be a
    well-formed lowercase name (no leading digits, no empty segments,
    no lone dots) so malformed names fail fast here instead of as a
    server-side syntax error.  We never interpolate user data — only
    column/table names from our own schemas — but be strict anyway."""
    segments = name.split(".") if name else []
    if not segments or not all(_SEGMENT_RE.match(s) for s in segments):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _q(name: str) -> str:
    """Validated identifier, double-quoted per segment ("pos"."t").
    Matches the quoted-lowercase staging table Spark's JDBC writer
    creates, on both Postgres (which would fold unquoted to lowercase
    anyway) and Derby (which would fold to uppercase and fail)."""
    return ".".join(f'"{s}"' for s in _ident(name).split("."))


def upsert_statement(
    target: str,
    staging: str,
    columns: list[str],
    key_cols: list[str],
) -> str:
    """The set-based Postgres merge statement: one server-side plan with
    the same ON CONFLICT semantics as the reference's per-row loop
    (etl-square-payments.ts:60-93).

    Non-key columns are updated from EXCLUDED; key columns never change
    (they're the conflict target).  ``IS DISTINCT FROM`` guard keeps the
    write idempotent server-side: re-running the same batch touches no
    rows (parity with merge.py's idempotence contract, reference K2/K3).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    missing = [k for k in key_cols if k not in columns]
    if missing:
        raise ValueError(f"key columns not in column list: {missing}")
    cols = ", ".join(_q(c) for c in columns)
    keys = ", ".join(_q(k) for k in key_cols)
    updates = [c for c in columns if c not in key_cols]
    if not updates:
        # pure-key table: nothing to update on conflict
        return (
            f"INSERT INTO {_q(target)} ({cols})\n"
            f"SELECT {cols} FROM {_q(staging)}\n"
            f"ON CONFLICT ({keys}) DO NOTHING"
        )
    set_clause = ",\n  ".join(f"{_q(c)} = EXCLUDED.{_q(c)}" for c in updates)
    changed_guard = " OR ".join(
        f"t.{_q(c)} IS DISTINCT FROM EXCLUDED.{_q(c)}" for c in updates
    )
    return (
        f"INSERT INTO {_q(target)} AS t ({cols})\n"
        f"SELECT {cols} FROM {_q(staging)}\n"
        f"ON CONFLICT ({keys}) DO UPDATE SET\n  {set_clause}\n"
        f"WHERE {changed_guard}"
    )


def merge_statement(
    target: str,
    staging: str,
    columns: list[str],
    key_cols: list[str],
) -> str:
    """ANSI ``MERGE INTO`` equivalent of :func:`upsert_statement` for
    engines without Postgres's ON CONFLICT (Derby, Oracle, SQL Server,
    DB2).  Same last-writer-wins semantics; the one difference is the
    no-op-update guard: IS DISTINCT FROM isn't portable, so matched
    rows are updated unconditionally (still idempotent — re-running
    rewrites identical values)."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    missing = [k for k in key_cols if k not in columns]
    if missing:
        raise ValueError(f"key columns not in column list: {missing}")
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
    updates = [c for c in columns if c not in key_cols]
    insert_cols = ", ".join(_q(c) for c in columns)
    insert_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    matched = ""
    if updates:
        set_clause = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in updates)
        matched = f"WHEN MATCHED THEN UPDATE SET {set_clause}\n"
    return (
        f"MERGE INTO {_q(target)} t\n"
        f"USING {_q(staging)} s\n"
        f"ON ({on})\n"
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    properties: dict[str, str] | None = None,
    order_col: str | None = None,
    num_partitions: int | None = None,
    dialect: str = "postgres",
    run_id: str | None = None,
) -> str:
    """Distributed JDBC upsert: parallel staging write + one set-based
    server-side merge.  Returns the merge SQL it ran (or would run),
    for observability.

    At 100 TB the staging write is the parallel part (one JDBC
    connection per partition, ``batchsize`` rows per round trip —
    bound connection count with ``num_partitions``, e.g. 32, so the
    database isn't holding 1000 connections); the merge is one
    statement the database executes as a relational plan.  Empty
    batches short-circuit before any connection is opened (reference
    K3: etl-square-payments.ts:50-53).

    ``dialect``: ``"postgres"`` → ON CONFLICT (the reference's sink,
    db.ts:1-21); ``"ansi"`` → MERGE INTO (Derby/Oracle/SQL Server).

    The staging table name is unique per run (``run_id``, default a
    random hex token) so two concurrent upserts into the same target
    can't overwrite each other's staging data mid-merge; on a failed
    merge the staging table is best-effort dropped before the error
    propagates, so no orphaned staging data survives.
    """
    props = dict(properties or {})
    props.setdefault("batchsize", "10000")
    staging = f"{table}_stg_{run_id or uuid.uuid4().hex[:12]}"

    # ON CONFLICT raises ``cardinality violation`` if one statement
    # carries two rows for one key, so the batch must be key-unique
    # before staging: last-writer-wins per key, ties broken by value so
    # a re-run never flips the stored row (the IS DISTINCT FROM guard)
    batch = last_writer_wins(df, key_cols, [order_col] if order_col else [])
    if num_partitions is not None:
        batch = batch.coalesce(num_partitions)

    make_sql = {"postgres": upsert_statement, "ansi": merge_statement}
    if dialect not in make_sql:
        raise ValueError(f"unknown dialect {dialect!r}; use 'postgres' or 'ansi'")
    merge_sql = make_sql[dialect](table, staging, batch.columns, key_cols)

    # K3 empty-batch short-circuit: isEmpty() is a limit-1 scan, cheap.
    if batch.isEmpty():
        return merge_sql

    spark = df.sparkSession
    if "driver" not in props:
        raise RuntimeError(
            "write_jdbc_upsert needs a JDBC driver on the Spark classpath "
            "and its class name in properties['driver'] (e.g. "
            "'org.postgresql.Driver', or the in-container "
            "'org.apache.derby.jdbc.EmbeddedDriver' Spark ships)."
        )

    # Pass the staging name pre-quoted: Spark embeds it verbatim in its
    # CREATE TABLE, so an unquoted name would case-fold server-side
    # (uppercase on Derby) and the quoted merge SQL below would miss it.
    batch.write.jdbc(url=url, table=_q(staging), mode="overwrite", properties=props)

    # One transaction: merge staging into target, drop staging.
    jvm = spark._jvm  # noqa: SLF001 — py4j bridge is the supported JDBC path
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        stmt.execute(merge_sql)
        stmt.execute(f"DROP TABLE {_q(staging)}")
        conn.commit()
    except Exception:
        conn.rollback()
        try:  # best-effort cleanup: don't leave orphaned staging data
            stmt = conn.createStatement()
            stmt.execute(f"DROP TABLE {_q(staging)}")
            conn.commit()
        except Exception:  # noqa: BLE001 — original error matters more
            pass
        raise
    finally:
        conn.close()
    return merge_sql
