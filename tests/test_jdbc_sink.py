"""JDBC upsert sink: SQL generation, batch-dedupe semantics, and a live
end-to-end integration test against embedded Apache Derby (the JDBC
database Spark ships in its own jars) using the ANSI MERGE dialect.
The Postgres ON CONFLICT dialect stays SQL-gen-pinned (no server here).
"""

import pytest
from pyspark.sql import functions as F

from square_etl_spark.operators.aggregations import last_writer_wins
from square_etl_spark.sinks.jdbc import (
    _ident,
    merge_statement,
    upsert_statement,
    write_jdbc_upsert,
)


def test_upsert_statement_shape():
    sql = upsert_statement(
        "pos.pos_payments",
        "pos.pos_payments_stg_abc",
        ["tenant_id", "provider", "payment_id", "amount", "status"],
        ["tenant_id", "provider", "payment_id"],
    )
    assert 'INSERT INTO "pos"."pos_payments" AS t' in sql
    assert 'FROM "pos"."pos_payments_stg_abc"' in sql
    assert 'ON CONFLICT ("tenant_id", "provider", "payment_id") DO UPDATE SET' in sql
    assert '"amount" = EXCLUDED."amount"' in sql
    assert '"status" = EXCLUDED."status"' in sql
    # key columns are never in the SET list
    assert '"payment_id" = EXCLUDED' not in sql
    # idempotence guard: no-op update rows are skipped server-side
    assert 't."amount" IS DISTINCT FROM EXCLUDED."amount"' in sql


def test_upsert_statement_pure_key_table():
    sql = upsert_statement("t", "t_stg_x", ["a", "b"], ["a", "b"])
    assert sql.endswith("DO NOTHING")


def test_merge_statement_shape():
    sql = merge_statement(
        "wh", "wh_stg_x", ["id", "ver", "payload"], ["id"]
    )
    assert 'MERGE INTO "wh" t' in sql
    assert 'USING "wh_stg_x" s' in sql
    assert 'ON (t."id" = s."id")' in sql
    assert 'WHEN MATCHED THEN UPDATE SET "ver" = s."ver", "payload" = s."payload"' in sql
    assert 'WHEN NOT MATCHED THEN INSERT ("id", "ver", "payload")' in sql
    # key columns are never in the SET list
    assert '"id" = s."id", ' not in sql.split("ON (")[1]


def test_statements_reject_bad_identifiers():
    with pytest.raises(ValueError):
        upsert_statement("t; DROP TABLE x", "s", ["a"], ["a"])
    with pytest.raises(ValueError):
        upsert_statement("t", "s", ["a", 'b"'], ["a"])
    with pytest.raises(ValueError):
        upsert_statement("t", "s", ["a"], ["missing"])
    with pytest.raises(ValueError):
        upsert_statement("t", "s", ["a"], [])
    with pytest.raises(ValueError):
        merge_statement("t", "s", ["a"], [])


def test_ident_rejects_degenerate_segments():
    # every dot-separated segment must be a well-formed name: no leading
    # digits, no empty segments, no lone dots (ADVICE r2)
    for bad in ("a..b", ".", "a.", ".a", "1abc", "a.2b", ""):
        with pytest.raises(ValueError):
            _ident(bad)
    assert _ident("pos.pos_payments") == "pos.pos_payments"
    assert _ident("_x.y_2") == "_x.y_2"


def test_dedupe_batch_last_writer_wins(spark):
    df = spark.createDataFrame(
        [("k1", 1, "old"), ("k1", 3, "new"), ("k2", 2, "only")],
        "id string, ver int, payload string",
    )
    out = last_writer_wins(df, ["id"], ["ver"]).orderBy("id").collect()
    assert [(r.id, r.payload) for r in out] == [("k1", "new"), ("k2", "only")]


def test_dedupe_batch_deterministic_without_order_col(spark):
    df = spark.createDataFrame(
        [("k", 1, "a"), ("k", 1, "b")], "id string, ver int, payload string"
    )
    a = last_writer_wins(df, ["id"], []).collect()
    b = last_writer_wins(df.repartition(8), ["id"], []).collect()
    assert a == b  # partition-invariant winner


def test_dedupe_batch_order_col_ties_break_deterministically(spark):
    # two rows share key AND order_col but differ in payload: the winner
    # must be partition-invariant (remaining-columns tiebreaker, ADVICE r2)
    df = spark.createDataFrame(
        [("k", 5, "a"), ("k", 5, "b"), ("k", 4, "c")],
        "id string, ver int, payload string",
    )
    a = last_writer_wins(df, ["id"], ["ver"]).collect()
    b = last_writer_wins(df.repartition(8), ["id"], ["ver"]).collect()
    assert a == b
    assert a[0].payload == "b"  # largest remaining column among ver=5 ties


def test_write_jdbc_upsert_requires_driver(spark):
    df = spark.createDataFrame([("k", 1)], "id string, v int")
    with pytest.raises(RuntimeError, match="driver"):
        write_jdbc_upsert(df, "jdbc:postgresql://nowhere/db", "t", ["id"])


def test_write_jdbc_upsert_empty_batch_short_circuits(spark):
    # K3: empty batch returns the would-be SQL without needing a driver
    df = spark.createDataFrame([], "id string, v int").filter(F.lit(False))
    sql = write_jdbc_upsert(df, "jdbc:postgresql://nowhere/db", "t", ["id"])
    assert 'ON CONFLICT ("id")' in sql


# ---------------------------------------------------------------------------
# Live integration: embedded Derby (jars ship inside Spark itself), ANSI
# MERGE dialect — the full wire path: parallel staging write → one
# server-side set-based merge in one transaction → staging dropped.
# ---------------------------------------------------------------------------

DERBY_PROPS = {
    "driver": "org.apache.derby.jdbc.EmbeddedDriver",
    "createTableColumnTypes": "id VARCHAR(64), ver INT, payload VARCHAR(64)",
}


def _derby_query(spark, url, sql, ncols):
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        out = []
        while rs.next():
            out.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
        return out
    finally:
        conn.close()


def _derby_state(spark, url):
    return sorted(
        _derby_query(spark, url, 'SELECT "id", "ver", "payload" FROM "wh"', 3)
    )


def test_write_jdbc_upsert_derby_end_to_end(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
        'CREATE TABLE "wh" ("id" VARCHAR(64) NOT NULL, "ver" INT, '
        '"payload" VARCHAR(64), PRIMARY KEY ("id"))'
    )
    conn.close()

    batch = spark.createDataFrame(
        [("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1")],
        "id string, ver int, payload string",
    )
    sql = write_jdbc_upsert(
        batch, url, "wh", ["id"],
        properties=DERBY_PROPS, order_col="ver", dialect="ansi",
    )
    assert "MERGE INTO" in sql
    state1 = _derby_state(spark, url)
    # in-batch dedupe picked ver=2 for key a
    assert state1 == [("a", 2, "a2"), ("b", 1, "b1")]

    # upsert-twice-is-idempotent against a LIVE database
    write_jdbc_upsert(
        batch, url, "wh", ["id"],
        properties=DERBY_PROPS, order_col="ver", dialect="ansi",
    )
    assert _derby_state(spark, url) == state1

    # update branch + insert branch in one later batch
    batch2 = spark.createDataFrame(
        [("b", 3, "b3"), ("c", 1, "c1")], "id string, ver int, payload string"
    )
    write_jdbc_upsert(
        batch2, url, "wh", ["id"],
        properties=DERBY_PROPS, order_col="ver", dialect="ansi",
    )
    assert _derby_state(spark, url) == [
        ("a", 2, "a2"), ("b", 3, "b3"), ("c", 1, "c1")
    ]

    # staging tables are dropped in the merge transaction — none linger
    leftovers = _derby_query(
        spark, url,
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'wh_stg_%'",
        1,
    )
    assert leftovers == []


# ---------------------------------------------------------------------------
# Postgres ON CONFLICT dialect, executed semantically on DuckDB.
#
# No Postgres server exists in this container, but DuckDB — the same
# engine the driver uses as the correctness oracle — implements
# Postgres's INSERT ... ON CONFLICT DO UPDATE SET ... WHERE grammar
# (EXCLUDED, IS DISTINCT FROM, target alias) verbatim.  Running the
# GENERATED statement through a staging+target round trip validates the
# dialect end-to-end: update branch, insert branch, NULL-safe change
# guard, and idempotence (re-run touches zero rows), mirroring the
# reference's per-row loop (etl-square-payments.ts:59-95).
# ---------------------------------------------------------------------------


def _duck_payments():
    import duckdb

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE "payments" (payment_id VARCHAR PRIMARY KEY, '
        "amount BIGINT, status VARCHAR)"
    )
    con.execute(
        'CREATE TABLE "payments_stg" (payment_id VARCHAR, '
        "amount BIGINT, status VARCHAR)"
    )
    return con


def test_postgres_dialect_executes_on_duckdb_update_insert_idempotent():
    con = _duck_payments()
    sql = upsert_statement(
        "payments", "payments_stg",
        ["payment_id", "amount", "status"], ["payment_id"],
    )
    con.execute(
        "INSERT INTO payments VALUES ('p0', 1, 'DONE'), ('p1', 100, 'PENDING')"
    )
    con.execute(
        "INSERT INTO payments_stg VALUES "
        "('p1', 150, 'COMPLETED'), ('p2', 50, 'PENDING')"
    )
    # first run: p1 updated, p2 inserted, p0 untouched
    assert con.execute(sql).fetchall() == [(2,)]
    assert con.execute(
        "SELECT * FROM payments ORDER BY payment_id"
    ).fetchall() == [
        ("p0", 1, "DONE"), ("p1", 150, "COMPLETED"), ("p2", 50, "PENDING")
    ]
    # re-run of the same batch: IS DISTINCT FROM guard makes it a
    # server-side no-op — zero rows touched (the reference's replay
    # safety, K2/K3)
    assert con.execute(sql).fetchall() == [(0,)]


def test_postgres_dialect_null_safe_guard_on_duckdb():
    con = _duck_payments()
    sql = upsert_statement(
        "payments", "payments_stg",
        ["payment_id", "amount", "status"], ["payment_id"],
    )
    con.execute("INSERT INTO payments VALUES ('p1', 100, 'PENDING')")
    con.execute("INSERT INTO payments_stg VALUES ('p1', NULL, 'PENDING')")
    # value → NULL is a real change (plain <> would miss it)...
    assert con.execute(sql).fetchall() == [(1,)]
    assert con.execute("SELECT amount FROM payments").fetchall() == [(None,)]
    # ...and NULL → NULL is a no-op, not a perpetual update
    assert con.execute(sql).fetchall() == [(0,)]


def test_postgres_dialect_pure_key_do_nothing_on_duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute('CREATE TABLE "seen" (k VARCHAR, v BIGINT, PRIMARY KEY (k, v))')
    con.execute('CREATE TABLE "seen_stg" (k VARCHAR, v BIGINT)')
    con.execute("INSERT INTO seen VALUES ('a', 1)")
    con.execute("INSERT INTO seen_stg VALUES ('a', 1), ('b', 2)")
    sql = upsert_statement("seen", "seen_stg", ["k", "v"], ["k", "v"])
    assert sql.endswith("DO NOTHING")
    assert con.execute(sql).fetchall() == [(1,)]   # only the new pair lands
    assert con.execute(sql).fetchall() == [(0,)]   # replay is a no-op
    assert con.execute("SELECT * FROM seen ORDER BY k").fetchall() == [
        ("a", 1), ("b", 2)
    ]


def test_read_jdbc_partitioned_derby_parallel_slices(spark, tmp_path):
    """Parallel JDBC read against live Derby: auto-probed bounds fan
    the scan into range-predicated partitions, every row arrives
    exactly once, and a filter still pushes into the per-partition
    queries."""
    from square_etl_spark.io import read_jdbc_partitioned

    url = f"jdbc:derby:{tmp_path}/rdb;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute('CREATE TABLE "src" ("k" INT NOT NULL, "v" VARCHAR(32))')
    ps = conn.prepareStatement('INSERT INTO "src" VALUES (?, ?)')
    for i in range(100):
        ps.setInt(1, i)
        ps.setString(2, f"v{i}")
        ps.addBatch()
    ps.executeBatch()
    conn.close()

    df = read_jdbc_partitioned(
        spark, url, '"src"', '"k"', num_partitions=4,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    assert df.rdd.getNumPartitions() == 4
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert got == [(i, f"v{i}") for i in range(100)]
    # no partition is empty and none has everything: the range
    # predicates genuinely sliced the scan
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == 4 and max(sizes) < 100 and sum(sizes) == 100

    # filter pushdown reaches the JDBC source
    plan = (
        df.filter(F.col("k") < 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "LessThan" in plan


def test_read_jdbc_partitioned_empty_table_raises_named_error(spark, tmp_path):
    from square_etl_spark.io import read_jdbc_partitioned

    url = f"jdbc:derby:{tmp_path}/edb;create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute('CREATE TABLE "empty" ("k" INT)')
    conn.close()
    with pytest.raises(ValueError, match="empty"):
        read_jdbc_partitioned(
            spark, url, '"empty"', '"k"',
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
