"""Merge sink K1–K3: last-writer-wins, idempotence, atomicity
(SURVEY.md §2.2, §5: *run twice ≡ run once* is the reference's implicit
metamorphic property)."""

from __future__ import annotations

import os

from square_etl_spark.sinks.merge import merge_dataframes, merge_upsert

SCHEMA = "k string, v long, updated_at timestamp"


def _rows(spark, path):
    return {
        (r.k, r.v)
        for r in spark.read.schema(SCHEMA).parquet(path).collect()
    }


def test_merge_dataframes_batch_beats_target(spark):
    target = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00"), ("b", 2, "2024-01-01 00:00:00")],
        "k string, v long, updated_at string",
    )
    batch = spark.createDataFrame(
        [("b", 20, "2024-01-02 00:00:00"), ("c", 30, "2024-01-02 00:00:00")],
        "k string, v long, updated_at string",
    )
    out = {
        (r.k, r.v)
        for r in merge_dataframes(target, batch, ["k"], ["updated_at"]).collect()
    }
    assert out == {("a", 1), ("b", 20), ("c", 30)}


def test_merge_dedups_batch_last_writer_wins(spark):
    # within one batch the newest row per key is what persists (A3)
    batch = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00"), ("a", 2, "2024-01-03 00:00:00")],
        "k string, v long, updated_at string",
    )
    out = merge_dataframes(None, batch, ["k"], ["updated_at"]).collect()
    assert [(r.k, r.v) for r in out] == [("a", 2)]


def test_merge_upsert_idempotent(spark, tmp_path):
    target = os.path.join(tmp_path, "tbl")
    batch = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00"), ("b", 2, "2024-01-01 00:00:00")],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    n1 = merge_upsert(spark, target, batch, ["k"], ["updated_at"])
    state1 = _rows(spark, target)
    n2 = merge_upsert(spark, target, batch, ["k"], ["updated_at"])
    state2 = _rows(spark, target)
    assert n1 == n2 == 2
    assert state1 == state2 == {("a", 1), ("b", 2)}


def test_merge_upsert_applies_updates(spark, tmp_path):
    target = os.path.join(tmp_path, "tbl")
    b1 = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00")], "k string, v long, updated_at string"
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    b2 = spark.createDataFrame(
        [("a", 99, "2024-01-02 00:00:00"), ("z", 7, "2024-01-02 00:00:00")],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, b1, ["k"], ["updated_at"])
    merge_upsert(spark, target, b2, ["k"], ["updated_at"])
    assert _rows(spark, target) == {("a", 99), ("z", 7)}


def test_merge_upsert_empty_batch_short_circuits(spark, tmp_path):
    # K3 (src/etl-square-payments.ts:50-53)
    target = os.path.join(tmp_path, "tbl")
    empty = spark.createDataFrame([], SCHEMA)
    assert merge_upsert(spark, target, empty, ["k"], ["updated_at"]) == 0
    assert not os.path.exists(target)


def test_merge_stamps_updated_at_only_on_updates(spark, tmp_path):
    # K2: updated_at = CURRENT_TIMESTAMP only in the DO UPDATE branch
    # (src/etl-square-inventory.ts:97)
    target = os.path.join(tmp_path, "tbl")
    b1 = spark.createDataFrame(
        [("a", 1, "2020-01-01 00:00:00")], "k string, v long, updated_at string"
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, b1, ["k"], ["updated_at"])
    b2 = spark.createDataFrame(
        [("a", 2, "2020-01-02 00:00:00"), ("new", 3, "2020-01-02 00:00:00")],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, b2, ["k"], ["updated_at"], stamp_updated_at=True)
    got = {r.k: r for r in spark.read.parquet(target).collect()}
    # updated row restamped to "now" (well past 2020); insert keeps its ts
    assert got["a"].updated_at.year >= 2025
    assert got["new"].updated_at.year == 2020


def test_merge_upsert_failed_write_leaves_target_intact(spark, tmp_path):
    # E3 atomicity: a batch whose write fails mid-job must not corrupt
    # the existing target (temp-dir + swap, never in-place overwrite).
    import os

    import pytest
    from pyspark.sql import functions as F

    target = os.path.join(tmp_path, "tbl")
    good = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00")], "k string, v long, updated_at string"
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, good, ["k"], ["updated_at"])

    poison = good.withColumn(
        "v",
        F.when(F.col("v") >= 0, F.raise_error("injected write failure")).otherwise(
            F.lit(0)
        ).cast("long"),
    )
    with pytest.raises(Exception, match="injected write failure"):
        merge_upsert(spark, target, poison, ["k"], ["updated_at"])
    assert _rows(spark, target) == {("a", 1)}


# ---------------------------------------------------------------------------
# Partition-restricted merge (the 100 TB shape): only touched partitions
# rewrite; untouched partition files stay byte-identical on disk.
# ---------------------------------------------------------------------------

PSCHEMA = "k string, v long, updated_at timestamp, day string"


def _pfiles(path, day):
    """(name, size, sha256) of every parquet file in one partition dir."""
    import hashlib

    d = os.path.join(path, f"day={day}")
    out = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(d, f)
        with open(p, "rb") as fh:
            out.append((f, os.path.getsize(p), hashlib.sha256(fh.read()).hexdigest()))
    return out


def _pbatch(spark, rows):
    return spark.createDataFrame(
        rows, "k string, v long, updated_at string, day string"
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at", "day")


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    from square_etl_spark.sinks.merge import merge_upsert_partitioned

    target = os.path.join(tmp_path, "tbl")
    seed = _pbatch(spark, [
        ("a", 1, "2024-01-01 00:00:00", "2024-01-01"),
        ("b", 2, "2024-01-01 00:00:00", "2024-01-01"),
        ("c", 3, "2024-01-02 00:00:00", "2024-01-02"),
    ])
    merge_upsert_partitioned(spark, target, seed, ["k"], ["updated_at"], "day")
    day1_before = _pfiles(target, "2024-01-01")

    batch = _pbatch(spark, [
        ("c", 30, "2024-01-02 12:00:00", "2024-01-02"),
        ("d", 40, "2024-01-02 12:00:00", "2024-01-02"),
    ])
    n = merge_upsert_partitioned(spark, target, batch, ["k"], ["updated_at"], "day")
    assert n == 2  # rows written = touched-slice size, not table size

    # untouched partition: files byte-identical (not rewritten)
    assert _pfiles(target, "2024-01-01") == day1_before
    got = {
        (r.k, r.v)
        for r in spark.read.schema(PSCHEMA)
        .option("basePath", target).parquet(target).collect()
    }
    assert got == {("a", 1), ("b", 2), ("c", 30), ("d", 40)}


def test_partitioned_merge_idempotent(spark, tmp_path):
    from square_etl_spark.sinks.merge import merge_upsert_partitioned

    target = os.path.join(tmp_path, "tbl")
    batch = _pbatch(spark, [
        ("a", 1, "2024-01-01 00:00:00", "2024-01-01"),
        ("c", 3, "2024-01-02 00:00:00", "2024-01-02"),
    ])
    n1 = merge_upsert_partitioned(spark, target, batch, ["k"], ["updated_at"], "day")
    n2 = merge_upsert_partitioned(spark, target, batch, ["k"], ["updated_at"], "day")
    got = {
        (r.k, r.v)
        for r in spark.read.schema(PSCHEMA)
        .option("basePath", target).parquet(target).collect()
    }
    assert n1 == n2 == 2
    assert got == {("a", 1), ("c", 3)}


def test_partitioned_merge_null_partition_rows_survive(spark, tmp_path):
    """NULL partition values (hive __HIVE_DEFAULT_PARTITION__) must merge,
    not vanish: ``isin(touched)`` never matches NULL, so before the
    explicit isNull branch the target's prior NULL-partition rows were
    excluded from the merge slice while the swap still replaced their
    directory — silent data loss (r03 ADVICE, medium)."""
    from square_etl_spark.sinks.merge import merge_upsert_partitioned

    target = os.path.join(tmp_path, "tbl")
    seed = _pbatch(spark, [
        ("a", 1, "2024-01-01 00:00:00", "2024-01-01"),
        ("n1", 9, "2024-01-01 00:00:00", None),   # NULL partition
        ("n2", 8, "2024-01-01 00:00:00", None),
    ])
    merge_upsert_partitioned(spark, target, seed, ["k"], ["updated_at"], "day")

    # batch touches the NULL partition: updates n1, inserts n3 — n2 must survive
    batch = _pbatch(spark, [
        ("n1", 90, "2024-01-02 00:00:00", None),
        ("n3", 7, "2024-01-02 00:00:00", None),
    ])
    n = merge_upsert_partitioned(spark, target, batch, ["k"], ["updated_at"], "day")
    assert n == 3  # n1 (updated) + n2 (survivor) + n3 (insert)
    got = {
        (r.k, r.v)
        for r in spark.read.schema(PSCHEMA)
        .option("basePath", target).parquet(target).collect()
    }
    assert got == {("a", 1), ("n1", 90), ("n2", 8), ("n3", 7)}

    # batch NOT touching the NULL partition leaves it byte-identical
    import hashlib

    null_dir = os.path.join(target, "day=__HIVE_DEFAULT_PARTITION__")
    before = sorted(
        (f, hashlib.sha256(open(os.path.join(null_dir, f), "rb").read()).hexdigest())
        for f in os.listdir(null_dir) if f.endswith(".parquet")
    )
    batch2 = _pbatch(spark, [("a", 11, "2024-01-03 00:00:00", "2024-01-01")])
    merge_upsert_partitioned(spark, target, batch2, ["k"], ["updated_at"], "day")
    after = sorted(
        (f, hashlib.sha256(open(os.path.join(null_dir, f), "rb").read()).hexdigest())
        for f in os.listdir(null_dir) if f.endswith(".parquet")
    )
    assert before == after


def test_partitioned_merge_empty_batch_short_circuits(spark, tmp_path):
    from square_etl_spark.sinks.merge import merge_upsert_partitioned

    target = os.path.join(tmp_path, "tbl")
    empty = spark.createDataFrame([], PSCHEMA)
    assert merge_upsert_partitioned(
        spark, target, empty, ["k"], ["updated_at"], "day"
    ) == 0
    assert not os.path.exists(target)


def test_merge_upsert_counts_on_write_no_reread_job(spark, tmp_path):
    """The merge returns its row count from an Observation riding the
    write job (merge._write_counted) instead of re-reading the merged
    output — one fewer Spark job, and at 100 TB one fewer full scan,
    per merge.  Pinned via job groups: the old re-read variant measured
    exactly one job more on both paths (4 fresh / 7 existing)."""
    target = os.path.join(tmp_path, "tbl")
    batch = _pbatch(spark, [
        ("a", 1, "2024-01-01 00:00:00", "2024-01-01"),
        ("b", 2, "2024-01-01 00:00:00", "2024-01-01"),
    ]).drop("day")
    sc = spark.sparkContext
    sc.setJobGroup("merge-fresh", "observe count, fresh target")
    n1 = merge_upsert(spark, target, batch, ["k"], ["updated_at"])
    fresh_jobs = len(sc.statusTracker().getJobIdsForGroup("merge-fresh"))
    sc.setJobGroup("merge-existing", "observe count, existing target")
    n2 = merge_upsert(spark, target, batch, ["k"], ["updated_at"])
    existing_jobs = len(sc.statusTracker().getJobIdsForGroup("merge-existing"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert n1 == n2 == 2
    assert fresh_jobs <= 3, f"fresh merge ran {fresh_jobs} jobs (re-read crept back?)"
    assert existing_jobs <= 6, f"existing merge ran {existing_jobs} jobs"


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history
# ---------------------------------------------------------------------------


def _scd_batch(spark, rows):
    return spark.createDataFrame(
        rows, "k string, payload string, ts string"
    ).selectExpr("k", "payload", "cast(ts as timestamp) ts")


def _scd_state(df):
    return {
        (r.k, r.payload, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    }


def test_scd2_change_reopen_and_noop(spark):
    """a changes then changes BACK (3 versions), b never changes
    (1 version, no churn on re-delivery), c appears late."""
    from square_etl_spark.sinks.merge import scd2_merge

    h = scd2_merge(
        None,
        _scd_batch(spark, [("a", "x", "2024-01-01 00:00:00"),
                           ("b", "q", "2024-01-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    h = scd2_merge(
        h,
        _scd_batch(spark, [("a", "y", "2024-02-01 00:00:00"),
                           ("b", "q", "2024-02-01 00:00:00"),
                           ("c", "n", "2024-02-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    h = scd2_merge(
        h,
        _scd_batch(spark, [("a", "x", "2024-03-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    got = _scd_state(h)
    assert got == {
        ("a", "x", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
        ("a", "y", "2024-02-01 00:00:00", "2024-03-01 00:00:00", False),
        ("a", "x", "2024-03-01 00:00:00", "None", True),
        ("b", "q", "2024-01-01 00:00:00", "None", True),
        ("c", "n", "2024-02-01 00:00:00", "None", True),
    }
    # invariant: exactly one current row per key
    cur = h.filter("is_current").groupBy("k").count().filter("count > 1")
    assert cur.count() == 0


def test_scd2_in_batch_dedupe_last_writer(spark):
    from square_etl_spark.sinks.merge import scd2_merge

    h = scd2_merge(
        None,
        _scd_batch(spark, [("a", "v1", "2024-01-01 00:00:00"),
                           ("a", "v2", "2024-01-02 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    assert _scd_state(h) == {("a", "v2", "2024-01-02 00:00:00", "None", True)}


def test_scd2_late_batch_is_ignored_not_corrupting(spark):
    """A batch whose ts predates (or equals) the current version's
    valid_from must be a no-op: applying it would close the current row
    with valid_to < valid_from — inverted/overlapping history (r03
    ADVICE).  Batches are contractually non-decreasing in order_col;
    the guard turns an out-of-order replay into a no-op."""
    from square_etl_spark.sinks.merge import scd2_merge

    h = scd2_merge(
        None,
        _scd_batch(spark, [("a", "current", "2024-06-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    want = {("a", "current", "2024-06-01 00:00:00", "None", True)}
    # strictly earlier ts, different payload → ignored
    h = scd2_merge(
        h,
        _scd_batch(spark, [("a", "stale", "2024-01-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    assert _scd_state(h) == want
    # equal ts, different payload → also ignored (zero-length version
    # would otherwise appear)
    h = scd2_merge(
        h,
        _scd_batch(spark, [("a", "tied", "2024-06-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    assert _scd_state(h) == want
    # and a later-ts change still applies normally afterwards
    h = scd2_merge(
        h,
        _scd_batch(spark, [("a", "newer", "2024-07-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    assert _scd_state(h) == {
        ("a", "current", "2024-06-01 00:00:00", "2024-07-01 00:00:00", False),
        ("a", "newer", "2024-07-01 00:00:00", "None", True),
    }


def test_scd2_single_join_in_plan(spark):
    """The keep/close/open branches are emitted in ONE pass over the
    full-outer join (array-of-structs + explode): the join subtree must
    appear exactly once in the physical plan.  The earlier
    filter-three-ways-and-union shape planned (and could execute) the
    same join 3× (r03 VERDICT nit)."""
    import re

    from square_etl_spark.sinks.merge import scd2_merge

    target = scd2_merge(
        None,
        _scd_batch(spark, [("a", "x", "2024-01-01 00:00:00"),
                           ("b", "q", "2024-01-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    out = scd2_merge(
        target,
        _scd_batch(spark, [("a", "y", "2024-02-01 00:00:00"),
                           ("c", "n", "2024-02-01 00:00:00")]),
        ["k"], "ts", ["payload"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, f"expected exactly 1 join in plan, got {joins}"


def test_cdc_merge_insert_update_delete_fold(spark, tmp_path):
    """Full-CRUD CDC fold: last op per key wins within a batch, final
    'D' removes the key, a later batch re-inserts it, deleting an
    absent key is a no-op."""
    import os

    from square_etl_spark.sinks.merge import cdc_merge

    tgt = os.path.join(tmp_path, "cdc_tgt")
    schema = "id long, val string, seq long, op string"
    # batch 1: insert 1,2,3; key 2 updated then DELETED in-batch;
    # delete of absent key 9 is a no-op
    b1 = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (2, "b2", 2, "U"),
         (2, None, 3, "D"), (3, "c", 1, "I"), (9, None, 1, "D")],
        schema,
    )
    cdc_merge(spark, tgt, b1, ["id"], ["seq"])
    got = {r.id: r.val for r in spark.read.parquet(tgt).collect()}
    assert got == {1: "a", 3: "c"}

    # batch 2: update 1, delete 3, re-insert 2
    b2 = spark.createDataFrame(
        [(1, "a2", 4, "U"), (3, None, 4, "D"), (2, "b3", 4, "I")],
        schema,
    )
    cdc_merge(spark, tgt, b2, ["id"], ["seq"])
    got = {r.id: r.val for r in spark.read.parquet(tgt).collect()}
    assert got == {1: "a2", 2: "b3"}

    # replaying batch 2 is idempotent (same fold, same survivors)
    cdc_merge(spark, tgt, b2, ["id"], ["seq"])
    got2 = {r.id: r.val for r in spark.read.parquet(tgt).collect()}
    assert got2 == got


def test_snapshot_diff_classifies_and_round_trips(spark):
    """snapshot_diff emits exactly the I/U/D delta (unchanged keys are
    silent), and folding the feed back with cdc_merge_dataframes
    reconstructs the new snapshot exactly — diff and merge are
    inverses."""
    from square_etl_spark.sinks.merge import (
        cdc_merge_dataframes,
        snapshot_diff,
    )

    schema = "id long, status string, amount double"
    old = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "B", None)],
        schema,
    )
    new = spark.createDataFrame(
        [(1, "A", 10.0),          # unchanged → silent
         (2, "A", 25.0),          # amount changed → U
         (4, "B", 40.0),          # NULL → value change → U (null-safe)
         (5, "C", 50.0)],         # new key → I; key 3 gone → D
        schema,
    )
    feed = snapshot_diff(old, new, ["id"], ["status", "amount"])
    ops = {r.id: r.op for r in feed.collect()}
    assert ops == {2: "U", 3: "D", 4: "U", 5: "I"}
    # delete rows carry NULL payload
    d3 = [r for r in feed.collect() if r.id == 3][0]
    assert d3.status is None and d3.amount is None

    merged = cdc_merge_dataframes(old, feed, ["id"], ["id"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_snapshot_diff_identical_snapshots_empty_feed(spark):
    from square_etl_spark.sinks.merge import snapshot_diff

    df = spark.createDataFrame([(1, "A", 1.0)], "id long, s string, a double")
    assert snapshot_diff(df, df, ["id"], ["s", "a"]).count() == 0


def test_snapshot_diff_no_compare_cols_is_existence_only(spark):
    """Empty compare_cols = legitimate key-presence diff: only I and D
    emit; keys present on both sides are unchanged by definition."""
    from square_etl_spark.sinks.merge import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "id long")
    new = spark.createDataFrame([(2,), (3,)], "id long")
    ops = {r.id: r.op for r in snapshot_diff(old, new, ["id"], []).collect()}
    assert ops == {1: "D", 3: "I"}


def test_cdc_feed_into_versioned_table_with_time_travel(spark, tmp_path):
    """Lifecycle composition: each CDC refresh publishes a NEW immutable
    snapshot of the target (versioned_write), so every historical state
    of the merged table stays reproducible until vacuum — the
    'reproduce last week's training table' contract over the plain
    merge sinks."""
    import os

    from pyspark.sql import functions as F

    from square_etl_spark.io import read_version, versioned_write
    from square_etl_spark.sinks.merge import cdc_merge_dataframes

    path = os.path.join(tmp_path, "cdc_versions")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, seq long"
    )
    versioned_write(spark, base, path)

    feed1 = spark.createDataFrame(
        [(2, "b2", 2, "U"), (3, "c", 2, "I")],
        "k long, v string, seq long, op string",
    )
    t1 = cdc_merge_dataframes(read_version(spark, path), feed1, ["k"], ["seq"])
    versioned_write(spark, t1, path)

    feed2 = spark.createDataFrame(
        [(1, None, 3, "D")], "k long, v string, seq long, op string"
    )
    t2 = cdc_merge_dataframes(read_version(spark, path), feed2, ["k"], ["seq"])
    versioned_write(spark, t2, path)

    def snap(v):
        return {
            r["k"]: r["v"]
            for r in read_version(spark, path, v).select("k", "v").collect()
        }

    assert snap(1) == {1: "a", 2: "b"}
    assert snap(2) == {1: "a", 2: "b2", 3: "c"}
    assert snap(3) == {2: "b2", 3: "c"}  # k=1 deleted in the latest


# ---------------------------------------------------------------------------
# Concurrent WRITERS (r12 verdict item 6): the swap is reader-atomic;
# the writer lock makes simultaneous merges to one target compose
# (loser waits, then merges onto the winner's published rows) or fail
# loudly — never silently last-swap-wins a whole table.
# ---------------------------------------------------------------------------


def _b(spark, rows):
    return spark.createDataFrame(rows, SCHEMA.replace("timestamp", "string")).selectExpr(
        "k", "v", "cast(updated_at as timestamp) updated_at"
    )


def test_concurrent_writer_waits_then_composes(spark, tmp_path):
    """Writer B arrives while the lock is held: it WAITS, then reads
    the state the winner published — both batches' rows survive."""
    import threading

    from square_etl_spark.sinks.merge import _table_lock

    target = os.path.join(tmp_path, "tbl")
    merge_upsert(spark, target, _b(spark, [("a", 1, "2024-01-01 00:00:00")]),
                 ["k"], ["updated_at"])

    done = {}

    def writer_b():
        done["n"] = merge_upsert(
            spark, target, _b(spark, [("b", 2, "2024-01-02 00:00:00")]),
            ["k"], ["updated_at"], lock_timeout_s=60.0,
        )

    with _table_lock(target):
        t = threading.Thread(target=writer_b)
        t.start()
        t.join(timeout=2.0)
        assert t.is_alive(), "writer B must block while the lock is held"
    t.join(timeout=120.0)
    assert not t.is_alive() and done["n"] == 2
    assert _rows(spark, target) == {("a", 1), ("b", 2)}


def test_concurrent_writers_both_batches_survive(spark, tmp_path):
    """Two simultaneous merges of DISJOINT batches: whatever the
    interleaving, the final table carries both — the exact failure
    the unserialized swap had (last writer dropped the other's rows)."""
    import threading

    target = os.path.join(tmp_path, "tbl")
    errs = []

    def w(rows):
        try:
            merge_upsert(spark, target, _b(spark, rows), ["k"],
                         ["updated_at"], lock_timeout_s=120.0)
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=w, args=([("a", 1, "2024-01-01 00:00:00")],))
    t2 = threading.Thread(target=w, args=([("b", 2, "2024-01-01 00:00:00")],))
    t1.start(); t2.start(); t1.join(180); t2.join(180)
    assert not errs
    assert _rows(spark, target) == {("a", 1), ("b", 2)}


def test_lock_starvation_raises_loudly(spark, tmp_path):
    """A writer that cannot get the lock inside its timeout raises
    ConcurrentWriterError — never proceeds into a racing swap."""
    import pytest

    from square_etl_spark.sinks.merge import (
        ConcurrentWriterError,
        _table_lock,
    )

    target = os.path.join(tmp_path, "tbl")
    with _table_lock(target):
        with pytest.raises(ConcurrentWriterError):
            merge_upsert(
                spark, target, _b(spark, [("a", 1, "2024-01-01 00:00:00")]),
                ["k"], ["updated_at"], lock_timeout_s=1.0,
            )
    assert not os.path.exists(target)  # the loser never wrote anything


def test_stale_lock_from_dead_writer_is_swept(spark, tmp_path):
    """A lock whose recorded owner pid is dead (crashed writer, same
    host) is swept and the new writer proceeds — the
    _sweep_stale_staging posture applied to the writer lock."""
    import json as _json
    import socket as _socket

    target = os.path.join(tmp_path, "tbl")
    lock = target + ".lock"
    os.makedirs(lock)
    # pid from the far end of pid space, already-reaped: liveness probe fails
    with open(os.path.join(lock, "owner.json"), "w") as fh:
        _json.dump({"pid": 2**22 + 12345, "host": _socket.gethostname(),
                    "ts": __import__("time").time()}, fh)
    n = merge_upsert(
        spark, target, _b(spark, [("a", 1, "2024-01-01 00:00:00")]),
        ["k"], ["updated_at"], lock_timeout_s=30.0,
    )
    assert n == 1 and _rows(spark, target) == {("a", 1)}
    assert not os.path.exists(lock)  # released after the merge


def test_live_foreign_lock_is_respected(spark, tmp_path):
    """A lock held by a LIVE process (this one) with a fresh heartbeat
    is never swept as stale — staleness requires a dead pid or an
    expired TTL, not mere impatience."""
    import pytest

    from square_etl_spark.sinks.merge import (
        ConcurrentWriterError,
        _lock_is_stale,
    )

    target = os.path.join(tmp_path, "tbl")
    lock = target + ".lock"
    os.makedirs(lock)
    import json as _json
    import socket as _socket
    import time as _time
    owner = os.path.join(lock, "owner.json")
    with open(owner, "w") as fh:
        _json.dump({"pid": os.getpid(), "host": _socket.gethostname(),
                    "ts": _time.time()}, fh)
    assert not _lock_is_stale(owner)
    with pytest.raises(ConcurrentWriterError):
        merge_upsert(
            spark, target, _b(spark, [("a", 1, "2024-01-01 00:00:00")]),
            ["k"], ["updated_at"], lock_timeout_s=1.0,
        )


def test_lock_heartbeat_keeps_long_holders_alive(monkeypatch, tmp_path):
    """A live holder's heartbeat re-stamps owner.json every TTL/4, so
    a contender never judges it stale however long the merge runs —
    only a crashed writer (dead pid / frozen heartbeat) is sweepable."""
    import json as _json
    import time as _time

    from square_etl_spark.sinks import merge as m

    monkeypatch.setattr(m, "LOCK_TTL_S", 0.4)  # heartbeat every 0.1 s
    target = os.path.join(tmp_path, "tbl")
    owner = target + ".lock/owner.json"
    with m._table_lock(target):
        first = _json.load(open(owner))["ts"]
        _time.sleep(0.65)  # > TTL: without the heartbeat this goes stale
        assert _json.load(open(owner))["ts"] > first
        assert not m._lock_is_stale(owner)
    assert not os.path.exists(target + ".lock")


def test_release_never_evicts_a_new_holder(tmp_path):
    """If a contender (wrongly or rightly) judged this holder stale and
    took the lock over, the original holder's release must NOT rmtree
    the NEW holder's lock dir — that would let a third writer in and
    reintroduce the silent last-swap-wins row loss.  Release checks
    owner.json for our own pid/host first and warns loudly otherwise."""
    import json as _json
    import warnings as _warnings

    from square_etl_spark.sinks import merge as m

    target = os.path.join(tmp_path, "tbl")
    owner = target + ".lock/owner.json"
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        with m._table_lock(target):
            # simulate a sweep-and-takeover: owner.json now names a
            # different process (the new holder)
            with open(owner, "w") as fh:
                _json.dump({"pid": os.getpid() + 1, "host": "elsewhere",
                            "ts": __import__("time").time()}, fh)
    assert os.path.isdir(target + ".lock"), "new holder's lock must survive"
    assert any("no longer owned" in str(w.message) for w in caught)
    import shutil as _shutil
    _shutil.rmtree(target + ".lock")


_CHILD_LOCK_SCRIPT = r"""
import json, os, sys, time
sys.path.insert(0, "__REPO__")
from square_etl_spark.sinks import merge as m
from square_etl_spark.sinks.merge import ConcurrentWriterError, _table_lock

target, timeout_s, marker = sys.argv[1], float(sys.argv[2]), sys.argv[3]
if len(sys.argv) > 4:
    m.LOCK_TTL_S = float(sys.argv[4])
try:
    with _table_lock(target, timeout_s=timeout_s, poll_s=0.1):
        # prove we held it: record our pid while inside the section
        with open(marker, "w") as fh:
            json.dump({"pid": os.getpid()}, fh)
        time.sleep(0.3)
except ConcurrentWriterError:
    sys.exit(7)  # loud, distinguishable failure — never a silent race
sys.exit(0)
"""


def _spawn_lock_child(tmp_path, target, timeout_s, ttl=None):
    import subprocess
    import sys as _sys

    marker = os.path.join(tmp_path, f"marker-{timeout_s}.json")
    script = _CHILD_LOCK_SCRIPT.replace("__REPO__", os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = [_sys.executable, "-c", script, target, str(timeout_s), marker]
    if ttl is not None:
        args.append(str(ttl))
    return subprocess.Popen(args), marker


def test_cross_process_lock_loser_fails_loudly(tmp_path):
    """A REAL second Python process contends for the writer lock while
    this process holds it: the child must block past its poll interval
    and then exit with the loud ConcurrentWriterError code — never
    exit 0 (which would mean it raced into the critical section)."""
    from square_etl_spark.sinks.merge import _table_lock

    target = os.path.join(tmp_path, "tbl")
    with _table_lock(target):
        child, marker = _spawn_lock_child(tmp_path, target, timeout_s=2.0)
        rc = child.wait(timeout=60)
    assert rc == 7, f"child must lose loudly (got exit {rc})"
    assert not os.path.exists(marker), "loser must never enter the section"


def test_cross_process_lock_blocks_then_takes_over(tmp_path):
    """The waiting child acquires the lock only AFTER this process
    releases it — cross-process mutual exclusion, then orderly
    handover (the winner's rows are never raced)."""
    import time as _time

    from square_etl_spark.sinks.merge import _table_lock

    target = os.path.join(tmp_path, "tbl")
    with _table_lock(target):
        child, marker = _spawn_lock_child(tmp_path, target, timeout_s=60.0)
        _time.sleep(1.5)
        assert child.poll() is None and not os.path.exists(marker), (
            "child must still be blocked while we hold the lock")
    assert child.wait(timeout=60) == 0
    assert os.path.exists(marker), "child must acquire after our release"


def test_cross_process_takeover_after_simulated_crash(tmp_path):
    """A crashed writer (owner.json heartbeat frozen past TTL, pid from
    a foreign host so no liveness probe applies) must not dead-lock the
    table: a second real process sweeps the stale lock, takes over, and
    releases cleanly."""
    import json as _json
    import time as _time

    target = os.path.join(tmp_path, "tbl")
    lock = target + ".lock"
    os.makedirs(lock)
    with open(os.path.join(lock, "owner.json"), "w") as fh:
        _json.dump({"pid": 12345, "host": "crashed-host",
                    "ts": _time.time() - 10.0}, fh)  # frozen heartbeat
    child, marker = _spawn_lock_child(tmp_path, target, timeout_s=30.0,
                                      ttl=1.0)
    assert child.wait(timeout=60) == 0
    assert os.path.exists(marker), "child must take over the stale lock"
    assert not os.path.exists(lock), "takeover must release cleanly"


def test_heartbeat_never_reclaims_a_taken_over_lock(monkeypatch, tmp_path):
    """A holder suspended past the TTL whose lock was swept and taken
    over must NOT have its heartbeat re-stamp owner.json back to
    itself — that would fake ownership, pass the owned-only release
    check, and rmtree the new holder's live lock (the exact scenario
    the release check was built for)."""
    import json as _json
    import time as _time
    import warnings as _warnings

    from square_etl_spark.sinks import merge as m

    monkeypatch.setattr(m, "LOCK_TTL_S", 0.4)  # heartbeat every 0.1 s
    target = os.path.join(tmp_path, "tbl")
    owner = target + ".lock/owner.json"
    foreign = {"pid": os.getpid() + 1, "host": "elsewhere",
               "ts": _time.time() + 3600}
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        with m._table_lock(target):
            # simulate sweep-and-takeover while this holder sleeps
            tmp = owner + ".tmp2"
            with open(tmp, "w") as fh:
                _json.dump(foreign, fh)
            os.replace(tmp, owner)
            _time.sleep(0.35)  # >= 2 heartbeat periods
            assert _json.load(open(owner)) == foreign, (
                "heartbeat must not clobber the new holder's stamp")
    assert os.path.isdir(target + ".lock"), "new holder's lock survives"
    assert any("no longer owned" in str(w.message) for w in caught)
    import shutil as _shutil
    _shutil.rmtree(target + ".lock")


def test_release_frees_own_bare_dir_when_stamp_failed(monkeypatch, tmp_path):
    """If the initial owner.json stamp fails (disk full/permission
    flap after the mkdir), release must still free OUR bare lock dir —
    leaving it would block every writer for up to LOCK_TTL_S.  A
    takeover always leaves an owner.json, so bare + never-stamped is
    provably ours."""
    import pytest

    from square_etl_spark.sinks import merge as m

    target = os.path.join(tmp_path, "tbl")

    real_replace = os.replace

    def failing_replace(src, dst):
        if dst.endswith("owner.json"):
            raise OSError("disk full")
        return real_replace(src, dst)

    monkeypatch.setattr(m.os, "replace", failing_replace)
    with pytest.raises(OSError, match="disk full"):
        with m._table_lock(target):
            pass  # pragma: no cover - stamp fails before the yield
    assert not os.path.exists(target + ".lock"), (
        "our never-stamped bare dir must be released, not leaked")


def test_heartbeat_never_stamps_into_a_fresh_unstamped_lock(monkeypatch, tmp_path):
    """After a successful stamp, a MISSING owner.json means the lock
    was swept; a contender may have mkdir'ed a fresh dir at the same
    path without having written its owner.json yet.  The heartbeat
    must treat that as ownership lost (return False), not as 'our
    initial stamp' — re-stamping into the fresh dir would fake
    ownership back through a narrower window of the exact reclaim the
    ownership check prevents (r14 advice)."""
    import shutil as _shutil
    import time as _time
    import warnings as _warnings

    from square_etl_spark.sinks import merge as m

    monkeypatch.setattr(m, "LOCK_TTL_S", 0.4)  # heartbeat every 0.1 s
    target = os.path.join(tmp_path, "tbl")
    lock_dir = target + ".lock"
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        with m._table_lock(target):
            # simulate a sweep (whole dir renamed away) + a contender's
            # fresh mkdir that has NOT stamped its owner.json yet
            os.rename(lock_dir, lock_dir + ".swept")
            _shutil.rmtree(lock_dir + ".swept")
            os.mkdir(lock_dir)
            _time.sleep(0.35)  # >= 2 heartbeat periods
            assert not os.path.exists(os.path.join(lock_dir, "owner.json")), (
                "heartbeat must not stamp into the contender's fresh dir")
    assert os.path.isdir(lock_dir), "contender's fresh lock must survive release"
    assert os.listdir(lock_dir) == [], "release must not write into it either"
    assert any("no longer owned" in str(w.message) for w in caught)
    _shutil.rmtree(lock_dir)


def test_release_leaves_a_contenders_fresh_bare_dir(monkeypatch, tmp_path):
    """Release-side twin of the heartbeat TOCTOU (r14 advice): if OUR
    stamp never succeeded AND a contender swept our bare dir and
    mkdir'ed a fresh one before our release runs, 'bare + never
    stamped' no longer proves the dir is ours.  The acquire token
    (written right after our own mkdir, gone with the swept dir)
    disambiguates: release must leave the contender's dir in place."""
    import shutil as _shutil

    import pytest

    from square_etl_spark.sinks import merge as m

    target = os.path.join(tmp_path, "tbl")
    lock_dir = target + ".lock"
    real_replace = os.replace

    def racing_replace(src, dst):
        if dst.endswith("owner.json"):
            # the contender races in the stamp-failure window: sweeps
            # our bare dir and re-creates a fresh, not-yet-stamped one
            os.rename(lock_dir, lock_dir + ".swept")
            _shutil.rmtree(lock_dir + ".swept")
            os.mkdir(lock_dir)
            raise OSError("disk full")
        return real_replace(src, dst)

    monkeypatch.setattr(m.os, "replace", racing_replace)
    with pytest.raises(OSError, match="disk full"):
        with m._table_lock(target):
            pass  # pragma: no cover - stamp fails before the yield
    assert os.path.isdir(lock_dir), (
        "release must not delete the contender's fresh lock dir")
    assert os.listdir(lock_dir) == [], "nothing of ours may be left inside"
    _shutil.rmtree(lock_dir)


def test_heartbeat_retry_after_failed_first_stamp_needs_the_token(
    monkeypatch, tmp_path
):
    """r15 advice: the heartbeat's missing-owner.json guard keyed only
    on stamped['ok'] — if the FIRST stamp soft-fails (permission flap
    reading the dir) and a contender later sweeps our bare dir and
    mkdirs a fresh unstamped one, a recovered heartbeat retry would
    stamp into the CONTENDER's dir and fake ownership back.  The
    retry must require our acquire token (gone with the swept dir),
    exactly as the release path does."""
    import builtins
    import shutil as _shutil
    import time as _time
    import warnings as _warnings

    from square_etl_spark.sinks import merge as m

    monkeypatch.setattr(m, "LOCK_TTL_S", 0.4)  # heartbeat every 0.1 s
    target = os.path.join(tmp_path, "tbl")
    lock_dir = target + ".lock"
    owner = os.path.join(lock_dir, "owner.json")

    state = {"fail_reads": True}
    real_open = builtins.open

    def flaky_open(path, *a, **k):
        # soft-fail only the owner.json READ while the flap is on: the
        # first _stamp then returns False (unreadable branch) without
        # raising, so the lock is held with stamped['ok'] == False and
        # the heartbeat keeps retrying — the advice's exact window
        if (
            state["fail_reads"]
            and os.fspath(path) == owner
            and not a
            and not k
        ):
            raise PermissionError("transient flap")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", flaky_open)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        with m._table_lock(target):
            # the contender sweeps our bare dir (token goes with it)
            # and re-creates a fresh, not-yet-stamped one; the flap
            # then clears so heartbeat retries CAN write again
            os.rename(lock_dir, lock_dir + ".swept")
            _shutil.rmtree(lock_dir + ".swept")
            os.mkdir(lock_dir)
            state["fail_reads"] = False
            _time.sleep(0.35)  # >= 2 heartbeat periods
            assert not os.path.exists(owner), (
                "recovered heartbeat must not stamp into the "
                "contender's fresh dir without our acquire token")
    assert os.path.isdir(lock_dir), "contender's fresh lock must survive"
    assert os.listdir(lock_dir) == [], "release must not write into it"
    assert any("no longer owned" in str(w.message) for w in caught)
    _shutil.rmtree(lock_dir)


def test_merge_frozen_batch_ts_stamps_deterministically(spark, tmp_path):
    """K2 with an injected batch timestamp (r14 verdict item 4): the
    update-branch stamp is the frozen literal — value-for-value
    checkable and idempotent under batch replay — while inserts keep
    their own updated_at, exactly the reference's branch split."""
    import datetime

    target = os.path.join(tmp_path, "tbl")
    b1 = spark.createDataFrame(
        [("a", 1, "2020-01-01 00:00:00")], "k string, v long, updated_at string"
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, b1, ["k"], ["updated_at"])
    b2 = spark.createDataFrame(
        [("a", 2, "2020-01-02 00:00:00"), ("new", 3, "2020-01-02 00:00:00")],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    frozen = "2024-06-30 12:00:00"
    merge_upsert(
        spark, target, b2, ["k"], ["updated_at"],
        stamp_updated_at=True, batch_ts=frozen,
    )
    got = {r.k: r for r in spark.read.parquet(target).collect()}
    assert got["a"].updated_at == datetime.datetime(2024, 6, 30, 12, 0, 0)
    assert got["new"].updated_at.year == 2020
    # replaying the batch: every batch key now MATCHES, so K2 stamps
    # them all (the reference's DO UPDATE fires regardless of value
    # equality) — but with a frozen batch_ts the state reaches a
    # fixpoint: the second replay changes nothing the first didn't
    merge_upsert(
        spark, target, b2, ["k"], ["updated_at"],
        stamp_updated_at=True, batch_ts=frozen,
    )
    second = {(r.k, r.v, r.updated_at) for r in spark.read.parquet(target).collect()}
    assert {k for k, _, _ in second} == {"a", "new"}
    assert all(ts == datetime.datetime(2024, 6, 30, 12, 0) for _, _, ts in second)
    merge_upsert(
        spark, target, b2, ["k"], ["updated_at"],
        stamp_updated_at=True, batch_ts=frozen,
    )
    third = {(r.k, r.v, r.updated_at) for r in spark.read.parquet(target).collect()}
    assert second == third


def test_k2_within_batch_duplicate_on_new_key_keeps_its_own_stamp(
    spark, tmp_path
):
    """Documented deviation from the reference (r15 advice): a batch
    carrying TWO rows for a key ABSENT from the target resolves
    set-oriented — last_writer_wins picks one, and because the key
    never existed in the target it goes through the insert branch
    with its OWN updated_at.  The reference's row-at-a-time ON
    CONFLICT would stamp it (the second row conflicts with the first
    row's fresh insert); that stamp is an execution-order artifact,
    not the update-vs-insert contract — see the merge_dataframes
    docstring.  A duplicated key that DOES exist in the target is
    stamped, same as any other hit."""
    import datetime

    target = os.path.join(tmp_path, "tbl")
    b1 = spark.createDataFrame(
        [("old", 0, "2019-01-01 00:00:00")],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(spark, target, b1, ["k"], ["updated_at"])
    frozen = "2024-06-30 12:00:00"
    b2 = spark.createDataFrame(
        [
            ("fresh", 1, "2020-01-01 00:00:00"),  # duplicated, key new
            ("fresh", 2, "2020-01-02 00:00:00"),  # the within-batch winner
            ("old", 3, "2020-01-02 00:00:00"),    # duplicated, key exists
            ("old", 4, "2020-01-03 00:00:00"),
        ],
        "k string, v long, updated_at string",
    ).selectExpr("k", "v", "cast(updated_at as timestamp) updated_at")
    merge_upsert(
        spark, target, b2, ["k"], ["updated_at"],
        stamp_updated_at=True, batch_ts=frozen,
    )
    got = {r.k: r for r in spark.read.parquet(target).collect()}
    # new key: winner row's own timestamp survives (NOT the batch stamp)
    assert got["fresh"].v == 2
    assert got["fresh"].updated_at == datetime.datetime(2020, 1, 2, 0, 0)
    # existing key: winner is stamped with the frozen batch timestamp
    assert got["old"].v == 4
    assert got["old"].updated_at == datetime.datetime(2024, 6, 30, 12, 0)


# ---------------------------------------------------------------------------
# NULL keys, tie-breaks, plan shape and action count of the keyed fold
# ---------------------------------------------------------------------------


def test_merge_null_keys_match_nothing(spark):
    """A NULL key column equals nothing, as in the equi-join ON CONFLICT
    the reference runs: a target row with a NULL key survives a batch
    holding the same NULL key, batch NULL-key rows still dedup among
    themselves (window partitions group NULLs), and the K2 stamp never
    fires on a NULL key.  Composite keys follow the same rule when any
    one key column is NULL."""
    stamp = "2030-01-01 00:00:00"
    schema = "k string, j long, v long, updated_at string"
    target = spark.createDataFrame(
        [(None, 1, 1, "2024-01-01 00:00:00"),
         ("a", 1, 2, "2024-01-01 00:00:00"),
         ("b", None, 3, "2024-01-01 00:00:00")],
        schema,
    ).selectExpr("k", "j", "v", "cast(updated_at as timestamp) updated_at")
    batch = spark.createDataFrame(
        [(None, 1, 10, "2024-01-02 00:00:00"),
         (None, 1, 11, "2024-01-03 00:00:00"),
         ("a", 1, 20, "2024-01-02 00:00:00"),
         ("b", None, 30, "2024-01-02 00:00:00")],
        schema,
    ).selectExpr("k", "j", "v", "cast(updated_at as timestamp) updated_at")
    out = merge_dataframes(
        target, batch, ["k", "j"], ["updated_at"],
        stamp_updated_at=True, batch_ts=stamp,
    )
    got = sorted(
        ((r.k, r.j, r.v, str(r.updated_at)) for r in out.collect()),
        key=lambda t: t[2],
    )
    assert got == [
        (None, 1, 1, "2024-01-01 00:00:00"),  # target NULL key survives
        ("b", None, 3, "2024-01-01 00:00:00"),
        (None, 1, 11, "2024-01-03 00:00:00"),  # batch NULLs dedup, unstamped
        ("a", 1, 20, stamp),  # key hit: stamped
        ("b", None, 30, "2024-01-02 00:00:00"),
    ]


def test_tied_order_cols_resolve_by_value_not_arrival(spark):
    """Two batch rows tied on ``order_cols`` must resolve the same way
    whatever their input order and however many partitions the window
    shuffles into (ROADMAP aim 3): ties break on the remaining columns,
    largest first — the key cannot break them, it is constant within
    its window partition."""
    from square_etl_spark.operators.aggregations import last_writer_wins

    tied = [("a", 1, "x", "2024-01-02 00:00:00"),
            ("a", 2, "w", "2024-01-02 00:00:00"),
            ("b", 5, "y", "2024-01-02 00:00:00")]
    schema = "k string, v long, s string, updated_at string"
    target = spark.createDataFrame(
        [("a", 0, "t", "2024-01-01 00:00:00")], schema
    ).selectExpr("k", "v", "s", "cast(updated_at as timestamp) updated_at")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = set()
    try:
        for rows in (tied, tied[::-1]):
            for parts in (1, 7):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                batch = (
                    spark.createDataFrame(rows, schema)
                    .selectExpr("k", "v", "s", "cast(updated_at as timestamp) updated_at")
                    .repartition(parts)
                )
                for out in (
                    last_writer_wins(batch, ["k"], ["updated_at"]),
                    merge_dataframes(None, batch, ["k"], ["updated_at"]),
                    merge_dataframes(target, batch, ["k"], ["updated_at"]),
                ):
                    seen.add(frozenset((r.k, r.v, r.s) for r in out.collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert seen == {frozenset({("a", 2, "w"), ("b", 5, "y")})}


def _parquet(spark, path, rows):
    spark.createDataFrame(
        rows, "k string, v long, updated_at string, day string"
    ).selectExpr(
        "k", "v", "cast(updated_at as timestamp) updated_at", "day"
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_merge_plan_is_one_window_over_a_union(spark, tmp_path):
    """The merge plans as one keyed fold: a single Window over a Union
    of target and batch — no anti join — so the batch source is
    scanned once and the write runs one exchange."""
    target = _parquet(spark, str(tmp_path / "tgt"), [
        ("a", 1, "2024-01-01 00:00:00", "d1"),
    ])
    batch_path = str(tmp_path / "batch")
    batch = _parquet(spark, batch_path, [
        ("a", 2, "2024-01-02 00:00:00", "d1"),
        ("b", 3, "2024-01-02 00:00:00", "d1"),
    ])
    merged = merge_dataframes(
        target, batch, ["k"], ["updated_at"],
        stamp_updated_at=True, batch_ts="2030-01-01 00:00:00",
    )
    lines = merged._jdf.queryExecution().executedPlan().toString().splitlines()
    windows = [i for i, l in enumerate(lines) if "Window [" in l]
    unions = [i for i, l in enumerate(lines) if l.strip("+-: ").startswith("Union")]
    assert len(windows) == 1 and len(unions) == 1 and windows[0] < unions[0]
    assert not any("LeftAnti" in l or "Join" in l for l in lines)
    assert sum("Exchange" in l for l in lines) == 1
    assert sum("FileScan" in l and batch_path + "]" in l for l in lines) == 1
    assert {(r.k, r.v) for r in merged.collect()} == {("a", 2), ("b", 3)}


def test_partitioned_merge_runs_one_action_before_the_write(
    spark, tmp_path, monkeypatch
):
    """A non-empty partitioned merge runs exactly one action before its
    write: the touched-partition collect, which also decides K3 (an
    empty batch touches nothing).  Jobs are counted per job group with
    the statusTracker and compared against that one collect alone."""
    import square_etl_spark.sinks.merge as M

    sc = spark.sparkContext
    target = str(tmp_path / "tbl")
    M.merge_upsert_partitioned(
        spark, target,
        _pbatch(spark, [("a", 1, "2024-01-01 00:00:00", "2024-01-01")]),
        ["k"], ["updated_at"], "day",
    )
    batch = _pbatch(spark, [
        ("a", 2, "2024-01-02 00:00:00", "2024-01-01"),
        ("b", 3, "2024-01-02 00:00:00", "2024-01-02"),
    ])
    write = M._write_counted

    def tagged_write(*args, **kwargs):
        sc.setJobGroup("merge-write", "merge write")
        return write(*args, **kwargs)

    monkeypatch.setattr(M, "_write_counted", tagged_write)
    try:
        sc.setJobGroup("one-collect", "touched-partition collect alone")
        batch.select("day").distinct().collect()
        sc.setJobGroup("before-write", "merge up to its write")
        n = M.merge_upsert_partitioned(
            spark, target, batch, ["k"], ["updated_at"], "day"
        )
        jobs = {
            g: len(sc.statusTracker().getJobIdsForGroup(g))
            for g in ("one-collect", "before-write", "merge-write")
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 2
    assert jobs["before-write"] == jobs["one-collect"] >= 1, jobs
    assert jobs["merge-write"] >= 1, jobs
