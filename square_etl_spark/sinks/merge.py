"""Merge (upsert) sink — the reference's K1/K2/K3 semantics on Spark.

Reference behavior (src/etl-square-payments.ts:49-128 and the five
sibling ``upsert*`` functions): one transaction per batch; per row,
``INSERT … ON CONFLICT (natural key) DO UPDATE SET <non-key cols> =
EXCLUDED.*``; three tables additionally stamp ``updated_at =
CURRENT_TIMESTAMP`` only on the update branch (K2); empty batches
short-circuit (K3).  Net effect: last-writer-wins per natural key,
idempotent under replay — which is what makes the 24 h lookback
re-scan safe (SURVEY.md §2.8 T2).

Spark-first design (no Delta dependency — plain parquet):

1. union the current target (``src 0``) with the batch (``src 1``);
2. rank each key's rows with ONE ``row_number`` window — batch first,
   then newest by the order columns (the reference gets this from
   arrival order, we re-specify it) — and keep the batch winner, or
   the target row when the batch lacks the key;
3. publish through the one replace protocol, :func:`_replace`: writer
   lock → crash recovery → the caller writes a sibling staging dir →
   rename-only swap of the whole table or of each touched partition.

This is MERGE INTO re-expressed as one keyed fold: the batch subtree
is planned once and the write runs one exchange.

Every parquet-table REWRITE in the engine goes through
:func:`_replace`: :func:`merge_upsert` (full or partition-restricted),
:func:`cdc_merge`, ``io.compact_table`` and the streaming fold sink
(``streaming.incremental._fold_stream_availablenow``).  Two writers
stay off it on purpose: ``streaming.incremental._publish_batch_dir``
is append-only — it adds a new ``batch=<id>`` directory and never
replaces rows, so there is no base to lose and no old version to
recover — and ``io.versioned_write`` publishes an immutable snapshot
by flipping a pointer file, so no directory is ever swapped.

On a real deployment the same ``merge_dataframes`` logic backs a
Delta/Iceberg ``MERGE INTO`` where the table format gives true atomic
commits, table-level even for partition-restricted merges.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import socket
import time
import uuid
import warnings
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from square_etl_spark.operators.aggregations import last_writer_wins, lww_order


class ConcurrentWriterError(RuntimeError):
    """Raised when a merge cannot acquire the table's writer lock
    within its timeout — loud failure instead of a silent
    last-swap-wins that would drop the other writer's rows."""


#: writer-lock liveness horizon: a lock whose owner heartbeat is older
#: than this is presumed crashed and swept (same posture as the
#: streaming sink's _sweep_stale_staging).  A LIVE holder never ages
#: past it: _table_lock re-stamps owner.json every LOCK_TTL_S/4 from a
#: daemon heartbeat thread, so even a multi-hour 100 TB merge keeps
#: its lock; only a crashed writer's heartbeat goes stale.
LOCK_TTL_S = 3600.0


@contextlib.contextmanager
def _table_lock(target_path: str, timeout_s: float = 600.0, poll_s: float = 0.2):
    """Mutual exclusion for writers of one materialized table.

    Concurrency contract (r12 verdict item 6): the staging swap is
    atomic for READERS, but two simultaneous merges to one target
    would each read the same base, merge independently, and the later
    swap would silently drop the earlier writer's rows.  This lock
    serializes the whole read→merge→swap critical section: the loser
    WAITS (its read then sees the winner's rows — nothing lost), and
    if the wait exceeds ``timeout_s`` it raises
    :class:`ConcurrentWriterError` loudly.

    Mechanics: ``os.mkdir(target.lock)`` is the atomic acquire (POSIX
    rename/mkdir atomicity, the same primitive the swap protocol
    trusts); an ``owner.json`` inside carries pid/host/heartbeat.  A
    lock is swept as STALE when its owner process is dead (same host)
    or its heartbeat exceeds ``LOCK_TTL_S`` (crashed writer on another
    host) — the `_sweep_stale_staging` precedent.

    Scope: local/POSIX filesystems — exactly where this parquet-swap
    sink is deployable at all.  On object stores the whole sink is
    superseded by a table format (Delta/Iceberg), whose optimistic
    commit protocol IS the multi-writer story (module docstring).
    """
    lock_dir = target_path + ".lock"
    owner_file = os.path.join(lock_dir, "owner.json")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            os.makedirs(os.path.dirname(os.path.abspath(lock_dir)), exist_ok=True)
            os.mkdir(lock_dir)  # atomic acquire
            break
        except FileExistsError:
            if _lock_is_stale(owner_file):
                # sweep-and-retry: CLAIM the stale lock via atomic
                # rename before deleting — rmtree-in-place could race
                # a second sweeper and destroy a lock some third
                # writer just re-acquired; the rename only ever moves
                # the exact dir we judged stale, and only one sweeper
                # wins it (the loser's rename raises and re-races)
                claim = f"{lock_dir}.stale-{uuid.uuid4().hex}"
                try:
                    os.rename(lock_dir, claim)
                except OSError:
                    continue  # another sweeper claimed it first
                shutil.rmtree(claim, ignore_errors=True)
                continue
            if time.monotonic() >= deadline:
                raise ConcurrentWriterError(
                    f"writer lock on {target_path} held past {timeout_s}s "
                    f"(holder: {_lock_owner_desc(owner_file)}); refusing to "
                    "race — a concurrent swap would silently drop rows"
                ) from None
            time.sleep(poll_s)
    stamped = {"ok": False}
    # Acquire token: written into the dir we ourselves mkdir'ed, before
    # any owner.json exists.  Its presence is the proof at release time
    # that a bare (never-stamped) lock dir is OUR bare dir and not a
    # fresh contender's mkdir that hasn't stamped yet — a swept-and-
    # re-created dir can never contain it (the sweep renames the whole
    # old dir away).  Closes the release-side twin of the heartbeat
    # TOCTOU (r14 advice).
    acquire_token = os.path.join(lock_dir, f"acquired.{uuid.uuid4().hex}")
    try:
        with open(acquire_token, "x"):
            pass
    except OSError:
        acquire_token = None  # dir already gone/unwritable: treat as unproven

    def _stamp() -> bool:
        # Never reclaim a lock someone else now owns: if this process
        # was suspended past the TTL, a contender may have swept the
        # dir and stamped ITS owner.json at the same path — blindly
        # os.replace()ing over it would fake ownership back, defeat
        # the owned-only release below, and rmtree the new holder's
        # live lock mid-merge.  Re-stamp only while the recorded owner
        # is still self (or not yet written — our initial stamp).
        try:
            with open(owner_file) as fh:
                cur = json.load(fh)
            if (cur.get("pid") != os.getpid()
                    or cur.get("host") != socket.gethostname()):
                return False  # taken over while we slept
        except FileNotFoundError:
            # Only the very FIRST stamp may proceed without a readable
            # owner.json (we hold the fresh mkdir and haven't written
            # it yet).  Once a stamp has succeeded, a missing
            # owner.json means the lock was swept out from under us —
            # and a contender may have mkdir'ed a fresh dir at this
            # path without having written ITS owner.json yet; stamping
            # into that window would fake ownership back, the exact
            # reclaim the ownership check above exists to prevent
            # (r14 advice).  "First stamp hasn't succeeded" alone is
            # not proof the dir is still ours, though: if the first
            # stamp keeps FAILING (disk full, permission flap) past
            # LOCK_TTL_S, a contender can sweep our bare dir and
            # mkdir a fresh unstamped one here — a late retry would
            # stamp into THAT.  Require the acquire token exactly as
            # the release path does: a swept-and-re-created dir can
            # never contain it (r15 advice).
            if stamped["ok"] or not (
                acquire_token is not None
                and os.path.exists(acquire_token)
            ):
                return False
        except (OSError, json.JSONDecodeError):
            return False  # unreadable: do not fight over it
        # write-then-rename so a reader never sees a torn owner.json
        tmp = owner_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"pid": os.getpid(), "host": socket.gethostname(),
                 "ts": time.time()},
                fh,
            )
        os.replace(tmp, owner_file)
        stamped["ok"] = True
        return True

    import threading

    stop = threading.Event()

    def _heartbeat() -> None:
        # re-stamp at TTL/4 so a live holder's heartbeat can never age
        # past the staleness horizon, however long the merge runs
        while not stop.wait(LOCK_TTL_S / 4):
            try:
                if not _stamp():
                    return  # ownership lost (swept + taken over)
            except OSError:
                return  # lock dir gone (released/swept): nothing to keep alive

    try:
        _stamp()
        hb = threading.Thread(target=_heartbeat, daemon=True)
        hb.start()
        yield
    finally:
        stop.set()
        # Release ONLY if the lock is still ours: if a contender judged
        # us stale (frozen heartbeat past TTL after a host suspend, or
        # cross-host clock skew) and swept the dir, owner.json now names
        # the NEW holder — an unconditional rmtree here would evict it
        # and let a third writer race, the exact silent-row-loss the
        # lock exists to prevent.
        try:
            with open(owner_file) as fh:
                owner = json.load(fh)
            ours = (
                owner.get("pid") == os.getpid()
                and owner.get("host") == socket.gethostname()
            )
        except FileNotFoundError:
            # No owner.json: if OUR stamp never succeeded (disk full,
            # permission flap after the mkdir), this is our bare dir —
            # releasable; leaving it would block every writer for up
            # to LOCK_TTL_S.  But "stamp never succeeded" alone is not
            # proof of identity: a contender may have swept our bare
            # dir after the TTL and mkdir'ed a FRESH dir here without
            # having stamped its owner.json yet — deleting that would
            # evict the new holder (the release-side twin of the
            # heartbeat TOCTOU, r14 advice).  Require the acquire
            # token we wrote immediately after our own mkdir: a
            # re-created dir can never contain it (sweeps rename the
            # whole old dir away).
            ours = (
                not stamped["ok"]
                and acquire_token is not None
                and os.path.exists(acquire_token)
            )
        except (OSError, json.JSONDecodeError):
            ours = False  # unreadable/torn: do not delete what we can't identify
        if ours:
            shutil.rmtree(lock_dir, ignore_errors=True)
        elif os.path.isdir(lock_dir):
            warnings.warn(
                f"writer lock on {target_path} no longer owned by this "
                f"process at release (current: "
                f"{_lock_owner_desc(owner_file)}); leaving it in place — "
                "this process was judged stale and its merge may have "
                "raced the new holder",
                stacklevel=2,
            )


def _lock_is_stale(owner_file: str) -> bool:
    """True iff the lock's recorded owner is provably gone: dead pid on
    this host, or heartbeat older than LOCK_TTL_S.  A lock dir whose
    owner.json hasn't appeared yet is NOT stale (the winner writes it
    right after mkdir) — unless the dir itself outlives the TTL."""
    try:
        with open(owner_file) as fh:
            owner = json.load(fh)
    except (OSError, json.JSONDecodeError):
        lock_dir = os.path.dirname(owner_file)
        try:
            return time.time() - os.path.getmtime(lock_dir) > LOCK_TTL_S
        except OSError:
            return False  # dir vanished — the holder released; retry mkdir
    if time.time() - float(owner.get("ts", 0)) > LOCK_TTL_S:
        return True
    if owner.get("host") == socket.gethostname():
        try:
            os.kill(int(owner["pid"]), 0)  # liveness probe, no signal
        except ProcessLookupError:
            return True
        except (PermissionError, ValueError, TypeError, OSError):
            return False
    return False


def _lock_owner_desc(owner_file: str) -> str:
    try:
        with open(owner_file) as fh:
            o = json.load(fh)
        return f"pid {o.get('pid')} on {o.get('host')} since {o.get('ts')}"
    except (OSError, json.JSONDecodeError):
        return "unknown (no owner.json)"


def _recover_swap(target_path: str) -> None:
    """Crash recovery for :func:`_swap_into`, run by :func:`_replace`
    before any writer reads ``target_path``.  A swap publishes either
    the whole table (aside copy ``target.old``) or one partition of it
    (``target/<col>=<v>.old``), and leaves exactly three possible
    on-disk states for that directory, each repaired by one
    rename/cleanup:

    - the directory exists, no ``.old``   → normal, nothing to do;
    - ``.old`` only (crash between the two renames) → restore the old
      version: ``rename(x.old, x)``;
    - both exist (crash after the new version landed, before cleanup)
      → the new version is complete (it only appears via a rename of a
      fully-written staging dir), so drop ``x.old``.

    The table-level repair runs first, so a restored table is then
    checked for interrupted partition swaps.  Stale ``target.tmp-*``
    staging dirs from crashed writes are swept too — they are only
    ever referenced within a single call.
    """
    for pattern in (target_path + ".old", os.path.join(target_path, "*.old")):
        for old in glob.glob(pattern):
            live = old[: -len(".old")]
            if os.path.exists(live):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, live)
    for stale in glob.glob(target_path + ".tmp-*"):
        shutil.rmtree(stale, ignore_errors=True)


def _staging_dir(target_path: str) -> str:
    """Staging dir as a SIBLING of the target: same parent directory →
    same filesystem → the publish step is an atomic ``os.rename``, not
    a copy-and-delete ``shutil.move`` across mount points (the old
    ``tempfile.gettempdir()`` staging path could silently degrade to a
    non-atomic copy when /tmp was a different filesystem)."""
    return f"{target_path}.tmp-{uuid.uuid4().hex}"


def _swap_into(tmp: str, target_path: str) -> None:
    """Publish a fully-written staging dir over the target using only
    same-filesystem renames (E3 atomicity).  The previous rmtree+move
    protocol had a crash window in which the target was already
    deleted and the replacement not yet in place — a crash there lost
    the table.  Now every intermediate state is repaired by
    :func:`_recover_swap`: the old version is renamed aside, the new
    one renamed in, and only then is the old version deleted.  Called
    only by :func:`_replace`, which holds the writer lock."""
    old = target_path + ".old"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)


def _write_counted(df: DataFrame, path: str, partition_col: str | None = None) -> int:
    """Write ``df`` as parquet and return its row count WITHOUT a
    second scan: an :class:`Observation` piggybacks the count on the
    write job itself (the write is the action that populates it).
    Replaces the old ``spark.read.parquet(path).count()`` re-read —
    at 100 TB that re-read was a full extra pass over the merged
    output per batch."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)
    return obs.get["n"]


def _read_target(
    spark: SparkSession, target_path: str, schema
) -> DataFrame | None:
    """The stored table under ``schema``, or None before its first write."""
    if not os.path.exists(target_path):
        return None
    return spark.read.schema(schema).parquet(target_path)


@contextlib.contextmanager
def _replace(
    target_path: str,
    partition_col: str | None = None,
    lock_timeout_s: float = 600.0,
):
    """The one replace protocol of every parquet-table rewrite here
    (the reference's BEGIN → upsert loop → COMMIT): take
    :func:`_table_lock`, repair any interrupted swap with
    :func:`_recover_swap`, and yield a sibling staging dir
    (:func:`_staging_dir`) for the caller to read the target and write
    the new version into.  On a clean exit the staging dir is
    published with the rename-only :func:`_swap_into`: whole, or —
    with ``partition_col`` and an existing target — one partition
    directory at a time, so partitions the caller did not write stay
    byte-identical.  A caller that writes nothing (a replayed batch)
    publishes nothing; a caller that raises leaves the target as it
    was, and its staging dir is swept by the next writer.

    The lock spans read → write → swap, so a writer that waits reads
    the holder's published rows instead of swapping over them."""
    with _table_lock(target_path, timeout_s=lock_timeout_s):
        _recover_swap(target_path)
        tmp = _staging_dir(target_path)
        yield tmp
        if not os.path.exists(tmp):
            return
        if partition_col is None or not os.path.exists(target_path):
            moves = [(tmp, target_path)]
        else:
            prefix = f"{partition_col}="
            moves = [
                (os.path.join(tmp, e), os.path.join(target_path, e))
                for e in os.listdir(tmp)
                if e.startswith(prefix)
            ]
        for staged, live in moves:
            _swap_into(staged, live)
        shutil.rmtree(tmp, ignore_errors=True)


def _fold(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    keep_batch: Column | None = None,
    stamp: Column | None = None,
) -> DataFrame:
    """The keyed fold behind every merge here: ``target`` (src 0) ∪
    ``batch`` (src 1) under ONE window over ``keys``, ordered src desc
    then :func:`lww_order`.  Keeps the batch winner if ``keep_batch``
    holds on it, and the target rows of keys the batch lacks.  A NULL
    key column matches nothing: target NULL-key rows always survive.
    ``stamp`` sets ``updated_at`` on winners whose key the target holds."""
    src = F.col("__src")
    u = batch.withColumn("__src", F.lit(1))
    if target is not None:
        u = target.withColumn("__src", F.lit(0)).unionByName(
            u, allowMissingColumns=True
        )
    w = Window.partitionBy(*keys).orderBy(
        src.desc(), *lww_order(batch.schema, keys, order_cols)
    )
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = u.select(
        "*",
        F.row_number().over(w).alias("__rn"),
        F.min(src).over(whole).alias("__lo"),
        F.max(src).over(whole).alias("__hi"),
    )
    key_null = reduce(or_, [F.col(k).isNull() for k in keys])
    winner = (src == 1) & (F.col("__rn") == 1)
    if keep_batch is not None:
        winner = winner & keep_batch
    out = out.filter(winner | ((src == 0) & ((F.col("__hi") == 0) | key_null)))
    if stamp is not None:
        hit = (src == 1) & (F.col("__lo") == 0) & ~key_null
        stamped = F.when(hit, stamp).otherwise(F.col("updated_at"))
        out = out.withColumn("updated_at", stamped)
    return out.drop("__src", "__rn", "__lo", "__hi")


def merge_dataframes(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    stamp_updated_at: bool = False,
    batch_ts: str | None = None,
) -> DataFrame:
    """Pure (DataFrame in → DataFrame out) MERGE as one keyed fold
    (:func:`_fold`): the batch beats the target, and within the batch
    the newest row by ``order_cols`` wins (descending, NULLs last, ties
    broken by the remaining columns).  A NULL key matches nothing.  If
    ``stamp_updated_at`` (K2), rows that replace an existing target row
    get ``updated_at = current_timestamp()``, inserts keep theirs —
    matching the reference's update-branch-only stamp
    (src/etl-square-inventory.ts:97).

    DELIBERATE DEVIATION from the reference (r15 advice, documented
    rather than replicated): the reference processes rows one at a
    time with ``INSERT … ON CONFLICT DO UPDATE``, so when one batch
    contains TWO rows for a key absent from the target, the second
    row conflicts with the first row's fresh insert and lands through
    the update branch — stamped.  That stamp is an artifact of
    row-at-a-time execution order, not of the update-vs-insert
    contract.  This engine is set-oriented: the fold picks the batch
    winner per key, then classifies it insert/update against the
    target, so a batch-internal duplicate whose key is new keeps the
    winning row's own ``updated_at`` — the posture of standard SQL
    MERGE, which rejects duplicate source keys outright.  Pinned by
    ``test_k2_within_batch_duplicate_on_new_key_keeps_its_own_stamp``.

    ``batch_ts`` freezes the K2 stamp to an injected batch timestamp
    (``'YYYY-MM-DD HH:MM:SS'``) instead of the wall clock.  The
    reference's ``CURRENT_TIMESTAMP`` is the *nondeterminism*, not the
    semantics — the semantics is "one stamp per batch, applied to the
    update branch only", and a batch-level literal models it exactly
    while making the whole K2 contract oracle-checkable value-for-value.
    It also makes a retried/backfilled batch re-stamp identically per
    attempt, so re-runs are idempotent (r14 verdict item 4).
    """
    stamp = None
    if stamp_updated_at:
        stamp = (
            F.to_timestamp(F.lit(batch_ts))
            if batch_ts is not None
            else F.current_timestamp()
        )
    return _fold(target, batch, keys, order_cols, stamp=stamp)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    partition_col: str | None = None,
    stamp_updated_at: bool = False,
    lock_timeout_s: float = 600.0,
    batch_ts: str | None = None,
) -> int:
    """Materialized MERGE into a parquet path; returns rows written.

    Atomicity (E3, the reference's BEGIN/COMMIT) and concurrency come
    from :func:`_replace`: the merged result is written to a sibling
    staging dir, then published with rename-only swaps — a failure at
    ANY point leaves a state the next writer's recovery restores to
    the old or the new complete version, never a lost or half-written
    table (pinned end-to-end by the streaming crash tests: kill
    mid-write → restart converges).  The target is read inside the
    writer lock, so interleaved calls compose instead of
    last-swap-wins dropping a batch; lock starvation raises
    :class:`ConcurrentWriterError`.  An empty batch returns 0 without
    locking or creating the target (K3, src/etl-square-payments.ts:50-53).

    With ``partition_col`` the merge is partition-restricted — the
    100 TB-shaped upsert (SURVEY.md hard-list #1).  The target is a
    hive-layout table (``target/<col>=<val>/``), and a 24 h batch
    touches ~1 day of partition values, so the merge:

    1. collects the batch's DISTINCT partition values (driver-side,
       bounded by the number of touched partitions).  It is the only
       action before the write, and none touched is the K3 test;
    2. reads ONLY those partitions of the target (the ``isin`` filter
       is partition pruning — untouched partitions are never opened);
    3. folds the batch into that slice and writes it partitioned;
    4. swaps each touched partition directory individually; untouched
       partition directories stay byte-identical on disk (pinned in
       tests/test_merge.py).

    INVARIANT the caller owns: ``partition_col`` must be immutable per
    natural key (creation date, tenant id) — if a key could move
    between partitions, its old row would survive in an untouched
    partition.  Delta/Iceberg partition-scoped MERGE has the same
    constraint.  Atomicity is then per partition: a mid-publish
    failure leaves earlier partitions new and later ones old, each
    internally consistent, and re-running converges (the merge is
    idempotent).  Table-level commits need a table format.
    """
    if partition_col is None:
        if batch.isEmpty():
            return 0
        in_slice = None
    else:
        touched = [r[0] for r in batch.select(partition_col).distinct().collect()]
        if not touched:
            return 0
        # NULL partition values land in hive's __HIVE_DEFAULT_PARTITION__
        # dir.  ``isin`` never matches NULL (three-valued logic), so
        # without the explicit isNull branch the target's NULL-partition
        # rows would be left out of the slice while the publish still
        # replaced their directory — silently dropping them.
        non_null = [t for t in touched if t is not None]
        in_slice = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if len(non_null) != len(touched):
            in_slice = in_slice | F.col(partition_col).isNull()
    with _replace(target_path, partition_col, lock_timeout_s) as tmp:
        target = _read_target(spark, target_path, batch.schema)
        if target is not None and in_slice is not None:
            target = target.filter(in_slice)
        merged = merge_dataframes(
            target, batch, keys, order_cols, stamp_updated_at, batch_ts
        )
        n = _write_counted(merged, tmp, partition_col)
    return n


def cdc_merge_dataframes(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Pure CDC MERGE: fold a change log carrying ``op_col`` ∈
    {'I','U','D'} into the target — the full-CRUD upgrade of
    :func:`merge_dataframes` (which can only upsert), on the same
    keyed fold (:func:`_fold`; target rows carry a NULL op).  Within
    the batch the LAST op per key wins (by ``order_cols`` descending);
    a key whose final op is ``'D'`` is removed from the target and not
    re-inserted, any other final op upserts the payload with ``op_col``
    dropped.  Deleting an absent key is a no-op; a later batch can
    re-insert a deleted key.  This is the semantics a Debezium-style
    change feed needs; the reference's ON CONFLICT upsert
    (src/etl-square-payments.ts:59-95) covers only the I/U half."""
    keep = F.col(op_col) != "D"
    return _fold(target, batch, keys, order_cols, keep_batch=keep).drop(op_col)


def cdc_merge(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    op_col: str = "op",
    lock_timeout_s: float = 600.0,
) -> int:
    """Materialized CDC MERGE through the same :func:`_replace`
    protocol as :func:`merge_upsert` (E3).  The stored target does NOT
    carry ``op_col`` — it exists only on the change feed."""
    if batch.isEmpty():
        return 0
    with _replace(target_path, lock_timeout_s=lock_timeout_s) as tmp:
        target = _read_target(spark, target_path, batch.drop(op_col).schema)
        merged = cdc_merge_dataframes(target, batch, keys, order_cols, op_col)
        n = _write_counted(merged, tmp)
    return n


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Generate the change feed between two snapshots — the INVERSE of
    :func:`cdc_merge_dataframes`: one FULL OUTER join on the keys,
    classifying each key as ``'I'`` (new only), ``'D'`` (old only), or
    ``'U'`` (present in both with any compare column null-safely
    distinct); unchanged keys emit nothing.  Rows carry the NEW
    payload (NULL for deletes), so the round trip
    ``cdc_merge(old, snapshot_diff(old, new)) == new`` holds exactly
    (pinned in test_merge).

    This is how a pipeline without a native change feed (the
    reference re-pulls full Square catalog snapshots,
    src/etl-square-catalog.ts) derives incremental downstream work:
    diff today's snapshot against yesterday's, ship only the delta.
    At scale it is one co-partitioned shuffle join on the key — the
    same cost as the merge it feeds, and far cheaper than
    re-processing the full snapshot downstream.
    """
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, on=keys, how="full_outer")
    # empty compare_cols is the legitimate existence-only diff: keys
    # present on both sides are unchanged by definition (I/D only)
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[F.col(f"__n_{c}").alias(c) for c in compare_cols],
        )
    )


def scd2_merge(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_col: str,
    change_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge: instead of overwriting a
    dimension row (the reference's ON CONFLICT DO UPDATE posture,
    src/etl-square-catalog.ts:71-100), keep its full history — each
    value change closes the current version (``valid_to`` stamped,
    ``is_current`` false) and opens a new one.

    Layout: ``keys + change_cols + valid_from + valid_to + is_current``
    with exactly one current (``valid_to IS NULL``) row per key.
    Semantics per batch row (last-writer-wins within the batch on
    ``order_col``):

    - new key                    → insert as current
    - same payload (null-safe)   → no-op (re-delivered rows don't churn)
    - changed payload            → close current at the new row's
                                   timestamp, insert new current
    - LATE row (``order_col`` ≤ current ``valid_from``)
                                 → ignored (standard SCD2 late-data
                                   posture — applying it would write
                                   inverted/overlapping validity
                                   windows).  Batches are expected to
                                   arrive in non-decreasing
                                   ``order_col`` order per key; this
                                   guard makes an out-of-order replay
                                   a no-op instead of corruption.
                                   TIES ARE TREATED AS LATE by design:
                                   a changed payload whose ``order_col``
                                   exactly equals the current row's
                                   ``valid_from`` is dropped, because
                                   applying it would close the current
                                   version with ``valid_to ==
                                   valid_from`` — a zero-length validity
                                   window no as-of lookup can ever hit.
                                   Sources that can emit two distinct
                                   states at the same timestamp must
                                   disambiguate upstream (e.g. a
                                   sequence number folded into
                                   ``order_col``).

    Pure DataFrame-in/DataFrame-out like :func:`merge_dataframes`: one
    full-outer join of the key-sized current slice against the deduped
    batch — history rows are untouched (at scale, store them in
    separate partitions so the merge never reads closed versions).
    SINGLE-PASS: each joined row emits its 0–2 output versions as an
    array of structs that is then exploded, so the join subtree appears
    (and executes) exactly once in the plan — the earlier
    filter-three-ways-and-union shape ran the same join up to 3×
    (pinned in tests/test_merge.py::test_scd2_single_join_in_plan).
    """
    b = last_writer_wins(batch, keys, [order_col]).select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in change_cols],
        F.col(order_col).alias("__n_from"),
    )
    if target is None:
        return b.select(
            *keys,
            *[F.col(f"__n_{c}").alias(c) for c in change_cols],
            F.col("__n_from").alias("valid_from"),
            F.lit(None).cast(b.schema["__n_from"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    hist = target.filter(~F.col("is_current"))
    cur = target.filter(F.col("is_current")).select(
        *keys,
        *[F.col(c).alias(f"__c_{c}") for c in change_cols],
        F.col("valid_from").alias("__c_from"),
    )
    j = cur.join(b, on=keys, how="full_outer")
    has_c = F.col("__c_from").isNotNull()
    has_n = F.col("__n_from").isNotNull()
    differs = reduce(
        or_,
        [~F.col(f"__c_{c}").eqNullSafe(F.col(f"__n_{c}")) for c in change_cols],
    )
    late = has_c & has_n & (F.col("__n_from") <= F.col("__c_from"))
    ts_type = b.schema["__n_from"].dataType

    def _version(prefix: str, vfrom, vto, is_cur):
        return F.struct(
            *[F.col(f"{prefix}{c}").alias(c) for c in change_cols],
            vfrom.alias("valid_from"),
            vto.cast(ts_type).alias("valid_to"),
            is_cur.alias("is_current"),
        )

    none_ts = F.lit(None).cast(ts_type)
    effective_change = has_c & has_n & differs & ~late
    keep_cur = F.when(
        has_c & (~has_n | ~differs | late),
        _version("__c_", F.col("__c_from"), none_ts, F.lit(True)),
    )
    closed = F.when(
        effective_change,
        _version("__c_", F.col("__c_from"), F.col("__n_from"), F.lit(False)),
    )
    opened = F.when(
        has_n & (~has_c | effective_change),
        _version("__n_", F.col("__n_from"), none_ts, F.lit(True)),
    )
    exploded = (
        j.select(
            *keys,
            F.explode(
                F.array_compact(F.array(keep_cur, closed, opened))
            ).alias("__v"),
        )
        .select(*keys, "__v.*")
    )
    return hist.unionByName(exploded)
