"""Incremental/streaming runners (SURVEY.md §2.8): checkpointed
availableNow ingest with idempotent merge, stateless lookback runs,
and watermarked windowed aggregation."""

from __future__ import annotations

import datetime as dt
import os
import shutil

from square_etl_spark.io import load_table
from square_etl_spark.schemas import EVENTS
from square_etl_spark.streaming.incremental import (
    incremental_merge_run,
    stream_events_availablenow,
    windowed_stream_agg,
)


def _events_subset(spark, sf_dir, out_dir, begin, end):
    df = load_table(spark, sf_dir, "events").filter(
        f"ts >= timestamp'{begin}' and ts < timestamp'{end}'"
    )
    df.write.mode("overwrite").parquet(out_dir)
    return df.count()


def test_availablenow_stream_merges_and_tracks_offsets(spark, sf_dir, tmp_path):
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    tgt = os.path.join(tmp_path, "tgt")
    n1 = _events_subset(spark, sf_dir, src, "2024-01-01", "2024-01-03")
    stream_events_availablenow(spark, src, ckpt, tgt, keys=["event_id"], schema=EVENTS)
    assert spark.read.parquet(tgt).count() == n1

    # re-run with no new files: offsets say nothing new; target unchanged
    stream_events_availablenow(spark, src, ckpt, tgt, keys=["event_id"], schema=EVENTS)
    assert spark.read.parquet(tgt).count() == n1

    # new file arrives → only the delta is processed, merge keeps keys unique
    more = load_table(spark, sf_dir, "events").filter(
        "ts >= timestamp'2024-01-03' and ts < timestamp'2024-01-04'"
    )
    more.write.mode("append").parquet(src)
    stream_events_availablenow(spark, src, ckpt, tgt, keys=["event_id"], schema=EVENTS)
    got = spark.read.parquet(tgt)
    assert got.count() == n1 + more.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_incremental_lookback_run_idempotent(spark, sf_dir, tmp_path):
    # T2: re-running the same window must not change the target
    tgt = os.path.join(tmp_path, "tgt")
    now = dt.datetime(2024, 1, 5, 0, 0, 0)
    n1 = incremental_merge_run(
        spark, sf_dir, "events", "ts", ["event_id"], tgt, lookback_hours=48, now=now
    )
    n2 = incremental_merge_run(
        spark, sf_dir, "events", "ts", ["event_id"], tgt, lookback_hours=48, now=now
    )
    assert n1 == n2 == spark.read.parquet(tgt).count()

    # advancing the clock by 24h with 48h lookback re-reads the overlap
    # idempotently and adds only genuinely-new events
    later = incremental_merge_run(
        spark, sf_dir, "events", "ts", ["event_id"], tgt,
        lookback_hours=48, now=now + dt.timedelta(hours=24),
    )
    got = spark.read.parquet(tgt)
    assert got.select("event_id").distinct().count() == got.count()


def test_windowed_stream_agg_matches_batch(spark, sf_dir, tmp_path):
    src = os.path.join(tmp_path, "src")
    _events_subset(spark, sf_dir, src, "2024-01-01", "2024-01-02")
    stream = spark.readStream.schema(EVENTS).parquet(src)
    agg = windowed_stream_agg(stream, window_duration="1 hour")
    out = os.path.join(tmp_path, "out")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(tmp_path, "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("select * from winagg").collect()
    }
    batch = (
        spark.read.schema(EVENTS)
        .parquet(src)
        .selectExpr("date_trunc('hour', ts) ws", "event_type")
        .groupBy("ws", "event_type")
        .count()
    )
    expected = {(r.ws, r.event_type): r["count"] for r in batch.collect()}
    assert streamed == expected


def test_watermark_drops_late_events_across_microbatches(spark, tmp_path):
    """The watermark's late-data contract, pinned across checkpointed
    runs in APPEND mode: batch 1 advances the watermark and finalizes
    its early window; a batch-2 event behind the watermark must NOT
    reopen or re-emit that window (it is dropped pre-aggregation),
    while on-time batch-2 data flows normally.  This is the streaming
    analog of the reference's bounded 24 h lookback — state stays
    bounded because closed windows can never resurrect."""
    import datetime as dt

    src = os.path.join(tmp_path, "src")
    out = os.path.join(tmp_path, "out")
    ckpt = os.path.join(tmp_path, "ckpt")

    def ev(eid, hour, minute=0):
        return (
            eid,
            dt.datetime(2024, 1, 1, hour, minute),
            1,
            "x",
            1.0,
            None,
        )

    def run_once():
        stream = spark.readStream.schema(EVENTS).parquet(src)
        agg = windowed_stream_agg(stream, watermark="1 hour", window_duration="1 hour")
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two events in hour 0, one at hour 10 (advances the
    # watermark to 09:00 — hour-0's window is closed and emitted)
    spark.createDataFrame(
        [ev(1, 0, 5), ev(2, 0, 40), ev(3, 10)], EVENTS
    ).write.mode("append").parquet(src)
    run_once()
    first = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    h0 = (dt.datetime(2024, 1, 1, 0), "x")
    assert first[h0] == 2  # hour-0 window finalized with its 2 events

    # batch 2: one LATE event in hour 0 (behind the 09:00 watermark)
    # and one fresh event at hour 13 (advances watermark past hour 10)
    spark.createDataFrame(
        [ev(4, 0, 50), ev(5, 13)], EVENTS
    ).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    final = {}
    for r in rows:
        key = (r.window_start, r.event_type)
        assert key not in final or key != h0, "hour-0 window re-emitted"
        final[key] = final.get(key, 0) + r.n_events
    assert final[h0] == 2  # late event dropped, window NOT reopened
    assert final[(dt.datetime(2024, 1, 1, 10), "x")] == 1  # on-time flow


def test_stream_merge_crash_mid_batch_restart_converges(spark, tmp_path, monkeypatch):
    """E3 atomicity under streaming (r4 VERDICT #6): kill a micro-batch
    in BOTH windows of the target-swap protocol and prove the restart
    converges, applying the replayed batch exactly once.

    Window A — dies after staging the merge output, before any rename:
    the previous target bytes must be untouched.  Window B — dies
    BETWEEN the two renames (old version set aside, new one not yet in
    place): the next run's ``_recover_swap`` must restore the old
    version before merging.  This second window is exactly the state
    the pre-fix rmtree+move protocol turned into a lost table.  A
    final fresh-checkpoint full replay pins that merge effects are
    idempotent under total re-delivery (at-least-once transport →
    exactly-once state)."""
    import os as _os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import square_etl_spark.sinks.merge as merge_mod

    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    tgt = os.path.join(tmp_path, "tgt")
    schema = "id long, ts long, v string"

    def state():
        return {r.id: (r.ts, r.v) for r in spark.read.parquet(tgt).collect()}

    def run():
        stream_events_availablenow(
            spark, src, ckpt, tgt, keys=["id"], order_col="ts", schema=schema
        )

    real_rename = _os.rename
    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], schema
    ).write.mode("append").parquet(src)
    run()
    assert state() == {1: (10, "a"), 2: (10, "b")}

    # -- window A: new file arrives; its merge dies before any rename
    spark.createDataFrame(
        [(2, 20, "b2"), (3, 20, "c")], schema
    ).write.mode("append").parquet(src)

    def die_before_first_rename(s, d):
        if s == tgt:  # rename(target, target.old) — the swap's first step
            raise RuntimeError("injected crash: before swap began")
        return real_rename(s, d)

    monkeypatch.setattr(merge_mod.os, "rename", die_before_first_rename)
    with pytest.raises(StreamingQueryException):
        run()
    monkeypatch.setattr(merge_mod.os, "rename", real_rename)
    # old target intact; offsets uncommitted → restart converges
    assert state() == {1: (10, "a"), 2: (10, "b")}
    run()
    want = {1: (10, "a"), 2: (20, "b2"), 3: (20, "c")}
    assert state() == want

    # -- window B: next file's merge dies BETWEEN the two renames
    spark.createDataFrame(
        [(3, 30, "c3"), (4, 30, "d")], schema
    ).write.mode("append").parquet(src)

    def die_mid_swap(s, d):
        if d == tgt:  # rename(staging, target) — the swap's second step
            raise RuntimeError("injected crash: mid-swap")
        return real_rename(s, d)

    monkeypatch.setattr(merge_mod.os, "rename", die_mid_swap)
    with pytest.raises(StreamingQueryException):
        run()
    monkeypatch.setattr(merge_mod.os, "rename", real_rename)
    # the target path is gone, but its .old sibling holds the data —
    # the restarted run must recover it, then apply the batch once
    assert not os.path.exists(tgt) and os.path.exists(tgt + ".old")
    run()
    want = {1: (10, "a"), 2: (20, "b2"), 3: (30, "c3"), 4: (30, "d")}
    assert state() == want
    assert not os.path.exists(tgt + ".old")  # recovery cleaned up

    # re-run with nothing new: a no-op
    run()
    assert state() == want

    # fresh checkpoint = total re-delivery of every file ever seen;
    # idempotent merge must land on the identical state
    ckpt2 = os.path.join(tmp_path, "ckpt2")
    stream_events_availablenow(
        spark, src, ckpt2, tgt, keys=["id"], order_col="ts", schema=schema
    )
    assert state() == want


def test_stream_fold_sink_waits_for_the_writer_lock(spark, tmp_path):
    """The streaming fold sink takes the target's writer lock: while a
    writer holds it, the micro-batch WAITS, then folds into the rows
    the holder published instead of swapping over them."""
    import threading

    from square_etl_spark.sinks.merge import _table_lock
    from square_etl_spark.streaming.incremental import stream_rollup_availablenow

    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    tgt = os.path.join(tmp_path, "rollup")
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long").coalesce(
        1
    ).write.parquet(src)
    errs = []

    def drain():
        try:
            stream_rollup_availablenow(
                spark, src, ckpt, tgt, ["k"], ["v"], schema="k string, v long"
            )
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    with _table_lock(tgt):
        t = threading.Thread(target=drain)
        t.start()
        t.join(timeout=10.0)
        assert t.is_alive(), "the fold must block while the lock is held"
        assert not os.path.exists(tgt)
        # the holder publishes a rollup before it releases the lock
        spark.createDataFrame(
            [("a", 10, 3)], "k string, v long, n_rows long"
        ).write.parquet(tgt)
    t.join(timeout=180.0)
    assert not t.is_alive() and not errs
    got = {(r.k, r.v, r.n_rows) for r in spark.read.parquet(tgt).collect()}
    assert got == {("a", 11, 4), ("b", 2, 1)}


def test_stream_dedup_exact_cross_batch_bounded_state(spark, tmp_path):
    """Streaming exact dedup: a key re-arriving in a LATER micro-batch
    is dropped (state store carries the seen-set across batches), new
    keys pass, and the content-digest mode dedups identical payloads
    under fresh delivery ids."""
    import os

    from square_etl_spark.streaming.incremental import stream_dedup_exact

    src = os.path.join(tmp_path, "dsrc")
    ckpt = os.path.join(tmp_path, "dckpt")
    schema = "delivery_id long, payload string, ts timestamp"
    b1 = spark.createDataFrame(
        [(1, "order-created:42", dt.datetime(2024, 1, 1, 0, 0)),
         (2, "order-paid:42", dt.datetime(2024, 1, 1, 0, 1))],
        schema,
    )
    b1.write.parquet(src)
    # batch 2: delivery 3 re-sends delivery 1's payload; delivery 4 is new
    b2 = spark.createDataFrame(
        [(3, "order-created:42", dt.datetime(2024, 1, 1, 0, 2)),
         (4, "order-shipped:42", dt.datetime(2024, 1, 1, 0, 3))],
        schema,
    )
    b2.write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1  # force multiple micro-batches
    ).parquet(src)
    deduped = stream_dedup_exact(
        stream, content_col="payload", ts_col="ts", watermark="1 hour"
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r.delivery_id, r.payload) for r in batch_df.collect()
        )

    (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    payloads = sorted(p for _, p in seen)
    assert payloads == [
        "order-created:42", "order-paid:42", "order-shipped:42"
    ]
    # the re-send (delivery 3) was dropped, first arrival won
    assert (1, "order-created:42") in seen
    assert all(d != 3 for d, _ in seen)


def test_stream_stream_join_time_bound(spark, tmp_path):
    """Impression⋈click attribution: a click joins only within the
    30-minute bound; the late click (45 min) never emits."""
    import os

    from square_etl_spark.streaming.incremental import stream_stream_join

    imp_dir = os.path.join(tmp_path, "imps")
    clk_dir = os.path.join(tmp_path, "clks")
    ckpt = os.path.join(tmp_path, "ssck")
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    imps = spark.createDataFrame(
        [("u1", t0, "ad-1"), ("u2", t0, "ad-2"), ("u3", t0, "ad-3")],
        "user string, ts timestamp, ad string",
    )
    clks = spark.createDataFrame(
        [("u1", t0 + dt.timedelta(minutes=10), "c-1"),   # in window
         ("u2", t0 + dt.timedelta(minutes=45), "c-2"),   # too late
         ("u4", t0 + dt.timedelta(minutes=5), "c-4")],   # no impression
        "user string, ts2 timestamp, click_id string",
    )
    imps.write.parquet(imp_dir)
    clks.write.parquet(clk_dir)

    left = spark.readStream.schema(
        "user string, ts timestamp, ad string"
    ).parquet(imp_dir)
    right = spark.readStream.schema(
        "user string, ts2 timestamp, click_id string"
    ).parquet(clk_dir)
    joined = stream_stream_join(
        left, right, "user", "ts", "ts2",
        watermark="2 hours", within="30 minutes",
    )
    got: list[tuple] = []

    def sink(batch_df, batch_id):
        got.extend((r.user, r.ad, r.click_id) for r in batch_df.collect())

    (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert got == [("u1", "ad-1", "c-1")]


def test_stream_cms_maintain_equals_one_shot_cellwise(spark, sf_dir, tmp_path):
    """Stream the events in two availableNow passes through the CMS
    maintainer; the stored sketch must equal the one-shot sketch of
    ALL events cell-for-cell (md5-deterministic monoid), and a
    re-delivered batch must not double-count (batch-id guard)."""
    import os

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.sketches import cms_build
    from square_etl_spark.schemas import EVENTS
    from square_etl_spark.streaming.incremental import stream_cms_availablenow

    ev = load_table(spark, sf_dir, "events").filter("user_id < 40")
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    sketch = os.path.join(tmp_path, "sketch")

    first = ev.filter("event_id % 2 = 0")
    rest = ev.filter("event_id % 2 = 1")
    first.write.mode("overwrite").parquet(src)
    stream_cms_availablenow(spark, src, ckpt, sketch, "user_id",
                            schema=EVENTS)
    rest.write.mode("append").parquet(src)
    stream_cms_availablenow(spark, src, ckpt, sketch, "user_id",
                            schema=EVENTS)

    got = sorted(
        (r["j"], r["b"], r["cnt"])
        for r in spark.read.parquet(sketch).select("j", "b", "cnt").collect()
    )
    want = sorted(
        (r["j"], r["b"], r["cnt"]) for r in cms_build(ev, "user_id").collect()
    )
    assert got == want

    # replay the whole source against the same sketch WITHOUT the
    # checkpoint: batch ids restart at 0 <= applied marker, so the
    # fold must be skipped and the sketch unchanged
    stream_cms_availablenow(
        spark, src, os.path.join(tmp_path, "ckpt2"), sketch, "user_id",
        schema=EVENTS,
    )
    again = sorted(
        (r["j"], r["b"], r["cnt"])
        for r in spark.read.parquet(sketch).select("j", "b", "cnt").collect()
    )
    assert again == want


def test_interval_lookup_works_as_stream_static_join(spark, tmp_path):
    """Streaming point-in-time enrichment: a fact STREAM joins the
    static SCD2 dimension through interval_lookup (stream-static
    broadcast joins are fully supported) — each micro-batch row picks
    the version whose validity window contains its timestamp."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from square_etl_spark.operators.joins import interval_lookup

    T = dt.datetime
    dim = spark.createDataFrame(
        [(1, "A", T(2024, 1, 1), T(2024, 2, 1), False),
         (1, "B", T(2024, 2, 1), None, True)],
        "k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    src = os.path.join(tmp_path, "facts")
    spark.createDataFrame(
        [(10, 1, T(2024, 1, 15)), (11, 1, T(2024, 2, 15)),
         (12, 1, T(2023, 12, 1))],
        "fid long, k long, at_ts timestamp",
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "fid long, k long, at_ts timestamp"
    ).parquet(src)
    out = interval_lookup(stream, dim, ["k"], "at_ts")
    q = (
        out.writeStream.format("memory")
        .queryName("pit_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["fid"]: r["seg"] for r in spark.sql("select * from pit_enrich").collect()
    }
    assert got == {10: "A", 11: "B", 12: None}


def test_stream_psi_maintain_equals_batch_exactly(spark, sf_dir, tmp_path):
    """Streaming PSI maintenance: three micro-batches of current data
    fold bin counts into bins-sized state; the read path must equal
    the one-shot batch drift_psi over the SAME data row-for-row
    (shared reference grid + shared psi arithmetic), and a replayed
    drain must not double-count."""
    import os

    from pyspark.sql import functions as F

    from square_etl_spark.operators.quality import drift_psi
    from square_etl_spark.streaming.incremental import (
        stream_psi_availablenow,
        stream_psi_read,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    ref = o.filter(F.col("o_orderdate") < cut).select("o_totalprice")
    cur = o.filter(F.col("o_orderdate") >= cut).select("o_totalprice")

    src = os.path.join(tmp_path, "psisrc")
    ckpt = os.path.join(tmp_path, "psickpt")
    state = os.path.join(tmp_path, "psistate")
    for i in range(3):
        cur.filter(F.crc32(F.col("o_totalprice").cast("string")) % 3 == i) \
            .coalesce(1).write.mode("append").parquet(src)
        stream_psi_availablenow(
            spark, src, ckpt, state, ref, "o_totalprice",
            schema="o_totalprice double",
        )

    got = stream_psi_read(spark, state, ref, "o_totalprice")
    want = drift_psi(ref, cur, "o_totalprice")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # drain again with no new files: counts unchanged (exactly-once)
    stream_psi_availablenow(
        spark, src, ckpt, state, ref, "o_totalprice",
        schema="o_totalprice double",
    )
    again = stream_psi_read(spark, state, ref, "o_totalprice")
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, got.collect())
    )


def test_stream_kmv_maintain_equals_one_shot_exactly(spark, sf_dir, tmp_path):
    """Stream the events in two availableNow passes through the KMV
    maintainer; the stored per-key sketch must equal the one-shot
    sketch of ALL events ELEMENT-FOR-ELEMENT (exact mergeable monoid:
    bottom-k of a union = bottom-k of the unioned bottom-ks), the
    read-time estimates must match, and a replayed drain must not
    corrupt the state (batch-id guard)."""
    import os

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.aggregations import (
        incremental_kmv,
        kmv_estimate,
    )
    from square_etl_spark.schemas import EVENTS
    from square_etl_spark.streaming.incremental import stream_kmv_availablenow

    ev = load_table(spark, sf_dir, "events").filter("user_id < 60")
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    sketch = os.path.join(tmp_path, "sketch")

    ev.filter("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    stream_kmv_availablenow(
        spark, src, ckpt, sketch, ["event_type"], "user_id", schema=EVENTS
    )
    ev.filter("event_id % 2 = 1").write.mode("append").parquet(src)
    stream_kmv_availablenow(
        spark, src, ckpt, sketch, ["event_type"], "user_id", schema=EVENTS
    )

    got = {
        r["event_type"]: list(r["kmv"])
        for r in spark.read.parquet(sketch).collect()
    }
    want = {
        r["event_type"]: list(r["kmv"])
        for r in incremental_kmv(None, ev, ["event_type"], "user_id").collect()
    }
    assert got == want  # element-for-element, every key

    # estimates agree with the one-shot read path too
    est = {
        r["event_type"]: r["est"]
        for r in spark.read.parquet(sketch)
        .select("event_type", kmv_estimate().alias("est"))
        .collect()
    }
    want_est = {
        k: (len(v) if len(v) < 64 else round(63 * 4294967296.0 / v[63]))
        for k, v in want.items()
    }
    assert est == want_est

    # replay the whole source without the checkpoint: batch ids restart
    # at 0 <= applied marker, so the fold is skipped, state unchanged
    stream_kmv_availablenow(
        spark, src, os.path.join(tmp_path, "ckpt2"), sketch,
        ["event_type"], "user_id", schema=EVENTS,
    )
    again = {
        r["event_type"]: list(r["kmv"])
        for r in spark.read.parquet(sketch).collect()
    }
    assert again == want


def test_stream_minhash_ingest_equals_batch_fold(spark, sf_dir, tmp_path):
    """The continuous-crawl near-dup ingest: streamed micro-batches
    probing + extending the stored LSH index must discover EXACTLY the
    pairs of the batch-mode incremental fold (each batch vs the union
    of all earlier batches), the index must accumulate every batch's
    rows, and a replayed drain must change nothing."""
    import os

    from pyspark.sql import functions as F

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import minhash_index, minhash_probe
    from square_etl_spark.streaming.incremental import (
        stream_minhash_ingest_availablenow,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 300")
    )
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    index_root = os.path.join(tmp_path, "index")
    pairs_root = os.path.join(tmp_path, "pairs")

    # two source files -> two availableNow drains (batch order = file
    # arrival order, which we control)
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    b0.write.mode("overwrite").parquet(src)
    stream_minhash_ingest_availablenow(
        spark, src, ckpt, index_root, pairs_root, threshold=0.5,
        schema="doc_id long, text string",
    )
    b1.write.mode("append").parquet(src)
    stream_minhash_ingest_availablenow(
        spark, src, ckpt, index_root, pairs_root, threshold=0.5,
        schema="doc_id long, text string",
    )

    got = sorted(
        map(tuple, spark.read.parquet(pairs_root)
            .select("new_id", "old_id", "jaccard").collect())
    )
    # batch-mode fold: batch 1 probed against batch 0's index only
    sh0, bk0 = minhash_index(b0)
    want = sorted(
        map(tuple, minhash_probe(sh0, bk0, b1, threshold=0.5).collect())
    )
    assert got == want and len(got) > 0
    # the index accumulated BOTH batches' rows
    n_idx = spark.read.parquet(os.path.join(index_root, "shingles")).count()
    assert n_idx == minhash_index(docs)[0].count()
    # replay the whole source without the checkpoint: every batch finds
    # its directories already committed -> no new pairs, no index growth
    stream_minhash_ingest_availablenow(
        spark, src, os.path.join(tmp_path, "ckpt2"), index_root, pairs_root,
        threshold=0.5, schema="doc_id long, text string",
    )
    again = sorted(
        map(tuple, spark.read.parquet(pairs_root)
            .select("new_id", "old_id", "jaccard").collect())
    )
    assert again == got
    assert spark.read.parquet(
        os.path.join(index_root, "shingles")
    ).count() == n_idx


def test_stream_dsir_maintain_equals_one_shot_exactly(spark, sf_dir, tmp_path):
    """Stream the documents in two availableNow passes through the
    DSIR state maintainer; the stored (bucket, count) state must equal
    the one-shot feature counts of ALL documents row-for-row
    (count-sum monoid), scoring with it must equal a full recompute,
    and a replayed drain must not double-count (batch-id guard)."""
    import os

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.sampling import (
        dsir_feature_counts,
        dsir_logweights,
    )
    from square_etl_spark.schemas import DOCUMENTS
    from square_etl_spark.streaming.incremental import (
        stream_dsir_availablenow,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 120")
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    state = os.path.join(tmp_path, "counts")

    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(src)
    stream_dsir_availablenow(
        spark, src, ckpt, state, "text", n=2, buckets=256, schema=DOCUMENTS
    )
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    stream_dsir_availablenow(
        spark, src, ckpt, state, "text", n=2, buckets=256, schema=DOCUMENTS
    )

    got = {
        (r["bucket"], r["count"])
        for r in spark.read.parquet(state).collect()
    }
    want = {
        (r["bucket"], r["count"])
        for r in dsir_feature_counts(docs, "text", n=2, buckets=256).collect()
    }
    assert got == want and len(got) > 0

    # scoring with the maintained state == full recompute
    target = docs.filter("lang = 'de'")
    w_state = {
        (r.doc_id, r.n_feats, r.dsir_logw)
        for r in dsir_logweights(
            docs, target, n=2, buckets=256,
            raw_counts=spark.read.parquet(state),
        ).collect()
    }
    w_full = {
        (r.doc_id, r.n_feats, r.dsir_logw)
        for r in dsir_logweights(docs, target, n=2, buckets=256).collect()
    }
    assert w_state == w_full

    # replayed drain (fresh checkpoint, same source) must be skipped by
    # the batch-id guard only for batches <= applied id; a FULL re-run
    # from a new checkpoint re-delivers batch 0 which the marker
    # rejects, leaving the state unchanged
    ckpt2 = os.path.join(tmp_path, "ckpt2")
    stream_dsir_availablenow(
        spark, src, ckpt2, state, "text", n=2, buckets=256, schema=DOCUMENTS
    )
    again = {
        (r["bucket"], r["count"])
        for r in spark.read.parquet(state).collect()
    }
    assert again == want


def test_stream_lm_counts_maintain_equals_one_shot_exactly(
    spark, sf_dir, tmp_path
):
    """Stream the documents in two availableNow passes through the
    unigram-LM state maintainer; the stored (w, c) model must equal
    the one-shot corpus counts element-for-element, scoring through
    model_counts must equal the self-computed path, and a replayed
    drain must not double-count (batch-id guard)."""
    import os

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.text import unigram_counts, unigram_logprob
    from square_etl_spark.schemas import DOCUMENTS
    from square_etl_spark.streaming.incremental import (
        stream_lm_counts_availablenow,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 120")
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    state = os.path.join(tmp_path, "lm")

    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(src)
    stream_lm_counts_availablenow(spark, src, ckpt, state, "text",
                                  schema=DOCUMENTS)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    stream_lm_counts_availablenow(spark, src, ckpt, state, "text",
                                  schema=DOCUMENTS)

    stored = spark.read.parquet(state)
    got = {(r["w"], r["c"]) for r in stored.collect()}
    want = {(r["w"], r["c"]) for r in unigram_counts(docs, "text").collect()}
    assert got == want and len(got) > 0

    via_state = sorted(
        map(tuple, unigram_logprob(
            docs, "doc_id", "text", model_counts=stored
        ).collect())
    )
    self_computed = sorted(
        map(tuple, unigram_logprob(docs, "doc_id", "text").collect())
    )
    assert via_state == self_computed

    # replay: re-draining the same source must be a no-op
    stream_lm_counts_availablenow(spark, src, ckpt, state, "text",
                                  schema=DOCUMENTS)
    again = {(r["w"], r["c"]) for r in spark.read.parquet(state).collect()}
    assert again == want


def test_stream_substring_dedup_equals_batch_fold(spark, sf_dir, tmp_path):
    """The streamed exact-substring ingest must clean each batch
    EXACTLY as the batch-mode incremental fold does (batch 1 against
    batch 0's window-hash state), accumulate the state, and a
    replayed drain must change nothing."""
    import os

    from pyspark.sql import functions as F

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import incremental_substring_dedup
    from square_etl_spark.streaming.incremental import (
        stream_substring_dedup_availablenow,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    state_root = os.path.join(tmp_path, "state")
    cleaned_root = os.path.join(tmp_path, "cleaned")

    b0 = docs.filter("doc_id < 100")
    b1 = docs.filter("doc_id >= 100")
    b0.write.mode("overwrite").parquet(src)
    stream_substring_dedup_availablenow(
        spark, src, ckpt, state_root, cleaned_root,
        window_tokens=10, schema="doc_id long, text string",
    )
    b1.write.mode("append").parquet(src)
    stream_substring_dedup_availablenow(
        spark, src, ckpt, state_root, cleaned_root,
        window_tokens=10, schema="doc_id long, text string",
    )

    got = sorted(
        map(tuple, spark.read.parquet(cleaned_root)
            .select("doc_id", "n_words", "n_kept", "cleaned_text")
            .collect())
    )
    c0, st = incremental_substring_dedup(None, b0, window_tokens=10)
    c1, st = incremental_substring_dedup(st, b1, window_tokens=10)
    want = sorted(
        map(tuple, c0.unionByName(c1).collect())
    )
    assert got == want and len(got) == 200
    # state accumulated both batches' first-occurrence keys
    n_state = spark.read.parquet(state_root).count()
    assert n_state == st.count()
    # some cross-batch stripping actually happened (fixture has
    # repeated 10-token runs across docs)
    assert any(r[2] < r[1] for r in got)
    # replay without the checkpoint: batch dirs exist -> no changes
    stream_substring_dedup_availablenow(
        spark, src, os.path.join(tmp_path, "ckpt2"), state_root,
        cleaned_root, window_tokens=10,
        schema="doc_id long, text string",
    )
    again = sorted(
        map(tuple, spark.read.parquet(cleaned_root)
            .select("doc_id", "n_words", "n_kept", "cleaned_text")
            .collect())
    )
    assert again == got
    assert spark.read.parquet(state_root).count() == n_state


def test_stream_nb_counts_maintain_equals_one_shot_exactly(
    spark, sf_dir, tmp_path
):
    """Stream labeled documents in two availableNow passes through the
    NB-model maintainer; the stored (label, w, c) statistics must
    equal the one-shot corpus statistics element-for-element, scoring
    through the state must equal a full retrain, and a replayed drain
    must not double-count (batch-id guard)."""
    import os

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.classify import nb_counts, nb_predictions
    from square_etl_spark.schemas import DOCUMENTS
    from square_etl_spark.streaming.incremental import (
        stream_nb_counts_availablenow,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 120")
    src = os.path.join(tmp_path, "src")
    ckpt = os.path.join(tmp_path, "ckpt")
    state = os.path.join(tmp_path, "nb")

    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(src)
    stream_nb_counts_availablenow(spark, src, ckpt, state, schema=DOCUMENTS)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    stream_nb_counts_availablenow(spark, src, ckpt, state, schema=DOCUMENTS)

    stored = spark.read.parquet(state)
    got = {(r["label"], r["w"], r["c"]) for r in stored.collect()}
    want = {(r["label"], r["w"], r["c"]) for r in nb_counts(docs).collect()}
    assert got == want and len(got) > 0

    probe = load_table(spark, sf_dir, "documents").filter(
        "doc_id >= 120 and doc_id < 180"
    )
    via_state = sorted(map(tuple, nb_predictions(probe, stored).collect()))
    retrained = sorted(
        map(tuple, nb_predictions(probe, nb_counts(docs)).collect())
    )
    assert via_state == retrained and len(via_state) > 0

    # replay: re-draining the same source must be a no-op
    stream_nb_counts_availablenow(spark, src, ckpt, state, schema=DOCUMENTS)
    again = {(r["label"], r["w"], r["c"]) for r in spark.read.parquet(state).collect()}
    assert again == want
