"""Incremental sync runners (SURVEY.md §2.8 T1–T5).

The reference's incremental model: an hourly trigger re-scans a
sliding 24 h lookback window and idempotently upserts — each event is
re-read ~24× and the natural-key merge makes that safe
(.github/workflows/square-etl.yml:4-6; src/etl-square-payments.ts:12,18-25).

Two Spark-first expressions of the same semantics:

1. ``incremental_merge_run`` — the stateless batch form: windowed scan
   → transform → keyed merge.  Same trigger cadence as the reference
   (external scheduler), no checkpoint state to manage, safe to re-run.
2. ``stream_events_availablenow`` — Structured Streaming with
   ``trigger(availableNow=True)`` + ``foreachBatch`` merge: Spark
   tracks offsets in a checkpoint, so each run processes only NEW
   files — strictly better than the reference's re-read-24× design
   (T3: the reference stores no cursor at all), while ``foreachBatch``
   + idempotent merge keeps exactly-once *effects*.

Watermarked windowed aggregation (``windowed_stream_agg``) covers the
late-data story the reference handles by re-scanning: a 24 h watermark
admits the same lateness the lookback window did, with state that
Spark expires automatically.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from square_etl_spark.io import load_table, lookback_window, windowed_scan
from square_etl_spark.sinks.merge import merge_upsert


def incremental_merge_run(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_col: str,
    keys: list[str],
    target_path: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    lookback_hours: float = 24.0,
    now: _dt.datetime | None = None,
) -> int:
    """One stateless incremental run: scan window → transform → merge.

    Deterministic given ``now``; running the same window twice is a
    no-op on the target (idempotence — the property tests assert it).
    """
    begin, end = lookback_window(lookback_hours, now)
    batch = windowed_scan(load_table(spark, sf_dir, table), ts_col, begin, end)
    if transform is not None:
        batch = transform(batch)
    return merge_upsert(spark, target_path, batch, keys, order_cols=[ts_col])


def _drain_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    schema=None,
) -> None:
    """Run one ``availableNow`` drain of the parquet files under
    ``source_dir`` through ``foreachBatch(sink)``, with offsets kept in
    ``checkpoint_dir``: every file not yet seen is processed, then the
    query stops.  Every availableNow sink here runs through it."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_events_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    target_path: str,
    keys: list[str],
    order_col: str = "ts",
    schema=None,
) -> None:
    """Checkpointed micro-batch ingest of a parquet directory.

    ``availableNow`` drains everything new then stops — the scheduled-
    cron execution model (T1) with Spark-managed offsets (improves on
    T3).  The sink is the same idempotent merge as batch, so replays
    after a checkpoint rollback cannot double-apply.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, target_path, batch_df, keys, order_cols=[order_col])

    _drain_availablenow(spark, source_dir, checkpoint_dir, sink, schema)


def windowed_stream_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "24 hours",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Tumbling-window count/sum with a watermark.

    The watermark bounds state exactly like the reference's lookback
    bounds its re-scan: events later than 24 h are dropped, everything
    inside is incrementally aggregated.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _fold_stream_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    target_path: str,
    fold,
    schema=None,
) -> None:
    """Shared transactional scaffolding for streaming MONOID
    maintenance sinks (rollup, count-min): availableNow file stream →
    ``foreachBatch`` that folds each micro-batch into the stored
    target via ``fold(target_or_None, batch) -> DataFrame`` and
    publishes the result through the merge sink's replace protocol
    (``sinks.merge._replace``: writer lock, crash recovery, staging
    dir + rename swap, E3) — so a fold never swaps over the rows of a
    merge or compaction holding the lock.

    A fold is NOT idempotent under re-delivery — re-folding a replayed
    batch would double-count — so the sink records the last applied
    ``batch_id`` inside the target dir and skips batches at or below
    it: the standard transactional ``foreachBatch`` pattern that
    upgrades Spark's at-least-once re-delivery to exactly-once
    aggregate effects.  ONE implementation on purpose: the swap/
    marker/replay protocol must not be able to diverge between the
    maintenance sinks that share it.
    """
    import os

    from square_etl_spark.sinks.merge import _replace

    marker = "_last_batch_id"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with _replace(target_path) as tmp:
            target = None
            applied = -1
            if os.path.exists(target_path):
                mpath = os.path.join(target_path, marker)
                if os.path.exists(mpath):
                    with open(mpath) as fh:
                        applied = int(fh.read().strip())
                target = spark.read.parquet(target_path)
            if batch_id <= applied:
                return  # replayed batch: already folded in, nothing staged
            fold(target, batch_df).write.mode("overwrite").parquet(tmp)
            # batch_id lands INSIDE the staging dir, so the marker and the
            # data publish in the same atomic rename
            with open(os.path.join(tmp, marker), "w") as fh:
                fh.write(str(batch_id))

    _drain_availablenow(spark, source_dir, checkpoint_dir, sink, schema)


def stream_rollup_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    rollup_path: str,
    keys: list[str],
    sum_cols: list[str],
    schema=None,
) -> None:
    """Materialized-rollup maintenance as a streaming sink: each
    micro-batch folds into the stored rollup with O(batch) work
    (:func:`square_etl_spark.operators.aggregations.incremental_rollup`);
    transactional scaffolding shared with the count-min sink via
    :func:`_fold_stream_availablenow`."""
    from square_etl_spark.operators.aggregations import incremental_rollup

    _fold_stream_availablenow(
        spark,
        source_dir,
        checkpoint_dir,
        rollup_path,
        lambda target, batch: incremental_rollup(
            target, batch, keys, sum_cols
        ),
        schema=schema,
    )


def stream_dedup_exact(
    stream: DataFrame,
    keys: list[str] | None = None,
    content_col: str | None = None,
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """STREAMING exact dedup with bounded state: emit each key's first
    arrival, drop re-arrivals — the streaming twin of the batch
    digest-keyed dedup (operators/dedup.exact_dedup) and of J2's
    first-wins semantics.

    Built on ``dropDuplicatesWithinWatermark``: the state store keeps
    one entry per key only until the event-time watermark passes the
    key's last-seen timestamp + the delay, so state is O(keys inside
    the watermark horizon), not O(all keys ever) — the property that
    makes this deployable on an unbounded 100 TB/day feed.  (Plain
    streaming ``dropDuplicates`` grows state forever; the reference's
    equivalent protection was the 24 h lookback re-scan window, which
    is exactly what the watermark expresses.)

    ``content_col`` adds a sha2 content digest to the key set — dedup
    by what the record SAYS, not just its id (e.g. re-sent webhook
    payloads with fresh delivery ids).  Rows arriving later than the
    watermark are dropped by the same mechanism that bounds state, so
    the dedup guarantee and the late-data policy share one knob.
    """
    if keys is None:
        keys = []
    if content_col is not None:
        stream = stream.withColumn(
            "content_digest", F.sha2(F.col(content_col).cast("string"), 256)
        )
        keys = [*keys, "content_digest"]
    if not keys:
        raise ValueError("need keys and/or content_col to dedup on")
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts2",
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join with a time-bound join
    condition — the attribution shape (impression stream ⋈ click
    stream: a click joins its impression only within ``within``).

    Both sides carry watermarks and the join condition bounds
    ``right_ts`` to [left_ts, left_ts + within], which is what lets
    Structured Streaming EXPIRE state: a left row can be dropped once
    the right watermark passes its ts + within, a right row once the
    left watermark passes its ts — without the time bound the state
    store must hold both streams forever.  This is the streaming twin
    of the batch as-of/range joins (operators/joins.py) with the same
    at-scale posture: state ∝ rows inside the time horizon, shuffled
    by key.  ``left_ts``/``right_ts`` must be distinct column names
    (the joined relation carries both)."""
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must differ in the output")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= F.expr(f"{left_ts} + INTERVAL {within}"))
    )
    return lw.join(rw, cond).drop(rw[key])


def stream_cms_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sketch_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    schema=None,
) -> None:
    """Streaming count-min maintenance: each micro-batch's sketch
    folds cell-wise into the stored sketch
    (:func:`operators.aggregations.incremental_cms`); the stored state
    is ≤ depth·width rows forever, heavy-hitter estimates stay
    queryable over the unbounded stream at O(batch) refresh cost, and
    because the cells are md5-deterministic the maintained sketch
    equals the one-shot sketch of all data CELL-FOR-CELL (pinned in
    test_streaming).  Exactly-once transactional scaffolding shared
    with the rollup sink via :func:`_fold_stream_availablenow`."""
    from square_etl_spark.operators.aggregations import incremental_cms

    _fold_stream_availablenow(
        spark,
        source_dir,
        checkpoint_dir,
        sketch_path,
        lambda target, batch: incremental_cms(
            target, batch, key_col, depth=depth, width=width
        ),
        schema=schema,
    )


def stream_kmv_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sketch_path: str,
    keys: list[str],
    value_col: str,
    k: int = 64,
    schema=None,
) -> None:
    """Streaming KMV (k-minimum-values) distinct-count maintenance:
    each micro-batch's bottom-k hash sketch folds into the stored
    per-key sketch (:func:`operators.aggregations.incremental_kmv`) —
    the EXACT mergeable monoid this engine chose over HLL (bottom-k of
    a union = bottom-k of the unioned bottom-ks, portable md5
    arithmetic), so the maintained sketch equals the one-shot sketch
    of all data ELEMENT-FOR-ELEMENT, not just statistically (pinned in
    test_streaming).  State is ≤ k longs per key forever; per-drain
    cost is one batch dedup + grouped bottom-k.  Exactly-once
    transactional scaffolding (batch-id marker + atomic swap) shared
    with the rollup/CMS/PSI sinks via :func:`_fold_stream_availablenow`.
    Read estimates with :func:`operators.aggregations.kmv_estimate`."""
    from square_etl_spark.operators.aggregations import incremental_kmv

    _fold_stream_availablenow(
        spark,
        source_dir,
        checkpoint_dir,
        sketch_path,
        lambda target, batch: incremental_kmv(
            target, batch, keys, value_col, k=k
        ),
        schema=schema,
    )



def _publish_batch_dir(df: DataFrame, root: str, batch_id: int) -> None:
    """Atomically publish one batch's rows as ``<root>/batch=<id>`` —
    staged sibling dir + same-filesystem rename; a replayed piece that
    already exists is skipped (idempotent).  Shared by the append-only
    ingest sinks (minhash, exact-substring); preconditions (single
    writer, POSIX rename/list semantics) are documented on each sink."""
    import os

    from square_etl_spark.sinks.merge import _staging_dir

    final = os.path.join(root, f"batch={batch_id}")
    if os.path.exists(final):
        return  # replayed piece: already committed
    os.makedirs(root, exist_ok=True)
    tmp = _staging_dir(final)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, final)


def _sweep_stale_staging(root: str, grace_s: float = 600.0) -> None:
    """Remove staging dirs a crashed publish left behind — but ONLY
    those older than ``grace_s`` (mtime of the dir entry).  The sinks
    that call this document a single-writer precondition, but it used
    to be unenforced (r10 ADVICE): an accidental concurrent drain of
    the same roots (overlapping cron, a second operator instance)
    could rm-rf a peer's in-flight staging mid-commit with no error.
    A genuinely crashed publish is by definition old by the time the
    next drain runs; anything younger than the grace age is treated
    as possibly-live and left alone, so a concurrent writer's rename
    either succeeds or fails loudly on its own."""
    import glob
    import os
    import shutil
    import time

    cutoff = time.time() - grace_s
    for stale in glob.glob(os.path.join(root, "*.tmp-*")):
        try:
            if os.path.getmtime(stale) > cutoff:
                continue  # possibly a live concurrent publish
        except OSError:
            continue  # raced with its own rename/cleanup: not ours
        shutil.rmtree(stale, ignore_errors=True)


def stream_minhash_ingest_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    index_root: str,
    pairs_root: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    schema=None,
) -> None:
    """CONTINUOUS-CRAWL near-dup ingest, end to end in one streaming
    sink: every micro-batch (a) probes the stored LSH index for
    near-dups of the batch against EVERYTHING ingested before
    (:func:`operators.dedup.minhash_probe` — the corpus is touched
    only through its keys-sized index relations) and appends the
    discovered ``(new_id, old_id, jaccard)`` pairs, then (b) extends
    the stored index with the batch's own shingle/bucket rows
    (:func:`operators.dedup.minhash_index`).  The streamed fold's
    pair set equals the batch-mode incremental fold exactly (pinned
    in test_streaming).

    Exactly-once WITHOUT the swap scaffolding: the stored index must
    only ever GROW, so rewriting it per batch (the fold sinks' swap
    protocol) would be a corpus-proportional write per ingest.
    Instead each batch commits append-only PARTITION DIRECTORIES —
    ``<root>/batch=<id>/`` staged as a sibling temp dir and published
    by one atomic same-filesystem rename; a re-delivered batch finds
    its directories already present and skips just the missing pieces
    (pairs, bucket rows, shingle rows commit independently, each
    idempotent), so any crash point replays to the same state.  The
    probe reads only directories of EARLIER batches by construction:
    the current batch's rows are committed after its probe ran, and
    on replay the probe is skipped entirely — a batch never pairs
    with itself (in-batch dedup is :func:`stream_dedup_exact` /
    the batch operators' concern).

    At deployment scale the bucket partition dirs are further
    bucketed by ``(band, bhash)`` via
    :func:`operators.dedup.write_minhash_index_bucketed`'s layout —
    here the streaming concern (exactly-once append, replay safety,
    probe-before-extend ordering) is the thing under test.

    PRECONDITIONS of the commit protocol (hard requirements, not
    style): the index roots must live on a SINGLE POSIX filesystem
    (os.rename atomicity + os.listdir consistency are what make
    publish atomic and replay detection reliable — object stores'
    rename-as-copy and list-after-write lag both break it; use a
    table format's transactional commit there), and this sink must be
    the ONLY writer to those roots: the stale-staging sweep removes
    every ``*.tmp-*`` under them at each batch, so a concurrent
    writer's in-flight staging would be deleted mid-commit.
    """
    import os

    from square_etl_spark.operators.dedup import minhash_index, minhash_probe

    sh_root = os.path.join(index_root, "shingles")
    bk_root = os.path.join(index_root, "buckets")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for root in (sh_root, bk_root, pairs_root):
            _sweep_stale_staging(root)
        pairs_dir = os.path.join(pairs_root, f"batch={batch_id}")
        sh_dir = os.path.join(sh_root, f"batch={batch_id}")
        bk_dir = os.path.join(bk_root, f"batch={batch_id}")
        if all(os.path.exists(d) for d in (pairs_dir, sh_dir, bk_dir)):
            return  # fully committed batch replayed
        batch_df = batch_df.localCheckpoint(eager=True)
        sh_new, bk_new = minhash_index(
            batch_df, id_col, content_col, num_hashes, bands
        )
        if not os.path.exists(pairs_dir):
            have_index = os.path.exists(sh_root) and any(
                e.startswith("batch=") for e in os.listdir(sh_root)
            )
            if have_index:
                sh_old = spark.read.parquet(sh_root).drop("batch")
                bk_old = spark.read.parquet(bk_root).drop("batch")
                pairs = minhash_probe(
                    sh_old, bk_old, batch_df, id_col, content_col,
                    num_hashes, bands, threshold,
                )
            else:
                idt = batch_df.schema[id_col].dataType.simpleString()
                pairs = spark.createDataFrame(
                    [], f"new_id {idt}, old_id {idt}, jaccard double"
                )
            _publish_batch_dir(pairs, pairs_root, batch_id)
        # extend the index ONLY after the batch's pairs committed: the
        # probe must never see the probing batch's own rows
        _publish_batch_dir(bk_new, bk_root, batch_id)
        _publish_batch_dir(sh_new, sh_root, batch_id)

    _drain_availablenow(spark, source_dir, checkpoint_dir, sink, schema)


def stream_psi_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    counts_path: str,
    ref: DataFrame,
    value_col: str,
    bins: int = 10,
    schema=None,
) -> None:
    """Streaming PSI drift maintenance — the monitoring twin of
    :func:`operators.quality.drift_psi`: each micro-batch is binned on
    the FIXED reference grid and its counts fold into a stored
    bins-sized count table (bin counts are a sum monoid, so streaming
    maintenance ≡ one-shot batch binning exactly; exactly-once via
    the shared transactional scaffolding).  State is ``bins`` rows
    forever; read the current PSI any time with
    :func:`stream_psi_read` — between-ingest drift monitoring that
    never rescans the stream's history."""
    from square_etl_spark.operators.quality import psi_bin_counts

    def fold(target: DataFrame | None, batch: DataFrame) -> DataFrame:
        part = psi_bin_counts(batch, value_col, ref, bins, "n_cur")
        if target is None:
            return part
        return (
            target.unionByName(part)
            .groupBy("bin")
            .agg(F.sum("n_cur").alias("n_cur"))
        )

    _fold_stream_availablenow(
        spark, source_dir, checkpoint_dir, counts_path, fold, schema=schema
    )


def stream_psi_read(
    spark: SparkSession,
    counts_path: str,
    ref: DataFrame,
    value_col: str,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Current PSI of the maintained stream counts vs the reference —
    the read path of :func:`stream_psi_availablenow`, sharing
    ``psi_from_counts`` verbatim with the batch operator so the two
    cannot diverge arithmetically."""
    from square_etl_spark.operators.quality import (
        psi_bin_counts,
        psi_from_counts,
    )

    cur = spark.read.parquet(counts_path).select("bin", "n_cur")
    refc = psi_bin_counts(ref, value_col, ref, bins, "n_ref")
    counts = refc.join(cur, "bin", "full").na.fill(
        {"n_ref": 0, "n_cur": 0}
    )
    return psi_from_counts(counts, eps)


def stream_dsir_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    counts_path: str,
    text_col: str = "text",
    n: int = 2,
    buckets: int = 4096,
    schema=None,
) -> None:
    """Streaming DSIR raw-distribution maintenance: each micro-batch's
    hashed-feature bucket counts fold into the stored state
    (:func:`operators.sampling.dsir_feature_counts` /
    :func:`dsir_fold_counts` — count-sum monoid), so importance
    weights for data selection stay computable over an unbounded
    ingest at O(batch) refresh cost with a state bounded at
    ≤ ``buckets`` rows forever.  The maintained state equals the
    one-shot feature counts of all data ROW-FOR-ROW (pinned in
    test_streaming), hence :func:`sampling.dsir_logweights
    (raw_counts=state)` scores identically to a full recompute.
    Exactly-once transactional scaffolding (batch-id marker + atomic
    swap) shared with the rollup/CMS/KMV/PSI sinks via
    :func:`_fold_stream_availablenow`."""
    from square_etl_spark.operators.sampling import (
        dsir_feature_counts,
        dsir_fold_counts,
    )

    def fold(target: DataFrame | None, batch: DataFrame) -> DataFrame:
        counts = dsir_feature_counts(batch, text_col, n=n, buckets=buckets)
        return counts if target is None else dsir_fold_counts(target, counts)

    _fold_stream_availablenow(
        spark, source_dir, checkpoint_dir, counts_path, fold, schema=schema
    )


def stream_lm_counts_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    counts_path: str,
    text_col: str = "text",
    schema=None,
) -> None:
    """Streaming unigram-LM maintenance: each micro-batch's exact
    ``(w, c)`` token counts fold into the stored model state
    (:func:`operators.text.unigram_counts` /
    :func:`fold_unigram_counts` — count-sum monoid), so the
    perplexity-style quality filter and the DoReMi excess-loss signal
    stay computable over an unbounded ingest at O(batch) refresh cost
    — the DSIR sink's pattern with a vocab-sized (sub-linear, not
    bounded-by-construction) state.  The maintained state equals the
    one-shot corpus counts ELEMENT-FOR-ELEMENT (pinned in
    test_streaming), hence ``unigram_logprob(model_counts=state)``
    scores identically to a full recompute.  Exactly-once
    transactional scaffolding (batch-id marker + atomic swap) shared
    with the rollup/CMS/KMV/PSI/DSIR sinks via
    :func:`_fold_stream_availablenow`."""
    from square_etl_spark.operators.text import (
        fold_unigram_counts,
        unigram_counts,
    )

    def fold(target: DataFrame | None, batch: DataFrame) -> DataFrame:
        counts = unigram_counts(batch, text_col)
        return counts if target is None else fold_unigram_counts(target, counts)

    _fold_stream_availablenow(
        spark, source_dir, checkpoint_dir, counts_path, fold, schema=schema
    )


def stream_nb_counts_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    counts_path: str,
    label_col: str = "lang",
    text_col: str = "text",
    schema=None,
) -> None:
    """Streaming maintenance of the trained-classifier model: each
    labeled micro-batch's NB sufficient statistics
    (:func:`operators.classify.nb_counts` — token counts per label +
    doc-count sentinels, one relation) fold into the stored state via
    the count-sum monoid, so :func:`operators.classify.nb_predictions`
    scores new corpus batches against an always-current model without
    ever re-tokenizing old training data — online classifier training
    at O(batch) refresh cost (the LM-counts sink's pattern with a
    (vocab × labels)-sized state).  The maintained state equals the
    one-shot statistics element-for-element (pinned in
    test_streaming), hence scoring through it is bit-identical to a
    full retrain — the same fold ≡ one-shot law
    classify_nb_incremental certifies against the DuckDB oracle at
    driver scale.  Exactly-once batch-id marker + atomic swap shared
    via :func:`_fold_stream_availablenow`."""
    from square_etl_spark.operators.classify import (
        fold_nb_counts,
        nb_counts,
    )

    def fold(target: DataFrame | None, batch: DataFrame) -> DataFrame:
        counts = nb_counts(batch, label_col, text_col)
        return counts if target is None else fold_nb_counts(target, counts)

    _fold_stream_availablenow(
        spark, source_dir, checkpoint_dir, counts_path, fold, schema=schema
    )


def stream_substring_dedup_availablenow(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_root: str,
    cleaned_root: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    window_tokens: int = 50,
    schema=None,
) -> None:
    """CONTINUOUS-CRAWL exact-substring dedup in one streaming sink —
    the streaming twin of :func:`operators.dedup.
    incremental_substring_dedup`, with the same append-only
    exactly-once protocol as :func:`stream_minhash_ingest_
    availablenow`: every micro-batch (a) strips from its documents
    every ``window_tokens``-token run already present in the stored
    first-occurrence window-hash state (or earlier in the batch) and
    appends the cleaned docs, then (b) extends the state with the
    batch's own first-occurrence keys ``(whash, id, pos)``.  The
    streamed fold's cleaned output equals the batch-mode incremental
    fold exactly (pinned in test_streaming).

    Exactly-once via append-only PARTITION DIRECTORIES (`batch=<id>`
    staged + atomically renamed; a re-delivered batch finds its
    directories present and skips the missing pieces independently;
    the cleaned output commits BEFORE the state extension so a
    replayed batch never sees its own windows).  Same preconditions
    as the minhash ingest sink: single writer, same-POSIX-filesystem
    roots (the stale-staging sweep rm-rf's ``*.tmp-*`` under them).
    """
    import os

    from square_etl_spark.operators.dedup import incremental_substring_dedup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for root in (state_root, cleaned_root):
            _sweep_stale_staging(root)
        cleaned_dir = os.path.join(cleaned_root, f"batch={batch_id}")
        state_dir = os.path.join(state_root, f"batch={batch_id}")
        if os.path.exists(cleaned_dir) and os.path.exists(state_dir):
            return  # fully committed batch replayed
        batch_df = batch_df.localCheckpoint(eager=True)
        have_state = os.path.exists(state_root) and any(
            e.startswith("batch=") for e in os.listdir(state_root)
        )
        state = (
            spark.read.parquet(state_root).drop("batch")
            if have_state
            else None
        )
        cleaned, new_state = incremental_substring_dedup(
            state, batch_df, id_col, content_col, window_tokens
        )
        # the batch's NEW first-occurrence keys are the state delta:
        # new_state = state ∪ delta, so anti-join out the old keys
        delta = (
            new_state
            if state is None
            else new_state.join(
                state.select("whash"), "whash", "left_anti"
            )
        )
        delta = delta.localCheckpoint(eager=True)
        cleaned = cleaned.localCheckpoint(eager=True)
        # cleaned commits BEFORE the state extension: on replay the
        # probe must never see the probing batch's own windows
        _publish_batch_dir(cleaned, cleaned_root, batch_id)
        _publish_batch_dir(delta, state_root, batch_id)

    _drain_availablenow(spark, source_dir, checkpoint_dir, sink, schema)
