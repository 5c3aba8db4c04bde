"""Sources: declarative parquet scans with pushdown-friendly predicates.

The reference's sources are cursor-paginated REST scans with
server-side predicates — time windows pushed as begin_time/end_time
URL params (reference src/square.ts:43-91, :53-55) and type filters
pushed as a ``types`` param (:186-231).  The Spark-first equivalent is
a parquet scan with the predicate expressed declaratively so Catalyst
pushes it into the parquet reader (row-group pruning); the cursor loop
becomes partitioned scan tasks.  ``.explain`` on these scans must show
``PushedFilters`` — tests/test_plans.py asserts it.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from square_etl_spark.schemas import FIXTURE_TABLES
from square_etl_spark.session import ship_package

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: runtime-settable confs the engine's semantics depend on.  The driver
#: may hand us a SparkSession built WITHOUT session.get_spark (its own
#: builder): without these, the events table fails to read
#: (TIMESTAMP(NANOS)) and timestamp/ANSI semantics drift from the
#: DuckDB oracle.  All three are SQLConf (runtime) settings, so they
#: can be applied to any live session.
_REQUIRED_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
}


def ensure_engine_conf(spark: SparkSession) -> None:
    """Apply the engine's required runtime confs to any session, and
    let its Python workers import this package."""
    for k, v in _REQUIRED_RUNTIME_CONF.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    ship_package(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with its declared schema.

    Schema is supplied explicitly (never inferred; SURVEY.md §1.3).
    Column pruning + predicate pushdown happen in whatever the caller
    layers on top — callers should ``.select`` only what they need.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (which Spark cannot represent
    natively — with ``nanosAsLong`` it reads as raw int64 nanoseconds,
    truncated here to microseconds with integer division, exactly
    DuckDB's ns→µs cast) and plain TIMESTAMP(MICROS) (read directly).
    The footer decides which path applies — hard-coding either one
    corrupts the other by 1000× (epoch-1970 symptom).
    """
    ensure_engine_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        raw = spark.read.parquet(path)  # footer-inferred: bigint iff NANOS
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return raw.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type").cast("string").alias("event_type"),
            F.col("value").cast("double").alias("value"),
            F.col("props").cast("string").alias("props"),
        )
    schema = FIXTURE_TABLES.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def windowed_scan(
    df: DataFrame,
    ts_col: str,
    begin: str | _dt.datetime | None = None,
    end: str | _dt.datetime | None = None,
) -> DataFrame:
    """S1/P8: scan restricted to a half-open time window [begin, end).

    Mirrors the reference's incremental scan, where the window is
    computed once and pushed to the source (reference
    src/etl-square-payments.ts:18-25 → src/square.ts:53-55).  Expressed
    as a filter on literals so Catalyst pushes it into the parquet scan
    (at 100 TB this is the difference between reading one day and
    reading the whole table — combine with date partitioning and the
    filter also prunes partitions).
    """
    out = df
    if begin is not None:
        out = out.filter(F.col(ts_col) >= F.lit(begin).cast("timestamp"))
    if end is not None:
        out = out.filter(F.col(ts_col) < F.lit(end).cast("timestamp"))
    return out


def lookback_window(
    hours: float, now: _dt.datetime | None = None
) -> tuple[_dt.datetime, _dt.datetime]:
    """T2: sliding lookback window [now - hours, now].

    The reference derives the window from wall clock only, no stored
    cursor (src/etl-square-payments.ts:18-25; SURVEY.md §2.8 T3) —
    idempotent upserts make the ~24× re-read of each event safe.
    ``now`` is injectable for deterministic tests.
    """
    now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return now - _dt.timedelta(hours=hours), now


def typed_scan(df: DataFrame, type_col: str, types: list[str]) -> DataFrame:
    """S3/S5: scan filtered by an IN-list on a type column.

    Reference: the catalog fetch pushes ``types=ITEM,ITEM_VARIATION``
    server-side (src/square.ts:186-231, caller at
    src/etl-square-catalog.ts:131).  Here the IN predicate is pushed
    into the parquet scan by Catalyst.
    """
    return df.filter(F.col(type_col).isin(types))


def point_lookup(df: DataFrame, key_col: str, keys_df: DataFrame, key_alias: str) -> DataFrame:
    """S2→J3: the reference's per-key point lookup, done the Spark way.

    The reference fetches one order per HTTP GET in a sequential loop
    (src/square.ts:117-156, loop at src/etl-square-orders.ts:197-199) —
    its throughput ceiling.  Distributed engines never loop row-at-a-
    time: the set of keys becomes a DataFrame and the lookup becomes one
    equi-join (broadcast when the key set is small, sort-merge
    otherwise — AQE decides).
    """
    return keys_df.join(df, keys_df[key_alias] == df[key_col], "inner")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write a fact table partitioned by the given columns.

    The 100 TB layout decision (SURVEY.md §4): facts partition by
    tenant and event date so (a) the incremental lookback window
    rewrites ~1 day of partitions instead of the table, and (b) any
    windowed query prunes to the matching directories before a single
    row is read — `PartitionFilters` in the scan, asserted by
    tests/test_partitioning.py.  Dimension tables stay unpartitioned
    (they broadcast).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int,
    partition_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet path into ``target_files`` files (per
    partition directory when ``partition_cols`` is given).

    The operational pair of the merge sink: every incremental run
    appends/rewrites small files, and at warehouse scale scan cost is
    driven by file count (task scheduling + footer reads), so periodic
    compaction is part of the table's lifecycle.  It publishes through
    the merge sink's replace protocol (``sinks.merge._replace``): the
    writer lock, so a compaction never reads a base a concurrent merge
    is about to swap over, and the sibling-staging + rename swap, so
    a crash leaves the old or the new table, never neither.  Returns
    the file count after compaction.
    """
    from square_etl_spark.sinks.merge import _replace

    with _replace(path) as tmp:
        writer = (
            spark.read.parquet(path)
            .repartition(target_files, *(partition_cols or []))
            .write.mode("overwrite")
        )
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        n_files = sum(
            1
            for root, _, files in os.walk(tmp)
            for f in files
            if f.endswith(".parquet")
        )
    return n_files


def _corrupt_split(raw: DataFrame, schema, parse) -> tuple[DataFrame, DataFrame]:
    """The corrupt-record split behind both ingest quarantines: parse
    with ``parse(augmented_schema, options)`` — ``schema`` plus a
    ``__corrupt`` string field, PERMISSIVE mode naming it as the
    corrupt-record column — then keep the rows whose corrupt column is
    NULL as ``valid`` (flattened parsed fields) and the rest as
    ``rejects`` (the raw columns only).  One scan feeds both branches."""
    from pyspark.sql import types as T

    augmented = T.StructType(
        list(schema.fields) + [T.StructField("__corrupt", T.StringType())]
    )
    options = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "__corrupt"}
    parsed = raw.withColumn("__parsed", parse(augmented, options))
    failed = F.col("__parsed.__corrupt").isNotNull()
    valid = (
        parsed.filter(~failed)
        .select("*", "__parsed.*")
        .drop("__parsed", "__corrupt")
    )
    rejects = parsed.filter(failed).drop("__parsed")
    return valid, rejects


def json_ingest_quarantine(
    raw: DataFrame,
    json_col: str,
    schema,
) -> tuple[DataFrame, DataFrame]:
    """Parse a JSON string column against an explicit schema, splitting
    valid rows from a quarantine of unparseable ones.

    This is the reference's actual ingest shape — REST responses are
    JSON objects typed against optional-heavy interfaces, with invalid
    rows skipped-and-warned (E1, src/etl-square-orders.ts:53-68) and
    the raw payload always preserved (raw_payload column, SURVEY.md
    §1.2).  Spark-first: ``from_json`` with a declared StructType
    (never schema inference in production paths, §1.3) in PERMISSIVE
    mode with a corrupt-record column — a populated corrupt column
    means the parse failed → quarantine split, one scan feeding both
    branches.  Returns (valid, rejects); both keep the original raw
    column as the escape hatch.
    """
    return _corrupt_split(
        raw, schema, lambda s, opts: F.from_json(F.col(json_col), s, opts)
    )


def csv_ingest_quarantine(
    raw: DataFrame,
    csv_col: str,
    schema,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`json_ingest_quarantine`: parse a delimited
    string column against an explicit schema with ``from_csv`` in
    PERMISSIVE mode + corrupt-record column, split valid rows from the
    quarantine, keep the raw line on both branches.  Same posture:
    declared schema (never inference on production paths), one scan
    feeding both branches, skip-and-warn (E1) instead of task failure.
    A malformed FIELD (e.g. non-numeric where the schema says long)
    marks the row corrupt; extra fields beyond the schema do too."""

    def parse(augmented, options):
        # from_csv takes a DDL string (not a StructType)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in augmented.fields
        )
        return F.from_csv(F.col(csv_col), ddl, {**options, "sep": sep})

    return _corrupt_split(raw, schema, parse)


def pushed_filters(df: DataFrame) -> str:
    """Return the PushedFilters fragment of a scan's formatted plan.

    Test helper: asserts that a predicate actually reached the parquet
    reader instead of being evaluated post-scan.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def zorder_key(cols: list[str | Column], bits: int = 16) -> Column:
    """Z-order (Morton) clustering key: interleave the low ``bits``
    bits of each column so that sorting by the ONE key co-locates rows
    that are close in EVERY dimension — the lakehouse data-layout
    technique behind multi-dimensional data skipping.  Write a table
    ``.sortWithinPartitions(zorder_key([a, b]))`` (or repartitionByRange
    on it first for global clustering) and parquet row-group min/max
    stats become tight on BOTH a and b, so a predicate on EITHER
    column prunes row groups — a single-column sort gives that for one
    dimension only.

    Pure bit arithmetic in Column expressions (shift/and/or — stays in
    whole-stage codegen, and an oracle can recompute it): columns must
    be non-negative integers; values are masked to ``bits`` low bits
    (callers bucket/clamp first — for skewed domains feed a bucketed
    value like ``col % 1024``).  ``bits × len(cols)`` must fit a long
    (≤ 63)."""
    assert bits * len(cols) <= 63, "interleaved key must fit a long"
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            cc = F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
            bit = F.shiftright(cc, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return z


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_col: str,
    num_partitions: int = 8,
    properties: dict[str, str] | None = None,
    lower: int | str | None = None,
    upper: int | str | None = None,
) -> DataFrame:
    """Parallel relational read — the source-side complement of
    ``sinks/jdbc.write_jdbc_upsert`` (the reference only ever reads
    Square's REST API, but a warehouse engine also ingests FROM
    relational stores).  Bounds default to one tiny server-side
    MIN/MAX probe (a 1-row pushed-down aggregate), then Spark issues
    ``num_partitions`` range-predicated queries in parallel — each
    executor streams its own slice, no single-connection bottleneck,
    and WHERE/column pruning still push into every per-partition query
    (pinned in test_jdbc_sink).

    Scale notes: the partition column should be an indexed, roughly
    uniform key or the range slices skew (same hot-key story as any
    shuffle key — and the same fix: a derived bucketed column).
    ``num_partitions`` is a fan-out POLICY against the database's
    connection budget, not a throughput dial past ~the server's I/O.
    """
    props = dict(properties or {})
    reader_opts = {
        "url": url,
        "dbtable": table,
        **props,
    }
    if lower is None or upper is None:
        # UNQUOTED aliases on purpose: double-quoted ones are string
        # literals under MySQL's default sql_mode (ANSI_QUOTES off),
        # and NO alias breaks Derby (Spark's JDBC source re-selects
        # columns by their reported label, and Derby's auto-generated
        # names for aliasless aggregates aren't referenceable).
        # Unquoted aliases case-fold per engine, but Spark quotes the
        # label the driver reports back — with the dialect's own
        # quoting — so the follow-up select always matches; our own
        # access below is positional either way.
        bounds_sql = (
            f"(SELECT MIN({partition_col}) AS lo, "
            f"MAX({partition_col}) AS hi FROM {table}) bounds"
        )
        b = (
            spark.read.format("jdbc")
            .options(**{**reader_opts, "dbtable": bounds_sql})
            .load()
            .collect()[0]
        )
        if b[0] is None or b[1] is None:
            raise ValueError(
                f"cannot derive partition bounds: {table} is empty on "
                f"{partition_col} — pass lower/upper explicitly"
            )
        # str(), not int(): Spark's lowerBound/upperBound accept
        # numeric, date, AND timestamp strings, and the probe returns
        # whatever the column's type is — int() broke auto-probing on
        # date/timestamp partition columns Spark itself supports
        # (date/datetime str() forms are exactly what the option wants)
        lower = b[0] if lower is None else lower
        upper = b[1] if upper is None else upper
    return (
        spark.read.format("jdbc")
        .options(
            **reader_opts,
            partitionColumn=partition_col,
            lowerBound=str(lower),
            upperBound=str(upper),
            numPartitions=str(num_partitions),
        )
        .load()
    )


_MANIFEST_SCHEMA = (
    "file string, col string, min_str string, max_str string, "
    "null_count long"
)


def _footer_stats(f: str, cols: list[str]) -> list[tuple]:
    """Per-file footer extraction: one (file, col, min, max, nulls)
    tuple per requested column present in the file's schema.  Pure
    pyarrow metadata reads — no data pages."""
    import pyarrow.parquet as _pq

    md = _pq.ParquetFile(f).metadata
    schema_names = {md.row_group(0).column(i).path_in_schema
                    for i in range(md.num_columns)} if md.num_row_groups else set()
    out = []
    for c in cols:
        if c not in schema_names:
            continue
        mins, maxs, nulls = [], [], 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                if col.path_in_schema != c:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    mins, maxs = None, None
                    break
                mins.append(st.min)
                maxs.append(st.max)
                nulls += st.null_count or 0
            if mins is None:
                break
        if mins:
            out.append((f, c, str(min(mins)), str(max(maxs)), nulls))
        else:  # no stats for this column → never prunable
            out.append((f, c, None, None, None))
    return out


def stats_manifest(
    spark: SparkSession,
    path: str,
    cols: list[str],
    files_per_task: int = 512,
) -> DataFrame:
    """File-level min/max statistics manifest — the data-skipping
    index a table format (Delta/Iceberg) maintains, built here from
    the parquet footers directly: one row per (file, column) with the
    column's min, max, and null count aggregated over the file's row
    groups.  Footer-only reads — no data pages are touched, so
    building the manifest over a huge table costs file-count × a few
    KB of metadata I/O, not a scan.

    The footer reads run EXECUTOR-SIDE (r07 verdict): the driver only
    lists the files; the list fans out via ``mapInPandas`` in batches
    of ``files_per_task``, so a 100 TB table's 10⁵–10⁶ footers read in
    parallel across the cluster instead of serializing through one
    driver loop.  Output relation is identical to the former
    driver-loop build (equality-pinned in tests).

    Pair with :func:`prune_files` to turn a predicate into the subset
    of files that can possibly match, then read exactly those — the
    same skipping a format's transaction log provides, available on a
    plain parquet directory.  (Values are stringified like
    ``sampling.profile`` so mixed column types stack in one relation;
    ``prune_files`` compares in the column's own type.)
    """
    import glob as _glob
    import os as _os

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    want = list(cols)

    def extract(batches):
        import pandas as _pd

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                rows.extend(_footer_stats(f, want))
            yield _pd.DataFrame(
                rows,
                columns=["file", "col", "min_str", "max_str", "null_count"],
            )

    n_tasks = max(1, -(-len(files) // files_per_task))
    paths = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(n_tasks)
    return paths.mapInPandas(extract, _MANIFEST_SCHEMA)


def _stats_manifest_driver(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Driver-loop manifest build (the pre-r08 implementation), kept
    as the equality oracle for the distributed build — fine for small
    file counts, a driver bottleneck at 10⁵-file tables."""
    import glob as _glob
    import os as _os

    rows: list[tuple] = []
    for f in sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        rows.extend(_footer_stats(f, cols))
    return spark.createDataFrame(
        rows or [("", "", None, None, None)], _MANIFEST_SCHEMA
    ).filter(F.col("file") != "")


def prune_files(
    manifest: DataFrame, col: str, lo, hi
) -> list[str]:
    """Files whose ``[min, max]`` range for ``col`` intersects
    ``[lo, hi]`` — the read set for a range predicate.  Files with no
    stats for the column are conservatively KEPT (skipping may drop
    data only when the stats prove it).  Comparison casts both sides
    to double for numeric ranges (the manifest stores strings so
    mixed types stack); pass string bounds for lexicographic columns.

    Returns a plain list for ``spark.read.parquet(*files)`` — the
    manifest is file-count-sized driver metadata by construction.
    """
    numeric = isinstance(lo, (int, float))
    mn = F.col("min_str").cast("double") if numeric else F.col("min_str")
    mx = F.col("max_str").cast("double") if numeric else F.col("max_str")
    keep = manifest.filter(F.col("col") == col).filter(
        F.col("min_str").isNull()  # no stats → cannot prove skip
        | ((mx >= F.lit(lo)) & (mn <= F.lit(hi)))
    )
    return [r["file"] for r in keep.select("file").collect()]


# ---------------------------------------------------------------------------
# Versioned table layer (time-travel-lite)
# ---------------------------------------------------------------------------
# A minimal multi-version table on plain parquet: each write lands in an
# immutable `v=N` snapshot directory and a `_LATEST` pointer file flips
# atomically (write-temp + os.replace) to publish it.  This is the
# smallest useful slice of what a table format's transaction log buys —
# atomic publish, readers never see partial writes, historical reads,
# bounded retention — with none of the format dependency (the container
# ships no Delta/Iceberg; the full formats remain the documented
# upgrade at deployment).  Concurrent WRITERS are out of scope (single
# pipeline owner per table, the reference's own operating model).

_LATEST = "_LATEST"


def versioned_write(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Publish ``df`` as the next immutable snapshot of ``path``;
    returns the new version number.  The snapshot directory is fully
    written BEFORE the pointer flips, and ``os.replace`` is atomic on
    POSIX — a reader either sees the old pointer or the new one,
    never a torn table."""
    import re as _re

    os.makedirs(path, exist_ok=True)
    # next version clears BOTH the pointer and any orphan snapshot a
    # crashed write left above it — otherwise the orphan's directory
    # name collides with the retry and errorifexists rejects it
    existing = [
        int(m.group(1))
        for d in os.listdir(path)
        if (m := _re.fullmatch(r"v=(\d+)", d))
    ]
    v = max([table_version(path), *existing], default=0) + 1
    snap = os.path.join(path, f"v={v}")
    df.write.mode("errorifexists").parquet(snap)
    tmp = os.path.join(path, f".{_LATEST}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(path, _LATEST))
    return v


def table_version(path: str) -> int:
    """Current published version (0 = nothing published yet).  Only
    the pointer decides — a crashed write may leave an orphan
    snapshot directory, which is invisible to readers and reclaimed
    by :func:`versioned_vacuum`."""
    ptr = os.path.join(path, _LATEST)
    if not os.path.exists(ptr):
        return 0
    with open(ptr) as fh:
        return int(fh.read().strip())


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a specific snapshot (default: the published latest).
    Historical versions stay readable until vacuumed — the
    "reproduce last week's training set" contract."""
    v = table_version(path) if version is None else version
    if v < 1:
        raise ValueError(f"no published version at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def versioned_vacuum(
    path: str, keep: int = 2, orphan_grace_seconds: float = 24 * 3600
) -> list[int]:
    """Drop snapshots older than the newest ``keep`` (never the
    published one) plus any orphan snapshot ABOVE the pointer (a
    crashed write that never published).  Returns removed versions.

    An above-pointer snapshot younger than ``orphan_grace_seconds``
    is left alone (r07 advice): a writer sits between the snapshot
    write and the pointer flip for seconds-to-minutes, and a vacuum
    running in another process during that window would otherwise
    delete the IN-FLIGHT snapshot and let the writer publish a
    pointer to a missing directory.  A crashed write's orphan has a
    frozen mtime, so it ages past the grace period and is reclaimed
    by the next vacuum; pass ``orphan_grace_seconds=0`` only when the
    caller IS the single pipeline owner and no write can be in
    flight."""
    import re as _re
    import shutil as _shutil
    import time as _time

    cur = table_version(path)
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(path)
        if (m := _re.fullmatch(r"v=(\d+)", d))
    )
    now = _time.time()
    removed = []
    for v in versions:
        stale = v <= cur - keep
        orphan = v > cur and (
            now - os.path.getmtime(os.path.join(path, f"v={v}"))
            > orphan_grace_seconds
        )
        if stale or orphan:
            _shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed
