"""SparkSession factory with scale-oriented defaults.

Centralizes every config decision so tests, bench, and the driver all
run the same engine posture:

- UTC session timezone (oracle parity: DuckDB timestamps are tz-less).
- AQE on (coalesce shuffle partitions, skew-join handling) — the
  realistic 100 TB hazard in the reference's model is tenant skew
  (every warehouse row carries tenant_id; SURVEY.md §4).
- Arrow enabled for the few Pandas-UDF paths (multimodal plumbing).
- shuffle.partitions sized from env (local test default 32; a real
  cluster deployment overrides via spark-submit conf).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

#: configs applied to every session this engine creates.  Values chosen
#: for the local[32] test harness; on a real cluster these are baseline
#: settings that AQE adapts at runtime (coalescing the 32-or-overridden
#: shuffle partitions up/down per stage).
ENGINE_CONF: dict[str, str] = {
    # Correctness posture -------------------------------------------------
    # tz-naive parity with the DuckDB oracle and the reference's
    # UTC ISO-8601 timestamps (SURVEY.md §1.2).
    "spark.sql.session.timeZone": "UTC",
    # Keep Spark 4's ANSI default: garbage input is surfaced, and the
    # reference's tolerant-parse semantics (parseFloat → NULL) are
    # expressed explicitly with try_cast/try_divide where intended.
    "spark.sql.ansi.enabled": "true",
    # Scale posture -------------------------------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast dims aggressively: the reference's dimensions (locations,
    # categories, catalog items) are tiny by construction (single API
    # page; SURVEY.md §4).  64 MB is safe with multi-GB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the Pandas-UDF paths (similarity/multimodal); everything
    # on the hot path stays in JVM codegen (SURVEY.md §2.7: zero UDFs
    # needed for reference parity).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: push filters; split files at 32 MB so the small
    # single-file fixtures still fan out across local cores (a 13 MB
    # file at the 128 MB default is ONE task on a 32-thread runner).
    # 100 TB deployments override upward via env/spark-submit — there
    # the concern inverts to capping task count.
    "spark.sql.parquet.filterPushdown": "true",
    # zstd beats snappy ~30-40% on warehouse data for similar CPU —
    # at 100 TB that's tens of TB of storage and scan bandwidth.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)
    ),
    # Spark has no TIMESTAMP(NANOS) support — read ns columns as raw
    # int64 and convert explicitly (io.load_table truncates ns → µs,
    # matching DuckDB's ns→µs cast so oracle comparisons agree).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Avoid tiny-file explosions when tests write parquet.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # local[32] hosts driver AND all executor threads in ONE JVM: the
    # 1 GB default heap OOMs at ~50k-doc dedup workloads on a 128 GiB
    # box.  Size the heap to the machine (cluster deployments override
    # per-executor via spark-submit as usual).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.driver.maxResultSize": "4g",
    # Don't truncate scan metadata in explain output — plan assertions
    # (PushedFilters / ReadSchema) read it.
    "spark.sql.maxMetadataStringLength": "2000",
    # Let Catalyst negotiate filters with Python Data Sources (the
    # paginated REST-style source in sources/paginated.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Generated-class cache (static: read once at JVM start).  One hourly
    # sync tick generates ~174 distinct classes, so the default 100-entry
    # LRU evicts each of them before the next tick needs it again and
    # every tick recompiles all of them with Janino; at 1000 a repeat
    # tick (and a repeat corpus-curation pass) compiles almost nothing.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(app_name: str = "square-etl-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver
    contract) or ``local[*]``.  On a cluster, pass the real master or
    rely on spark-submit; every config here is overridable by a
    pre-existing session.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    # Harness hook: JSON dict of extra confs applied LAST (overrides
    # ENGINE_CONF).  Needed for settings that must land before the JVM
    # starts (spark.ui.*, memory) — bench.py and the A/B tools use it;
    # a cluster deployment would pass these via spark-submit instead.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra:
        for k, v in json.loads(extra).items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
