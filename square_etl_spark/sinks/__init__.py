"""Sinks: idempotent keyed merge (upsert) — SURVEY.md §2.2.

Every parquet-table rewrite publishes through one replace protocol,
``merge._replace`` (writer lock → crash recovery → staging dir →
rename swap, whole table or per touched partition): ``merge_upsert``
(full, or partition-restricted with ``partition_col``), ``cdc_merge``,
and outside this package ``io.compact_table`` and the streaming fold
sinks.  Append-only batch dirs and pointer-flipped versioned tables
stay off it on purpose (see the ``merge`` module docstring).
"""

from square_etl_spark.sinks.merge import cdc_merge, merge_dataframes, merge_upsert

__all__ = ["cdc_merge", "merge_dataframes", "merge_upsert"]
