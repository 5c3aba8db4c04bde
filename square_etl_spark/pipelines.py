"""End-to-end warehouse pipelines — the reference's six ETL mains.

Each reference entry point (``src/etl-square-*.ts``) is a straight-line
composition: fetch a page window → map rows (null-coalesce, tolerant
parse, skip-and-warn) → upsert into one ``pos.pos_*`` table.  This
module re-expresses each composition Spark-first over the SAME operator
library the rest of the engine uses (projections/joins/quality/merge):
one declarative plan per pipeline, quarantine instead of console.warn,
and :func:`square_etl_spark.sinks.merge.merge_upsert` as the
transactional tail — the merge sink's one replace protocol (writer
lock, crash recovery, staging dir, rename swap) stands in for the
reference's BEGIN/COMMIT.

Source adapters: the driver fixtures carry no POS data, so each
pipeline has a deterministic adapter that reshapes a fixture table into
the source rows the reference would have fetched (nulls planted with
explicit CASEs, identically reproducible in the DuckDB oracles — the
same convention as the P1–P9 queries).  Swap the adapter for the real
paginated REST source (``sources/paginated.py``) in production; every
stage downstream is unchanged.

Scale notes: every pipeline is map + (at most) one broadcast join +
one merge — no unbounded shuffles.  The merge is the only wide stage,
and for the fact tables it runs partition-restricted
(``merge_upsert(..., partition_col=FACT_PARTITION[table])``).

Reference parity map:
  payments    — src/etl-square-payments.ts:27-47 (map), 130-138 (main)
  order items — src/etl-square-orders.ts:48-90 (map), 174-217 (main)
  catalog     — src/etl-square-catalog.ts:30-58 (map), 129-172 (main)
  inventory   — src/etl-square-inventory.ts:30-60 (map), 126-142 (main)
  categories  — src/etl-square-categories.ts:29-53 (map)
  locations   — src/etl-square-locations.ts:29-53 (map)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from square_etl_spark.io import load_table
from square_etl_spark.operators.joins import first_wins
from square_etl_spark.operators.projections import (
    coalesce_first,
    enrich_constants,
    flatten_address,
    nullify_when,
    with_default,
)
from square_etl_spark.operators.quality import quarantine_split
from square_etl_spark.schemas import WAREHOUSE_TABLES
from square_etl_spark.sinks.merge import merge_upsert

#: the reference's env-driven tenancy constants with their defaults
#: (src/etl-square-payments.ts:8-11).
TENANCY = {
    "tenant_id": "tenant-1",
    "provider": "square",
    "provider_account_id": "default-square",
}


def _conform(df: DataFrame, table: str, extra: tuple[str, ...] = ()) -> DataFrame:
    """Project to the declared POS schema: exact column order + types
    (schema inference never decides a warehouse layout).  ``extra``
    appends non-schema columns (e.g. a derived partition date) after
    the declared layout — used only on the merge path, never in the
    checked query output."""
    schema, _ = WAREHOUSE_TABLES[table]
    # one selectExpr parse instead of a py4j round trip (with a JSON
    # type parse) per column cast
    cols = [
        f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    ]
    return df.selectExpr(*cols, *[f"`{c}`" for c in extra])


# ---------------------------------------------------------------------------
# Payments (src/etl-square-payments.ts)
# ---------------------------------------------------------------------------


def payments_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture adapter: orders → the page of SquarePayment records a
    24 h window fetch would return, optional fields nulled with
    explicit CASEs (reproduced verbatim in the oracle SQL)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        F.concat(F.lit("pay-"), F.col("o_orderkey")).alias("payment_id"),
        nullify_when(
            F.concat(F.lit("ord-"), F.col("o_orderkey")), F.col("o_orderkey") % 5 == 0
        ).alias("order_id"),
        F.concat(F.lit("loc-"), F.col("o_custkey") % 10).alias("location_id"),
        F.col("o_orderdate").alias("created_at"),
        nullify_when(
            F.col("o_orderdate") + F.expr("INTERVAL 1 HOUR"),
            F.col("o_orderkey") % 3 == 0,
        ).alias("updated_at"),
        nullify_when(cents, F.col("o_orderkey") % 7 == 0).alias("total_amount"),
        nullify_when(cents, F.col("o_orderkey") % 9 == 0).alias("amount_amount"),
        F.lit("USD").alias("currency"),
        F.col("o_orderstatus").alias("status"),
        F.concat(F.lit("cust-"), F.col("o_custkey")).alias("customer_id"),
        nullify_when(
            F.concat(F.lit("ref-"), F.col("o_orderkey")), F.col("o_orderkey") % 2 == 0
        ).alias("reference_id"),
    )


def payments_pipeline(
    source: DataFrame, with_part_date: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Map + quarantine for payments: money = total ?? amount; a row
    with NEITHER is the reference's throw (src/etl-square-payments.ts:
    30-32) — here it lands in quarantine instead of killing the batch
    (E1 posture, SURVEY.md §2.9).  Returns (warehouse rows conforming
    to POS_PAYMENTS, rejects).

    ``with_part_date`` appends ``part_date = to_date(created_at)`` for
    the partition-restricted merge path (run_pipeline): payment
    creation date is immutable per natural key, the invariant
    the partition-restricted merge_upsert requires."""
    money = coalesce_first("total_amount", "amount_amount")
    mapped = source.withColumn("amount", money)
    good, rejects = quarantine_split(
        mapped, [("no_money_fields", F.col("amount").isNull())]
    )
    rows = enrich_constants(good, **TENANCY).withColumn(
        "raw_payload",
        F.to_json(F.struct(*source.columns)),
    )
    extra: tuple[str, ...] = ()
    if with_part_date:
        # month granularity in-container (the fixture spans ~7 years;
        # daily would mean thousands of tiny partition dirs at sf0.001)
        # — at production volume make this F.to_date(created_at) daily.
        rows = rows.withColumn("part_date", F.trunc("created_at", "month"))
        extra = ("part_date",)
    return _conform(rows, "pos_payments", extra), rejects


# ---------------------------------------------------------------------------
# Order items (src/etl-square-orders.ts) — the widest composition:
# payments → first-wins order→payment map → line-item explode-shaped
# join → per-line validity filters → upsert.
# ---------------------------------------------------------------------------


def order_items_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture adapter: lineitem → the per-order line_items arrays the
    order fetch loop would return, one row per line (the J4 explode is
    pre-flattened by the fixture's relational layout; the reference
    explodes JSON arrays — same cardinality either way)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("ord-"), F.col("l_orderkey")).alias("order_id"),
        nullify_when(
            F.concat(
                F.lit("li-"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")
            ),
            (F.col("l_orderkey") + F.col("l_linenumber")) % 13 == 0,
        ).alias("line_item_uid"),
        F.concat(F.lit("obj-"), F.col("l_partkey")).alias("catalog_object_id"),
        nullify_when(
            F.concat(F.lit("item "), F.col("l_partkey")), F.col("l_partkey") % 6 == 0
        ).alias("item_name"),
        # reference parses quantity from a STRING (parseFloat) — plant
        # garbage and non-positive values like the P2 query does
        F.when(F.col("l_orderkey") % 7 == 0, F.lit("garbage"))
        .when(F.col("l_orderkey") % 11 == 0, (-F.col("l_quantity")).cast("string"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("quantity_str"),
        nullify_when(
            F.floor(F.col("l_extendedprice") * 100).cast("long"),
            F.col("l_linenumber") % 4 == 0,
        ).alias("base_price_amount"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long").alias("total_money_amount"),
        F.concat(F.lit("loc-"), F.col("l_suppkey") % 10).alias("location_id"),
    )


def order_items_pipeline(
    payments: DataFrame, lines: DataFrame, with_part_date: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The reference main (src/etl-square-orders.ts:174-217) as one
    declarative plan:

    1. order→payment map, FIRST payment wins per order (:182-190) —
       deterministic ``first_wins`` on payment_id (the reference gets
       arrival order; we re-specify, SURVEY.md §2.8 T4);
    2. line items join the map on order_id — INNER, so orders without a
       payment drop, matching ``if (!order) continue`` (:200) in
       reverse, and lines without uid / with invalid quantity are
       quarantined, matching the per-line skips (:53-68);
    3. tenancy constants + raw payload, conform to POS_ORDER_ITEMS.

    The order→payment map is small relative to lines (one row per
    order) — broadcast it so line items never shuffle.

    ``with_part_date`` carries the winning payment's ``created_at``
    through the map and appends ``part_date = to_date(created_at)``
    for the partition-restricted merge path: order date is immutable
    per (order_id, line_item_uid) natural key — order_id is IN the
    key, and the first-wins payment choice is deterministic — so the
    partition-restricted merge_upsert invariant holds.
    """
    o2p_cols = ["order_id", "payment_id"] + (
        ["created_at"] if with_part_date else []
    )
    o2p = first_wins(
        payments.filter(F.col("order_id").isNotNull()).select(*o2p_cols),
        key_cols=["order_id"],
        order_cols=["payment_id"],
    )
    qty = F.col("quantity_str").try_cast("double")
    # bcast-ok: per-batch first-wins order→payment map, bounded by the
    # ingest window (the reference processes windowed batches, S1/T2)
    staged = lines.join(F.broadcast(o2p), on="order_id", how="inner").withColumn(
        "quantity", qty
    )
    good, rejects = quarantine_split(
        staged,
        [
            ("missing_uid", F.col("line_item_uid").isNull()),
            (
                "invalid_quantity",
                F.col("quantity").isNull() | (F.col("quantity") <= 0),
            ),
        ],
    )
    rows = (
        enrich_constants(good, **TENANCY)
        .withColumn("sku", F.lit(None).cast("string"))  # :82 "fill later"
        .withColumn("currency", F.lit("USD"))
        .withColumn(
            "raw_payload",
            F.to_json(
                F.struct("order_id", "line_item_uid", "catalog_object_id", "quantity")
            ),
        )
    )
    extra: tuple[str, ...] = ()
    if with_part_date:
        rows = rows.withColumn("part_date", F.trunc("created_at", "month"))
        extra = ("part_date",)
    return _conform(rows, "pos_order_items", extra), rejects


# ---------------------------------------------------------------------------
# Catalog (src/etl-square-catalog.ts) — parent-item broadcast join
# ---------------------------------------------------------------------------


def catalog_source(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Fixture adapter: part → (ITEM objects, ITEM_VARIATION objects).
    Each part yields one item and one variation pointing at it."""
    p = load_table(spark, sf_dir, "part")
    items = p.select(
        F.concat(F.lit("item-"), F.col("p_partkey")).alias("item_id"),
        nullify_when(F.col("p_name"), F.col("p_partkey") % 2 == 0).alias("item_name"),
        nullify_when(
            F.concat(F.lit("cat-"), F.col("p_partkey") % 25),
            F.col("p_partkey") % 6 == 0,
        ).alias("category_id"),
    )
    variations = p.select(
        nullify_when(
            F.concat(F.lit("var-"), F.col("p_partkey")), F.col("p_partkey") % 17 == 0
        ).alias("catalog_object_id"),
        F.lit("ITEM_VARIATION").alias("object_type"),
        F.concat(F.lit("item-"), F.col("p_partkey")).alias("item_id"),
        F.col("p_type").alias("variation_name"),
        nullify_when(
            F.concat(F.col("p_brand"), F.lit("-"), F.col("p_partkey")),
            F.col("p_partkey") % 4 == 0,
        ).alias("sku"),
        (F.col("p_partkey") % 10 == 0).alias("is_deleted"),
    )
    return items, variations


def catalog_pipeline(
    items: DataFrame, variations: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The reference builds driver-side ITEM.id→name / →category maps
    then walks variations (src/etl-square-catalog.ts:134-168); here the
    maps are ONE broadcast left join (items per tenant are a small
    dim), and the name fallback ``parentName ?? variationName`` is P3's
    coalesce.  Variations without id are quarantined (:35-38)."""
    # bcast-ok: catalog items per tenant = single-API-page dim (SURVEY §4)
    joined = variations.join(F.broadcast(items), on="item_id", how="left")
    good, rejects = quarantine_split(
        joined, [("missing_id", F.col("catalog_object_id").isNull())]
    )
    rows = enrich_constants(
        good.select(
            "catalog_object_id",
            "object_type",
            coalesce_first("item_name", "variation_name").alias("item_name"),
            "variation_name",
            "sku",
            "category_id",
            with_default("is_deleted", False).alias("is_deleted"),
        ),
        **TENANCY,
    ).withColumn(
        "raw_payload",
        F.to_json(F.struct("catalog_object_id", "variation_name", "sku")),
    )
    return _conform(rows, "pos_catalog"), rejects


# ---------------------------------------------------------------------------
# Inventory (src/etl-square-inventory.ts)
# ---------------------------------------------------------------------------


def inventory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture adapter: lineitem → inventory count records (one count
    per (part, supplier-location, returnflag-state) observation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        nullify_when(
            F.concat(F.lit("obj-"), F.col("l_partkey")), F.col("l_orderkey") % 19 == 0
        ).alias("catalog_object_id"),
        F.lit("ITEM_VARIATION").alias("catalog_object_type"),
        F.concat(F.lit("loc-"), F.col("l_suppkey") % 10).alias("location_id"),
        nullify_when(
            F.col("l_returnflag"), F.col("l_linenumber") % 3 == 0
        ).alias("state_raw"),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit("garbage"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("quantity_str"),
        F.col("l_shipdate").alias("calculated_at"),
    )


def inventory_pipeline(source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Inventory map (src/etl-square-inventory.ts:30-60): id required
    (skip), quantity parseFloat with skip ONLY on non-finite — zero and
    negative counts are legitimate stock states (:39-45) — and
    ``state ?? "UNKNOWN"`` (:55).  The natural key spans
    (object, location, state), so within-batch duplicates collapse
    last-writer-wins by calculated_at at merge time."""
    qty = F.col("quantity_str").try_cast("double")
    staged = source.withColumn("quantity", qty)
    good, rejects = quarantine_split(
        staged,
        [
            ("missing_object_id", F.col("catalog_object_id").isNull()),
            ("invalid_quantity", F.col("quantity").isNull()),
        ],
    )
    rows = enrich_constants(
        good.select(
            "catalog_object_id",
            "catalog_object_type",
            "location_id",
            with_default("state_raw", "UNKNOWN").alias("state"),
            "quantity",
            "calculated_at",
        ),
        **TENANCY,
    ).withColumn(
        "raw_payload",
        F.to_json(F.struct("catalog_object_id", "location_id", "quantity")),
    )
    return _conform(rows, "pos_inventory"), rejects


# ---------------------------------------------------------------------------
# Categories (src/etl-square-categories.ts)
# ---------------------------------------------------------------------------


def categories_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        nullify_when(
            F.concat(F.lit("cat-"), F.col("n_nationkey")), F.col("n_nationkey") % 23 == 0
        ).alias("category_id"),
        nullify_when(F.col("n_name"), F.col("n_nationkey") % 5 == 0).alias(
            "name_raw"
        ),
        nullify_when(
            F.col("n_regionkey") == 0, F.col("n_nationkey") % 3 == 0
        ).alias("top_level_raw"),
    )


def categories_pipeline(source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Category map (src/etl-square-categories.ts:29-53): id required,
    ``name ?? "Unknown Category"`` (:36), ``is_top_level ?? true``
    (:38), parent left NULL exactly as the reference does (:42)."""
    good, rejects = quarantine_split(
        source, [("missing_id", F.col("category_id").isNull())]
    )
    rows = enrich_constants(
        good.select(
            "category_id",
            with_default("name_raw", "Unknown Category").alias("category_name"),
            F.lit(None).cast("string").alias("parent_category_id"),
            with_default("top_level_raw", True).alias("is_top_level"),
            F.lit(False).alias("is_deleted"),
        ),
        **TENANCY,
    ).withColumn("raw_payload", F.to_json(F.struct("category_id")))
    return _conform(rows, "pos_categories"), rejects


# ---------------------------------------------------------------------------
# Locations (src/etl-square-locations.ts)
# ---------------------------------------------------------------------------


def locations_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        nullify_when(
            F.concat(F.lit("loc-"), F.col("c_custkey")), F.col("c_custkey") % 31 == 0
        ).alias("location_id"),
        nullify_when(F.col("c_name"), F.col("c_custkey") % 4 == 0).alias(
            "location_name"
        ),
        nullify_when(F.col("c_mktsegment"), F.col("c_custkey") % 6 == 0).alias(
            "addr_line1"
        ),
        nullify_when(
            F.concat(F.lit("city-"), F.col("c_nationkey")), F.col("c_custkey") % 9 == 0
        ).alias("addr_locality"),
        nullify_when(F.lit("UTC"), F.col("c_custkey") % 11 == 0).alias("timezone"),
        nullify_when(F.lit("ACTIVE"), F.col("c_custkey") % 13 == 0).alias("status"),
    )


def locations_pipeline(source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Location map (src/etl-square-locations.ts:29-53): id AND name
    required (:30-33, the only two-field requirement in the reference),
    address parts joined null-skipping with ''→NULL (P6 exactly)."""
    good, rejects = quarantine_split(
        source,
        [
            ("missing_id", F.col("location_id").isNull()),
            ("missing_name", F.col("location_name").isNull()),
        ],
    )
    rows = enrich_constants(
        good.select(
            "location_id",
            "location_name",
            flatten_address("addr_line1", "addr_locality").alias("address"),
            "timezone",
            "status",
        ),
        **TENANCY,
    ).withColumn("raw_payload", F.to_json(F.struct("location_id")))
    return _conform(rows, "pos_locations"), rejects


# ---------------------------------------------------------------------------
# Runner: the main() tail every reference script shares — upsert the
# mapped batch into the warehouse table, short-circuit on empty.
# ---------------------------------------------------------------------------


#: fact table → its partition column for the partition-restricted
#: merge path.  Dimensions (catalog/categories/locations) stay on the
#: full merge — they are small.  Payments/order-items partition by the
#: derived ``part_date`` (creation date, immutable per natural key),
#: so an hourly 24 h-lookback batch rewrites ~1 day of partitions
#: instead of the whole table — the difference between O(batch) and
#: O(table) I/O per run at 100 TB.  Inventory's timestamp
#: (calculated_at) MUTATES per key and would violate the partition
#: invariant, but ``location_id`` is IN its natural key — immutable by
#: definition — so inventory partitions by location: a sync touching a
#: subset of stores rewrites only their partitions, and downstream
#: per-location queries get partition pruning for free.
FACT_PARTITION: dict[str, str] = {
    "pos_payments": "part_date",
    "pos_order_items": "part_date",
    "pos_inventory": "location_id",
}


def run_pipeline(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    target_path: str,
) -> int:
    """Merge pipeline output into its warehouse table (the reference's
    BEGIN → ON CONFLICT upsert loop → COMMIT, src/etl-square-payments.ts
    :49-128).  Key + last-writer order come from the declared schema
    registry; returns rows written by the merge.

    Routing: a fact table (FACT_PARTITION) merges partition-restricted
    when its pipeline was built ``with_part_date=True`` (or, for
    inventory, always — its partition column is part of the key); a
    dimension, or a fact built without its partition column, gets the
    full merge."""
    _, key = WAREHOUSE_TABLES[table]
    order_cols = [c for c in ("updated_at", "calculated_at") if c in rows.columns]
    part = FACT_PARTITION.get(table)
    return merge_upsert(
        spark,
        target_path,
        rows,
        keys=key,
        order_cols=order_cols or key,
        partition_col=part if part in rows.columns else None,
    )


#: the corpus-clean pipeline's stage parameters — shared by
#: corpus_clean_pipeline and attrition_funnel so the funnel's 'kept'
#: row cannot drift out of reconciliation with the pipeline (their
#: oracles hard-code the same values; change them together)
CLEAN_QUALITY_MIN = 0.3
CLEAN_NGRAM_N = 3
CLEAN_JACCARD_THRESHOLD = 0.5


def clean_stage_relations(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The corpus-clean pipeline's stage relations, built once and
    shared by :func:`attrition_funnel` and the corpus_clean_pipeline
    query: ``(scored, ranked, exact_survivors, non_canonical)`` where
    ``scored`` adds the quality column ``q``, ``ranked`` ranks
    quality-kept docs within their sha256 digest (min doc_id first),
    ``exact_survivors`` keeps rank 1, and ``non_canonical`` flags the
    losing members of lossless prefix-join near-dup clusters."""
    from pyspark.sql.window import Window

    from square_etl_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_prefix,
    )
    from square_etl_spark.operators.text import quality_score

    scored = docs.withColumn("q", quality_score("text"))
    kept = scored.filter(F.col("q") >= CLEAN_QUALITY_MIN)
    digest_w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(
        F.col("doc_id").asc()
    )
    ranked = kept.withColumn("__rn", F.row_number().over(digest_w))
    exact_survivors = ranked.filter(F.col("__rn") == 1).drop("__rn")
    pairs = ngram_jaccard_prefix(
        exact_survivors, "doc_id", "text",
        n=CLEAN_NGRAM_N, threshold=CLEAN_JACCARD_THRESHOLD,
    )
    clusters = connected_components(pairs)
    non_canonical = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id", F.lit(True).alias("__nd"))
    return scored, ranked, exact_survivors, non_canonical


def corpus_clean_with_substring(
    docs: DataFrame, substring_window: int = 50
) -> DataFrame:
    """corpus_clean with the OPTIONAL exact-substring stage folded in
    (Lee et al. 2022 §exact-substring): the quality→exact-dup→
    near-dup survivor set from :func:`clean_stage_relations`, then
    :func:`operators.dedup.substring_dedup` strips every
    ``substring_window``-token run already seen verbatim earlier in
    the surviving corpus — the sub-document pass the doc-level stages
    cannot express.  Returns substring_dedup's per-doc shape
    (doc_id, n_words, n_kept, cleaned_text) over the survivors."""
    from square_etl_spark.operators.dedup import substring_dedup

    _, _, exact_survivors, non_canonical = clean_stage_relations(docs)
    clean = exact_survivors.join(
        non_canonical.select("doc_id"), on="doc_id", how="left_anti"
    )
    return substring_dedup(clean, "doc_id", "text", substring_window)


def attrition_funnel(docs: DataFrame) -> DataFrame:
    """Per-stage attrition funnel of the corpus-clean pipeline: label
    each document with the FIRST stage that drops it — ``quality``
    (score < CLEAN_QUALITY_MIN), ``exact_dup`` (not the min-id doc of
    its sha256 digest among quality-kept docs), ``near_dup`` (a
    non-canonical member of a lossless prefix-join near-dup cluster
    among exact survivors), else ``kept`` — and aggregate docs +
    chars per stage.  The release-card observability every production
    data pipeline ships: how much each filter costs, reconciling
    exactly with corpus_clean_pipeline's survivor set.

    ONE corpus scan: the stage flags come from the same relations the
    pipeline itself computes — the exact-dup rank is digest-keyed
    (keys-sized shuffle), the near-dup set is cluster-sized — joined
    back onto the scored scan, not four pipeline re-runs at
    increasing truncations.  ``docs`` needs (doc_id, text, n_chars).
    Stage relations and thresholds come from
    :func:`clean_stage_relations`, the SAME code the
    corpus_clean_pipeline query builds on — reconciliation by
    construction, not parallel maintenance of two literal copies.
    """
    scored, ranked, _, non_canonical = clean_stage_relations(docs)
    labeled = (
        scored.join(ranked.select("doc_id", "__rn"), "doc_id", "left")
        .join(non_canonical, "doc_id", "left")
        .withColumn(
            "stage",
            F.when(F.col("q") < CLEAN_QUALITY_MIN, F.lit("quality"))
            .when(F.col("__rn") > 1, F.lit("exact_dup"))
            .when(F.col("__nd"), F.lit("near_dup"))
            .otherwise(F.lit("kept")),
        )
    )
    return labeled.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
