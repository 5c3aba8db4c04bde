"""Named query registry — the driver-checked surface of the engine.

Every operator from SURVEY.md §2 (plus the §2.10 extensions) is
exposed as a named query: a ``(spark, sf_dir) → DataFrame`` callable
and, where ANSI-SQL-expressible, a semantically identical DuckDB
oracle string.  The driver runs both at sf=0.01 and compares
row-count + schema + order-insensitive value hash.

Cross-engine determinism rules used throughout (SURVEY.md §7):

- float SUM/AVG is order-dependent ⇒ all such aggregates go through
  decimal-intermediate sums (cast addend to DECIMAL(38,6), exact sum,
  cast back to double) — the same expression on both engines;
- every rank / top-k orders by an exact value with a unique id
  tiebreaker;
- the fixtures contain no NULLs, so null-semantics queries synthesize
  them with identical deterministic CASE expressions on both sides;
- every computed column is aliased identically on both sides;
- integer-valued computed columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from square_etl_spark.io import load_table, typed_scan, windowed_scan
from square_etl_spark.operators import text as tx
from square_etl_spark.operators.aggregations import (
    decimal_sum,
    distinct_keys,
    grouped_rollup,
    last_writer_wins,
    top_k,
)
from square_etl_spark.operators.dedup import (
    connected_components,
    contamination_hits,
    embedding_cosine_pairs,
    embedding_cosine_pairs_bucketed,
    exact_dedup,
    minhash_banded_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from square_etl_spark.operators.joins import (
    asof_join,
    broadcast_left_enrich,
    explode_children,
    first_wins,
    lookup_join,
    range_join_binned,
)
from square_etl_spark.operators.multimodal import decode_media, documents_as_media
from square_etl_spark.operators.projections import (
    coalesce_first,
    enrich_constants,
    flatten_address,
    json_field,
    nullify_when,
    tolerant_double,
)
from square_etl_spark.operators.arrow_ops import (
    group_median_deviation,
    token_count_arrow,
)
from square_etl_spark.operators.quality import quarantine_split
from square_etl_spark.operators.sampling import (
    hash_sample,
    pack_sequences,
    histogram,
    ntile_assign,
    profile,
    rate_threshold,
    shard_assign,
    stratified_take,
    weighted_mix,
)
from square_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    l2_norm,
)
from square_etl_spark.operators.windows import (
    sessionize,
    sessionize_native,
    sliding,
    tumbling,
)
from square_etl_spark.sinks.merge import merge_dataframes


@dataclass
class QuerySpec:
    """One registry entry: Spark query + optional DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    bench: bool = False  # include in bench.py headline set
    doc: str = ""
    #: non-empty ⇒ this query's plan is ALLOWED to contain a
    #: single-partition window Exchange, with the bounded-input reason
    #: stated (e.g. "256-bin histogram").  tools/plan_audit.py flags
    #: any unjustified global-order window as GLOBAL-WINDOW — the r06
    #: graph densification showed the pattern silently scaling to a
    #: real bottleneck when reused on a data-sized relation.
    global_window_ok: str = ""


_REGISTRY: list[QuerySpec] = []


def _register(spec: QuerySpec) -> QuerySpec:
    # fail loudly on a name collision: queries() is a dict, so a
    # duplicate would silently SHADOW the earlier registration while
    # the driver's per-name correctness rows kept crediting the old
    # one (r12: a re-registered sample_cluster_balanced slipped in
    # exactly this way and only selfcheck's double-PASS betrayed it)
    if any(s.name == spec.name for s in _REGISTRY):
        raise ValueError(f"duplicate query registration: {spec.name!r}")
    _REGISTRY.append(spec)
    return spec


def _dsum(expr: str) -> str:
    """Oracle-side twin of aggregations.decimal_sum."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Flagship + core analytics
# ---------------------------------------------------------------------------


def _byte_col(c: F.Column) -> F.Column:
    """One binary byte from an int column in [0, 255] — the splice
    primitive for the constructed-blob multimodal oracles."""
    return F.unhex(F.lpad(F.hex(c), 2, "0"))


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join revenue rollup — lineitem ⋈ orders ⋈ customer ⋈ nation
    ⋈ region with a pushed-down time window, broadcast dimensions, and
    order-independent revenue sums.

    Exercises S1/P8 (windowed scan), J1-style broadcast enrichment, J3
    (fact-fact equi join), and the A-category aggregate surface in one
    plan — the reference's whole pipeline shape as one declarative
    query (SURVEY.md §7 phase 0).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1996-01-01", "1998-01-01"
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    facts = li.join(o, li.l_orderkey == o.o_orderkey)
    enriched = (
        broadcast_left_enrich(facts, c, facts.o_custkey == c.c_custkey, how="inner")
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        # bcast-ok: region = constant 5-row dim
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    return (
        enriched.groupBy("r_name", "n_name", "l_returnflag")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_register(
    QuerySpec(
        "flagship_star_revenue",
        _flagship,
        oracle=f"""
        SELECT r_name, n_name, l_returnflag,
               {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY r_name, n_name, l_returnflag
        """,
        bench=True,
        doc="multi-way star join + windowed scan + rollup (reference pipeline shape)",
    )
)


def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the standard agg surface
    (sum/avg/count) the warehouse exists for (SURVEY.md §2.5)."""
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", None, "2000-12-02"
    )
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_quantity").alias("sum_qty"),
            decimal_sum("l_extendedprice").alias("sum_base_price"),
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            decimal_sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            (decimal_sum("l_quantity") / cnt).alias("avg_qty"),
            (decimal_sum("l_extendedprice") / cnt).alias("avg_price"),
            (decimal_sum("l_discount") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


_register(
    QuerySpec(
        "q1_pricing_summary",
        _pricing_summary,
        oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum('l_quantity')} AS sum_qty,
               {_dsum('l_extendedprice')} AS sum_base_price,
               {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {_dsum('l_quantity')} / COUNT(*) AS avg_qty,
               {_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
               {_dsum('l_discount')} / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2000-12-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        bench=True,
        doc="grouped sum/avg/count with deterministic decimal accumulation",
    )
)

# ---------------------------------------------------------------------------
# Scans (S1/S3) and projections/filters (P1–P9)
# ---------------------------------------------------------------------------


def _s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P8: incremental windowed scan with the predicate pushed into
    the parquet reader (reference: begin/end URL params,
    src/square.ts:53-55)."""
    return windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1997-01-01", "1997-04-01"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


_register(
    QuerySpec(
        "s1_windowed_scan",
        _s1,
        oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
        """,
        doc="half-open time-window scan, pushdown-checked in tests",
    )
)


def _s3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: typed scan — server-side `types` filter as a pushed IN-list
    (reference src/square.ts:186-231)."""
    return typed_scan(
        load_table(spark, sf_dir, "part"), "p_type", ["PROMO", "ECONOMY"]
    ).select("p_partkey", "p_name", "p_type", "p_size")


_register(
    QuerySpec(
        "s3_typed_scan",
        _s3,
        oracle="""
        SELECT p_partkey, p_name, p_type, p_size
        FROM part WHERE p_type IN ('PROMO', 'ECONOMY')
        """,
        doc="IN-list type filter pushed to the scan",
    )
)


def _p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: null-coalescing money pick (total ?? amount), rows where both
    are null are impossible-row errors filtered to quarantine
    (reference src/etl-square-payments.ts:27-47)."""
    o = load_table(spark, sf_dir, "orders")
    total = nullify_when("o_totalprice", F.col("o_orderkey") % 3 == 0)
    amount = nullify_when(
        F.col("o_totalprice") * 100, F.col("o_orderkey") % 5 == 0
    )
    money = coalesce_first(total, amount)
    return (
        o.select(
            "o_orderkey",
            total.alias("total_money"),
            amount.alias("amount_money"),
            money.alias("money"),
        )
        .filter(money.isNotNull())
    )


_register(
    QuerySpec(
        "p1_money_coalesce",
        _p1,
        oracle="""
        WITH m AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS total_money,
                 CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice * 100 END AS amount_money
          FROM orders)
        SELECT o_orderkey, total_money, amount_money,
               COALESCE(total_money, amount_money) AS money
        FROM m
        WHERE COALESCE(total_money, amount_money) IS NOT NULL
        """,
        doc="?? money chain with impossible-row filter",
    )
)


def _p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/F3: tolerant decimal-in-string parse with drop-invalid
    semantics (reference src/etl-square-orders.ts:61-68): garbage → NULL
    via try_cast, non-positive dropped."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_str = (
        F.when(F.col("l_orderkey") % 7 == 0, F.lit("garbage"))
        .when(F.col("l_orderkey") % 11 == 0, (-F.col("l_quantity")).cast("string"))
        .otherwise(F.col("l_quantity").cast("string"))
    )
    parsed = qty_str.try_cast("double")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            parsed.alias("quantity"),
        )
        .filter(parsed.isNotNull() & (parsed > 0))
    )


_register(
    QuerySpec(
        "p2_quantity_validity",
        _p2,
        oracle="""
        WITH s AS (
          SELECT l_orderkey, l_linenumber,
                 TRY_CAST(
                   CASE WHEN l_orderkey % 7 = 0 THEN 'garbage'
                        WHEN l_orderkey % 11 = 0 THEN CAST(-l_quantity AS VARCHAR)
                        ELSE CAST(l_quantity AS VARCHAR) END
                   AS DOUBLE) AS quantity
          FROM lineitem)
        SELECT l_orderkey, l_linenumber, quantity
        FROM s WHERE quantity IS NOT NULL AND quantity > 0
        """,
        doc="parseFloat-with-guard semantics via try_cast",
    )
)


def _p3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: parent-name fallback ``parentName ?? variationName``
    (reference src/etl-square-catalog.ts:45-47)."""
    p = load_table(spark, sf_dir, "part")
    parent = nullify_when(F.upper(F.col("p_brand")), F.col("p_partkey") % 2 == 0)
    return p.select(
        "p_partkey",
        parent.alias("parent_name"),
        coalesce_first(parent, F.col("p_name")).alias("item_name"),
    )


_register(
    QuerySpec(
        "p3_parent_fallback",
        _p3,
        oracle="""
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 0 THEN NULL ELSE UPPER(p_brand) END AS parent_name,
               COALESCE(CASE WHEN p_partkey % 2 = 0 THEN NULL ELSE UPPER(p_brand) END,
                        p_name) AS item_name
        FROM part
        """,
        doc="coalesce name fallback",
    )
)


def _p6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/F6: required-field filter + null-skipping concat_ws address
    flatten wrapped in nullif (reference src/etl-square-locations.ts:29-53;
    SURVEY.md §7 hard-list #4)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = broadcast_left_enrich(c, n, c.c_nationkey == n.n_nationkey, how="inner")
    line1 = nullify_when("c_name", F.col("c_custkey") % 4 == 0)
    locality = nullify_when("c_mktsegment", F.col("c_custkey") % 6 == 0)
    district = nullify_when("n_name", F.col("c_custkey") % 24 == 0)
    return df.filter(F.col("c_custkey").isNotNull()).select(
        "c_custkey",
        flatten_address(line1, locality, district).alias("address"),
    )


_register(
    QuerySpec(
        "p6_address_concat",
        _p6,
        oracle="""
        SELECT c_custkey,
               NULLIF(CONCAT_WS(', ',
                 CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END,
                 CASE WHEN c_custkey % 6 = 0 THEN NULL ELSE c_mktsegment END,
                 CASE WHEN c_custkey % 24 = 0 THEN NULL ELSE n_name END), '') AS address
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey IS NOT NULL
        """,
        doc="null-skipping join of address parts; '' → NULL",
    )
)


def _p9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/F9: constant tenancy enrichment on every row (reference
    src/etl-square-payments.ts:100-103)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return enrich_constants(li, tenant_id="tenant-1", provider="square")


_register(
    QuerySpec(
        "p9_constant_enrichment",
        _p9,
        oracle="""
        SELECT l_orderkey, l_linenumber,
               'tenant-1' AS tenant_id, 'square' AS provider
        FROM lineitem
        """,
        doc="multi-tenancy literals, constant-folded by Catalyst",
    )
)


def _f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (read side): recover a field from a JSON payload column —
    the raw_payload escape-hatch pattern (SURVEY.md §1.2)."""
    e = load_table(spark, sf_dir, "events")
    k = json_field("props", "$.k").try_cast("long")
    return e.select("event_id", "event_type", k.alias("k_val")).filter(k > 50)


_register(
    QuerySpec(
        "f2_json_extract",
        _f2,
        oracle="""
        SELECT event_id, event_type,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        """,
        doc="get_json_object over the raw-payload column",
    )
)

def _f2_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (Spark 4 path): the same raw-payload recovery through the
    VARIANT type — ``parse_json`` once into a binary semi-structured
    value, then typed ``try_variant_get`` extractions.  At 100 TB this
    beats per-field ``get_json_object`` (which re-parses the string for
    every extraction) and is the engine's forward path for the
    reference's ``raw_payload`` columns."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    parsed = e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "long").alias("k_val"),
        F.try_variant_get(v, "$.state", "string").alias("state"),
    )
    return parsed.filter(F.col("k_val").isNotNull() & (F.col("k_val") % 7 == 0))


_register(
    QuerySpec(
        "f2_variant_extract",
        _f2_variant,
        oracle="""
        SELECT event_id,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
               json_extract_string(props, '$.state') AS state
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
          AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
        """,
        doc="VARIANT parse-once + typed extraction over the raw-payload column",
    )
)


# ---------------------------------------------------------------------------
# Joins (J1–J4)
# ---------------------------------------------------------------------------


def _j1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P3/P7: the catalog build/probe join — build a small parent
    dim, broadcast left-join the probe side, fall back to the probe's
    own name when the parent is missing (reference
    src/etl-square-catalog.ts:129-172)."""
    p = load_table(spark, sf_dir, "part")
    items = (
        p.filter(F.col("p_size") >= 45)
        .groupBy("p_brand")
        .agg(
            F.min("p_name").alias("brand_item_name"),
            F.min("p_partkey").alias("brand_catalog_id"),
        )
    )
    probed = broadcast_left_enrich(p, items, on="p_brand", how="left")
    return probed.select(
        "p_partkey",
        coalesce_first("brand_item_name", "p_name").alias("item_name"),
        F.col("brand_catalog_id").alias("category_id"),
    )


_register(
    QuerySpec(
        "j1_catalog_build_probe",
        _j1,
        oracle="""
        WITH items AS (
          SELECT p_brand, MIN(p_name) AS brand_item_name,
                 MIN(p_partkey) AS brand_catalog_id
          FROM part WHERE p_size >= 45 GROUP BY p_brand)
        SELECT p.p_partkey,
               COALESCE(i.brand_item_name, p.p_name) AS item_name,
               i.brand_catalog_id AS category_id
        FROM part p LEFT JOIN items i ON p.p_brand = i.p_brand
        """,
        bench=True,
        doc="broadcast build/probe left join with name fallback",
    )
)


def _j2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A1: first-wins per key, deterministically re-specified as
    min-by-(event-time, key) instead of arrival order (reference
    src/etl-square-orders.ts:182-190; SURVEY.md §7 hard-list #2)."""
    o = load_table(spark, sf_dir, "orders")
    return first_wins(
        o,
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        payload_cols=["o_orderkey", "o_orderdate"],
    ).select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_orderdate"),
    )


_register(
    QuerySpec(
        "j2_first_wins",
        _j2,
        oracle="""
        SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
        WHERE rn = 1
        """,
        doc="deterministic first-payment-per-order semantics",
    )
)


def _j3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A1: the reference's per-key sequential lookups
    (src/etl-square-orders.ts:197-213) as distinct-keys → one equi-join."""
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "1998-01-01", "1998-07-01"
    )
    keys = distinct_keys(li, "l_orderkey")
    o = load_table(spark, sf_dir, "orders")
    return lookup_join(
        keys.withColumnRenamed("l_orderkey", "o_orderkey"), o, on="o_orderkey"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


_register(
    QuerySpec(
        "j3_lookup_join",
        _j3,
        oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM (SELECT DISTINCT l_orderkey FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                AND l_shipdate <  TIMESTAMP '1998-07-01') k
        JOIN orders ON k.l_orderkey = o_orderkey
        """,
        doc="point-lookup loop → distributed equi-join",
    )
)


def _j4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: explode of a nested 1-to-N child array.  The fixtures are
    flat, so the nested shape is built first (collect_list of structs
    per order) and then exploded — inner explode, matching the
    reference's skip-empty-orders loop (src/etl-square-orders.ts:202-213)."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_linenumber", "l_quantity", "l_extendedprice")
        ).alias("line_items")
    )
    return explode_children(
        nested, "line_items", parent_cols=["l_orderkey"], child_alias="li"
    )


_register(
    QuerySpec(
        "j4_explode_line_items",
        _j4,
        # collect_list→explode is an identity on (order, line) pairs, so
        # the oracle is the flat projection; the order-insensitive hash
        # makes the array-order nondeterminism irrelevant.
        oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        """,
        doc="nest (collect_list) then unnest (explode) round-trip",
    )
)

# ---------------------------------------------------------------------------
# Aggregations (A1–A3), sorts/limits, set ops, rollup
# ---------------------------------------------------------------------------


def _a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: DISTINCT key projection (reference's unique-order-ids step)."""
    return distinct_keys(
        load_table(spark, sf_dir, "customer"), "c_mktsegment", "c_nationkey"
    )


_register(
    QuerySpec(
        "a1_distinct_keys",
        _a1,
        oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
        doc="distinct via map-side partial aggregation",
    )
)


def _a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: last-writer-wins per natural key — the upsert replay
    semantics made explicit (reference ON CONFLICT DO UPDATE;
    src/etl-square-payments.ts:82-94)."""
    e = load_table(spark, sf_dir, "events")
    return last_writer_wins(
        e, key_cols=["user_id", "event_type"], order_cols=["ts", "event_id"]
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


_register(
    QuerySpec(
        "a3_last_writer_wins",
        _a3,
        oracle="""
        SELECT user_id, event_type, event_id AS last_event_id,
               ts AS last_ts, value AS last_value
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1
        """,
        doc="newest row per key, deterministic tiebreak",
    )
)


def _rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals — the grouping-sets surface (SURVEY.md §2.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return grouped_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            decimal_sum("l_quantity").alias("sum_qty"),
        ],
    )


_register(
    QuerySpec(
        "agg_rollup",
        _rollup,
        oracle=f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               {_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        doc="rollup to grouping sets, map-side partials intact",
    )
)


def _topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: TakeOrderedAndProject — per-partition local top-k, O(k·P)
    driver merge, no global sort (SURVEY.md §2.6)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    named = broadcast_left_enrich(rev, c, rev.o_custkey == c.c_custkey, how="inner")
    return top_k(
        named.select(F.col("c_custkey"), F.col("c_name"), F.col("revenue")),
        [F.col("revenue").desc(), F.col("c_custkey").asc()],
        10,
    )


_register(
    QuerySpec(
        "topk_revenue_customers",
        _topk,
        oracle=f"""
        SELECT c_custkey, c_name, revenue
        FROM (
          SELECT o_custkey, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_custkey) r
        JOIN customer ON r.o_custkey = c_custkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
        """,
        bench=True,
        doc="orderBy+limit planned as TakeOrderedAndProject",
    )
)


def _setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (UNION DISTINCT then EXCEPT DISTINCT) — the set
    surface the engine exposes beyond the reference (SURVEY.md §2.6)."""
    c = load_table(spark, sf_dir, "customer")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    near = c.filter(F.col("c_nationkey") < 5).select("c_custkey")
    return auto.union(rich).distinct().subtract(near)


_register(
    QuerySpec(
        "setop_union_except",
        _setops,
        oracle="""
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         UNION
         SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_nationkey < 5
        """,
        doc="union/except distinct semantics",
    )
)


def _reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-target reconciliation — the audit twin of every merge
    sink: FULL OUTER join a windowed order book (1997 H1) against the
    per-order lineitem rollup and classify each key as ``matched``,
    ``order_only`` (header without detail — the fixture really has
    those), or ``detail_only`` (detail whose header is outside the
    window — the drift a real reconciliation hunts).  Value totals go
    through DECIMAL(18,6) so both engines add exactly.  Plan shape:
    the rollup partial-aggregates lineitem BEFORE the shuffle, both
    sides then co-partition on the order key for the sort-merge full
    outer, and the final 3-group agg is trivial.  This is the one
    FULL OUTER in the surface — merge/anti/semi cover the other
    reconciliation halves."""
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"),
        "o_orderdate", "1997-01-01", "1997-07-01",
    ).select("o_orderkey", "o_totalprice")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")
            ).alias("gross"),
        )
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, how="full")
    category = (
        F.when(F.col("o_orderkey").isNull(), "detail_only")
        .when(F.col("l_orderkey").isNull(), "order_only")
        .otherwise("matched")
    )
    return (
        j.select(
            category.alias("category"),
            F.coalesce(F.col("n_items"), F.lit(0)).alias("n_items"),
            F.coalesce(F.col("gross"), F.lit(0).cast("decimal(18,6)")).alias(
                "gross"
            ),
            F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("header_total"),
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_items").alias("n_items"),
            F.sum("gross").cast("double").alias("detail_value"),
            F.sum(F.col("header_total").cast("decimal(18,6)"))
            .cast("double")
            .alias("header_value"),
        )
        .orderBy("category")
    )


_register(
    QuerySpec(
        "reconcile_orders_detail",
        _reconcile,
        oracle="""
        WITH o AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate <  TIMESTAMP '1997-07-01'),
        li AS (
          SELECT l_orderkey,
                 COUNT(*) AS n_items,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6))) AS gross
          FROM lineitem GROUP BY l_orderkey),
        j AS (
          SELECT CASE WHEN o.o_orderkey IS NULL THEN 'detail_only'
                      WHEN li.l_orderkey IS NULL THEN 'order_only'
                      ELSE 'matched' END AS category,
                 COALESCE(li.n_items, 0) AS n_items,
                 COALESCE(li.gross, CAST(0 AS DECIMAL(18,6))) AS gross,
                 COALESCE(o.o_totalprice, 0.0) AS header_total
          FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey)
        SELECT category,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(n_items) AS BIGINT) AS n_items,
               CAST(SUM(gross) AS DOUBLE) AS detail_value,
               CAST(SUM(CAST(header_total AS DECIMAL(18,6))) AS DOUBLE)
                 AS header_value
        FROM j GROUP BY category ORDER BY category
        """,
        doc="FULL OUTER reconciliation: windowed order book vs detail rollup, 3-way classification",
    )
)


def _distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count surface (the approx variant is a separate
    rows-only query — different algorithms can't hash-match)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_register(
    QuerySpec(
        "distinct_users_by_type",
        _distinct_users,
        oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM events GROUP BY event_type
        """,
        doc="count distinct (expand + two-phase agg in Spark)",
    )
)


def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(F.col("value"), F.lit(0.99)), 6).alias("p99"),
    )


_register(
    QuerySpec(
        "percentiles_by_type",
        _percentiles,
        oracle="""
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS p50,
               ROUND(quantile_cont(value, 0.9), 6) AS p90,
               ROUND(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
        """,
        doc="exact interpolated percentiles",
    )
)

# ---------------------------------------------------------------------------
# Merge sink (K1) and quarantine (E1)
# ---------------------------------------------------------------------------


def _merge_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: MERGE as one keyed fold (target ∪ batch under one
    row_number window, batch first) — the engine's plain-parquet
    upsert core, exercised as a pure dataframe transform: a batch of
    re-priced orders overwrites the overlapping slice of the target
    (reference ON CONFLICT DO UPDATE, src/etl-square-payments.ts:59-95)."""
    o = load_table(spark, sf_dir, "orders")
    target = windowed_scan(o, "o_orderdate", None, "2000-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    batch = (
        windowed_scan(o, "o_orderdate", "1999-06-01", None)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
    )
    return merge_dataframes(
        target, batch, keys=["o_orderkey"], order_cols=["o_orderkey"]
    )


_register(
    QuerySpec(
        "k1_merge_upsert",
        _merge_sim,
        oracle="""
        WITH target AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'),
        batch AS (
          SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
                 'U' AS o_orderstatus
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-06-01')
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
          FROM (SELECT *, 0 AS pri FROM target
                UNION ALL
                SELECT *, 1 AS pri FROM batch))
        WHERE rn = 1
        """,
        doc="last-writer-wins merge: batch beats target on key overlap",
    )
)


#: frozen K2 batch timestamp — injected like P9's tenant constants so
#: the update-branch stamp is oracle-checkable value-for-value (the
#: reference's CURRENT_TIMESTAMP is the nondeterminism, not the
#: semantics; r14 verdict item 4)
_K2_BATCH_TS = "2024-01-01 00:00:00"


def _k2_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: ``updated_at`` stamped ONLY on the update branch of the
    merge (reference src/etl-square-inventory.ts:97), with the batch
    timestamp frozen to :data:`_K2_BATCH_TS`.  Batch rows that hit an
    existing target key carry the frozen stamp; batch inserts and
    surviving target rows keep their own ``updated_at`` (derived here
    from ``o_orderdate`` so the whole surface is deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    target = windowed_scan(o, "o_orderdate", None, "2000-01-01").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("updated_at"),
    )
    batch = windowed_scan(o, "o_orderdate", "1999-06-01", None).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.col("o_orderdate").alias("updated_at"),
    )
    return merge_dataframes(
        target,
        batch,
        keys=["o_orderkey"],
        order_cols=["o_orderkey"],
        stamp_updated_at=True,
        batch_ts=_K2_BATCH_TS,
    )


_register(
    QuerySpec(
        "k2_stamp_on_update",
        _k2_stamp,
        oracle="""
        WITH target AS (
          SELECT o_orderkey, o_totalprice, o_orderdate AS updated_at
          FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'),
        batch AS (
          SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
                 o_orderdate AS updated_at
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-06-01'),
        stamped AS (
          SELECT b.o_orderkey, b.o_totalprice,
                 CASE WHEN t.o_orderkey IS NOT NULL
                      THEN TIMESTAMP '2024-01-01 00:00:00'
                      ELSE b.updated_at END AS updated_at
          FROM batch b
          LEFT JOIN (SELECT DISTINCT o_orderkey FROM target) t
                 ON b.o_orderkey = t.o_orderkey)
        SELECT t.o_orderkey, t.o_totalprice, t.updated_at FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM stamped s
                          WHERE s.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_totalprice, updated_at FROM stamped
        """,
        doc="K2 update-branch-only stamp with a frozen batch timestamp",
    )
)


def _cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log fold, oracle-checked: model the events stream as
    a per-user profile change feed (signup→I, activity→U, error→D),
    fold it with :func:`sinks.merge.cdc_merge_dataframes` against an
    empty target, and emit the surviving final states — users whose
    LAST event (by ts, event_id) is not a delete.  The full-CRUD
    upgrade of K1: the reference's ON CONFLICT upsert covers I/U only;
    deletes need exactly this last-op-wins + drop fold."""
    from square_etl_spark.sinks.merge import cdc_merge_dataframes

    e = load_table(spark, sf_dir, "events")
    feed = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    return cdc_merge_dataframes(
        None, feed, keys=["user_id"], order_cols=["ts", "event_id"]
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


_register(
    QuerySpec(
        "cdc_apply_events",
        _cdc_apply,
        oracle="""
        WITH ranked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN event_type = 'signup' THEN 'I'
                      WHEN event_type = 'error' THEN 'D'
                      ELSE 'U' END AS op,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, ts AS last_ts, event_id AS last_event_id,
               value AS last_value
        FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        doc="CDC fold: last op per key wins, final deletes drop the key",
    )
)


def _merge_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 at the 100 TB shape: MATERIALIZED partition-restricted merge.
    Seeds a year-partitioned parquet target (orders < 1997), merges a
    repriced 1996-H2 batch, and returns the resulting table — only the
    o_year=1996 partition rewrites; 1992-1995 files stay byte-identical
    (pinned in tests/test_merge.py; this query checks the semantics)."""
    import os
    import tempfile
    import uuid

    from square_etl_spark.sinks.merge import merge_upsert_partitioned

    o = load_table(spark, sf_dir, "orders")
    path = os.path.join(tempfile.gettempdir(), f"k1part-{uuid.uuid4().hex}")
    windowed_scan(o, "o_orderdate", None, "1997-01-01").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).write.mode("overwrite").partitionBy("o_year").parquet(path)
    batch = windowed_scan(o, "o_orderdate", "1996-06-01", "1997-01-01").select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    merge_upsert_partitioned(
        spark, path, batch, ["o_orderkey"], ["o_orderkey"], "o_year"
    )
    return (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, o_orderstatus string, o_year int"
        )
        .option("basePath", path)
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_year")
    )


_register(
    QuerySpec(
        "k1_merge_partitioned",
        _merge_part,
        oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderdate >= TIMESTAMP '1996-06-01'
                    THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderdate >= TIMESTAMP '1996-06-01'
                    THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
               CAST(year(o_orderdate) AS INT) AS o_year
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01'
        """,
        doc="partition-restricted materialized merge: only touched partitions rewrite",
    )
)


def _e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: quarantine split — reject stream with first-matching-reason
    (reference skip-and-warn mappers; SURVEY.md §2.9)."""
    e = load_table(spark, sf_dir, "events")
    etype = nullify_when("event_type", F.col("event_id") % 19 == 0)
    val = (
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("double"))
        .when(F.col("event_id") % 17 == 0, -F.col("value"))
        .otherwise(F.col("value"))
    )
    staged = e.select("event_id", etype.alias("etype"), val.alias("val"))
    _, rejects = quarantine_split(
        staged,
        [
            ("missing_type", F.col("etype").isNull()),
            ("invalid_value", F.col("val").isNull() | (F.col("val") <= 0)),
        ],
    )
    return rejects.select("event_id", "reject_reason")


_register(
    QuerySpec(
        "e1_quarantine_rejects",
        _e1,
        oracle="""
        WITH s AS (
          SELECT event_id,
                 CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS etype,
                 CASE WHEN event_id % 13 = 0 THEN NULL
                      WHEN event_id % 17 = 0 THEN -value
                      ELSE value END AS val
          FROM events)
        SELECT event_id,
               CASE WHEN etype IS NULL THEN 'missing_type'
                    WHEN val IS NULL OR val <= 0 THEN 'invalid_value'
               END AS reject_reason
        FROM s
        WHERE etype IS NULL OR val IS NULL OR val <= 0
        """,
        doc="reject stream with ordered reasons",
    )
)

# ---------------------------------------------------------------------------
# Event-time windows (T2)
# ---------------------------------------------------------------------------


def _tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling 1 h event-time aggregation (epoch-aligned windows ≡
    date_trunc buckets)."""
    e = load_table(spark, sf_dir, "events")
    return tumbling(
        e,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        ],
    ).select("window_start", "event_type", "n_events", "sum_value")


_register(
    QuerySpec(
        "t2_tumbling_hourly",
        _tumbling,
        oracle=f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events, {_dsum('value')} AS sum_value
        FROM events GROUP BY 1, 2
        """,
        bench=True,
        doc="tumbling window aggregate over event time",
    )
)


def _sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: sliding 2 h / 1 h windows — each event lands in two buckets;
    the oracle unnests the covering starts explicitly."""
    e = load_table(spark, sf_dir, "events")
    return sliding(
        e,
        "ts",
        "2 hours",
        "1 hour",
        [],
        [
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        ],
    ).select("window_start", "n_events", "sum_value")


_register(
    QuerySpec(
        "t2_sliding_2h_1h",
        _sliding,
        oracle=f"""
        SELECT window_start, COUNT(*) AS n_events, {_dsum('value')} AS sum_value
        FROM (
          SELECT UNNEST([date_trunc('hour', ts),
                         date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
                 value
          FROM events)
        GROUP BY window_start
        """,
        doc="sliding windows == unnested covering starts",
    )
)

# ---------------------------------------------------------------------------
# Extension: dedup (exact / n-gram Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


_register(
    QuerySpec(
        "dedup_exact",
        _dedup_exact,
        oracle="""
        SELECT sha256(text) AS content_sha256, MIN(doc_id) AS doc_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY sha256(text)
        """,
        bench=True,
        doc="digest-keyed exact dedup (shuffle carries 64B keys, not bodies)",
    )
)


#: shared CTE body: n-gram Jaccard pairs at threshold 0.1 / df_cap 100
#: over a source relation (used by the pair query's oracle, the
#: cluster-collapse oracle, and the corpus-clean pipeline oracle).
def _ngram_pairs_ctes(src: str = "documents") -> str:
    return _NGRAM_PAIRS_CTES_TPL.replace("__SRC__", src)


def _prefix_pairs_ctes(src: str = "documents", threshold: float = 0.5) -> str:
    """Oracle CTEs for the LOSSLESS prefix-filter join
    (dedup.ngram_jaccard_prefix): the EXHAUSTIVE word-3-gram pair join
    at ``threshold`` — no df cap, no banding — ending in
    ``pairs(id_a, id_b)``.  Pruning on the Spark side must be
    invisible, so the oracle is simply the full join."""
    return (
        _PREFIX_PAIRS_CTES_TPL
        .replace("__SRC__", src)
        .replace("__T__", repr(threshold))
    )


_PREFIX_PAIRS_CTES_TPL = r"""
        psh AS (
          SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT doc_id,
                             list_filter(
                               regexp_split_to_array(trim(text), '\s+'),
                               x -> x <> '') AS w
                      FROM __SRC__)
                WHERE len(w) >= 3)),
        psized AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM psh GROUP BY doc_id),
        pinter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM psh a JOIN psh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        pairs AS (
          SELECT id_a, id_b
          FROM pinter
          JOIN psized na ON na.doc_id = id_a
          JOIN psized nb ON nb.doc_id = id_b
          WHERE ROUND(inter / /*nz: union of nonempty shingle sets*/
                      CAST(na.n_sh + nb.n_sh - inter AS DOUBLE), 6)
                >= __T__)
"""


_NGRAM_PAIRS_CTES_TPL = """
        t AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM __SRC__),
        sh0 AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM t WHERE len(w) >= 3)),
        freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
        sh AS (SELECT sh0.doc_id, sh0.shingle
               FROM sh0 JOIN freq USING (shingle) WHERE freq.df <= 100),
        cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b,
                 ROUND(n_inter / /*nz: union of nonempty shingle sets*/ (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
          FROM inter
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE ROUND(n_inter / /*nz: union of nonempty shingle sets*/ (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.1)
"""


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1, df_cap=100)


_register(
    QuerySpec(
        "dedup_ngram_jaccard",
        _ngram_jaccard,
        oracle=f"""
        WITH {_ngram_pairs_ctes()}
        SELECT id_a, id_b, jaccard FROM pairs
        """,
        bench=True,
        doc="exact shingle-Jaccard at LOW threshold; stop-shingle DF cap bounds "
        "the pair blowup (the t<~0.3 regime where prefix filtering cannot "
        "prune; ngram_jaccard_prefix is the default near-dup path at t>=0.5)",
    )
)


def _ngram_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER collapse: the step after pair generation in a
    real dedup pipeline — connected components over the pair graph,
    labeling every involved doc with its cluster's minimum id (= the
    canonical survivor)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1, df_cap=100)
    return connected_components(pairs)


_register(
    QuerySpec(
        "dedup_cluster_assignment",
        _ngram_clusters,
        oracle=f"""
        WITH RECURSIVE {_ngram_pairs_ctes()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        """,
        doc="connected components over near-dup pairs (iterative min-label propagation)",
        bench=True,
    )
)


def _ngram_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster collapse via the large-star/small-star algorithm
    (Kiveris et al., SoCC'14) — the O(log diameter) scale path for deep
    components; identical labels by construction, so it shares
    dedup_cluster_assignment's recursive-CTE oracle."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1, df_cap=100)
    return connected_components(pairs, algorithm="star")


_register(
    QuerySpec(
        "dedup_cluster_star",
        _ngram_clusters_star,
        oracle=f"""
        WITH RECURSIVE {_ngram_pairs_ctes()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        """,
        doc="connected components via alternating large-star/small-star (log-diameter rounds)",
    )
)


def _survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical-survivor selection: near-dup pairs →
    connected components → keep the highest-quality member per cluster
    (ties to smallest doc_id); singletons keep themselves.  The output
    is the full audit relation (every doc with its cluster, score, and
    keep flag) — the dedup DECISION a 100 TB pipeline persists, not
    just the surviving rows.

    Pair generation is the LOSSLESS prefix-filter join
    (ngram_jaccard_prefix, promoted to the default near-dup path in
    r09): output ≡ the exhaustive Jaccard-0.5 join by construction,
    skew-guarded by frequency order instead of a df_cap knob — so the
    dedup decision is exact, not recall-approximate.  The capped
    postings join remains the LOW-threshold tool (dedup_ngram_jaccard
    at t=0.1, where a prefix is ~90% of each doc and prefix pruning
    buys nothing)."""
    from square_etl_spark.operators.dedup import (
        ngram_jaccard_prefix,
        survivor_selection,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", tx.quality_score("text").alias("q"))
    pairs = ngram_jaccard_prefix(d, "doc_id", "text", n=3, threshold=0.5)
    return survivor_selection(scored, pairs, "doc_id", "q")


def _survivor_oracle() -> str:
    """One-shot survivor-selection oracle over the LOSSLESS prefix-join
    pair set — shared verbatim by `dedup_survivor_selection` and its
    incremental twin (`dedup_incremental_survivors`): the fold must
    reproduce the one-shot decision exactly."""
    return f"""
        WITH RECURSIVE scored AS (
          SELECT doc_id,
            ROUND(
              0.5 * LEAST(ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.8, 1.0)
            + 0.3 * LEAST(ROUND(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    w -> list_contains(['the','and','of','to','is','in','that','it'], w))) /
                    (CASE WHEN trim(text) = '' THEN 1.0
                          WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                          THEN CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                          ELSE 1.0 END), 6) / 0.4, 1.0)
            + 0.2 * (1.0 - LEAST(ROUND(len(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.2, 1.0)),
            6) AS q
          FROM documents),
        {_prefix_pairs_ctes().strip().rstrip()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges UNION SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        clusters AS (
          SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        labeled AS (
          SELECT s.doc_id, COALESCE(c.cluster_id, s.doc_id) AS cluster_id,
                 s.q
          FROM scored s LEFT JOIN clusters c ON c.doc_id = s.doc_id)
        SELECT doc_id, cluster_id, q,
               (ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY q DESC, doc_id) = 1) AS keep
        FROM labeled
        """


_register(
    QuerySpec(
        "dedup_survivor_selection",
        _survivors,
        oracle=_survivor_oracle(),
        doc="near-dup clusters → keep max-quality member per cluster (deterministic tie-break)",
    )
)


def _incr_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL dedup decision end to end: lossless prefix-join
    pairs arrive in three batches, each folded into the cluster-label
    state (operators/dedup.incremental_components), and the final
    labels drive the survivor pick
    (operators/dedup.survivor_from_labels) — producing EXACTLY the
    audit relation the one-shot dedup_survivor_selection produces
    (shared oracle).  This is the continuous-crawl composition: pair
    discovery (minhash_probe / prefix join), cluster maintenance, and
    the keep/drop decision, all batch-proportional."""
    from square_etl_spark.operators.dedup import (
        incremental_components,
        ngram_jaccard_prefix,
        survivor_from_labels,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", tx.quality_score("text").alias("q"))
    pairs = ngram_jaccard_prefix(
        d, "doc_id", "text", n=3, threshold=0.5
    ).localCheckpoint(eager=True)
    labels = None
    for i in range(3):
        # pmod, not %: Spark's % keeps the dividend's sign, so a
        # negative-id pair would land in NO batch and silently drop
        # from the fold
        batch = pairs.filter(
            F.pmod(F.col("id_a") + F.col("id_b"), F.lit(3)) == i
        )
        labels = incremental_components(labels, batch)
    return survivor_from_labels(scored, labels)


_register(
    QuerySpec(
        "dedup_incremental_survivors",
        _incr_survivors,
        oracle=_survivor_oracle(),
        doc="incremental cluster-label fold drives the one-shot survivor decision exactly",
    )
)


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upgraded from rows-only to full oracle in r05: shingle hashes
    and the permutation family became md5-based + modular-affine
    (engine-portable, replacing seeded xxhash64), so DuckDB recomputes
    EVERY stage — word hashes, chained shingle hashes, the 16
    permutations' minima, band folds, the >200 hot-bucket cap, the
    in-bucket candidate join, and the exact Jaccard verify."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_banded_pairs(
        d, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5, bucket_cap=200
    )


def _minhash_oracle() -> str:
    from square_etl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    a = "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in MINHASH_A) + "]"
    b = "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in MINHASH_B) + "]"
    mask = (1 << 57) - 1
    hex32 = (
        "list_sum(list_transform(generate_series(1, 8),"
        " p -> (CAST(strpos('0123456789abcdef',"
        " substr(md5(x), p, 1)) AS BIGINT) - 1)"
        " * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))"
    )
    return rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> '') AS w
          FROM documents),
        tw AS (
          SELECT doc_id,
                 list_transform(w, x -> {hex32}) AS hw
          FROM t WHERE len(w) >= 3),
        shl AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(hw) - 2),
                   i -> ((((hw[CAST(i AS INTEGER)] * 31
                            + hw[CAST(i + 1 AS INTEGER)]) & {mask}) * 31
                          + hw[CAST(i + 2 AS INTEGER)]) & {mask}))) AS sh
          FROM tw),
        mh AS (
          SELECT doc_id, sh,
                 list_transform(generate_series(0, 15),
                   i -> list_min(list_transform(sh,
                     s -> ({a}[CAST(i + 1 AS INTEGER)] * (s & 4294967295)
                           + {b}[CAST(i + 1 AS INTEGER)])
                          % 2147483647))) AS mins
          FROM shl),
        buckets AS (
          SELECT doc_id, b,
                 (mins[CAST(2 * b + 1 AS INTEGER)] * 31
                  + mins[CAST(2 * b + 2 AS INTEGER)]) & {mask} AS bhash
          FROM mh, generate_series(0, 7) g(b)),
        cool AS (
          SELECT bu.doc_id, bu.b, bu.bhash
          FROM buckets bu
          ANTI JOIN (SELECT b, bhash FROM buckets
                     GROUP BY b, bhash HAVING COUNT(*) > 200) hot
          ON bu.b = hot.b AND bu.bhash = hot.bhash),
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM cool x JOIN cool y ON x.b = y.b AND x.bhash = y.bhash
          WHERE x.doc_id < y.doc_id),
        verified AS (
          SELECT id_a, id_b,
                 ROUND(len(list_intersect(sa.sh, sb.sh))
                       / /*nz: union of nonempty shingle sets*/ (len(sa.sh) + len(sb.sh)
                          - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
          FROM cand
          JOIN shl sa ON sa.doc_id = id_a
          JOIN shl sb ON sb.doc_id = id_b)
        SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
        """


_register(
    QuerySpec(
        "dedup_minhash_lsh",
        _minhash,
        oracle=_minhash_oracle(),
        doc="banded MinHash LSH with bucket cap + exact verify, oracle-recomputed",
    )
)


def _minhash_vs_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-agreement audit: FULL OUTER join the banded-MinHash
    pair set (portable shingles, 16 perms / 8 bands, jaccard ≥ 0.5)
    against the exhaustive DF-capped postings-join pair set (xxhash
    shingles, same 0.5 threshold) and count agreement categories.
    The two generators define similarity over slightly different
    shingle spaces (the postings join drops stop-shingles; banding
    only probabilistically surfaces candidates), so `both` vs
    `*_only` quantifies what each trades away — the eval a real
    pipeline runs before committing to an LSH config.  Oracle
    composes the two EXISTING oracle pipelines verbatim as derived
    tables, so the agreement numbers are recomputed end-to-end by
    the second engine too."""
    d = load_table(spark, sf_dir, "documents")
    mh = minhash_banded_pairs(
        d, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5,
        bucket_cap=200,
    ).select("id_a", "id_b")
    ng = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, df_cap=100
    ).select(
        F.col("id_a").alias("ng_a"), F.col("id_b").alias("ng_b")
    )
    j = mh.join(
        ng, (mh.id_a == ng.ng_a) & (mh.id_b == ng.ng_b), how="full"
    )
    category = (
        F.when(F.col("id_a").isNull(), "ngram_only")
        .when(F.col("ng_a").isNull(), "minhash_only")
        .otherwise("both")
    )
    return (
        j.select(category.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("category")
    )


_register(
    QuerySpec(
        "dedup_minhash_vs_ngram",
        _minhash_vs_ngram,
        oracle=f"""
        SELECT category, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
          SELECT CASE WHEN mh.id_a IS NULL THEN 'ngram_only'
                      WHEN ng.id_a IS NULL THEN 'minhash_only'
                      ELSE 'both' END AS category
          FROM ({_minhash_oracle()}) mh
          FULL OUTER JOIN (
            WITH {_ngram_pairs_ctes()}
            SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5
          ) ng ON mh.id_a = ng.id_a AND mh.id_b = ng.id_b)
        GROUP BY category ORDER BY category
        """,
        doc="LSH-vs-exhaustive pair agreement audit, both pipelines oracle-recomputed",
    )
)


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upgraded from rows-only to full oracle in r05: the token hash
    became the first 64 md5 bits (engine-portable, replacing seeded
    xxhash64), so DuckDB recomputes the ENTIRE pipeline — per-token
    bits, per-bit votes, 64-bit signature, 16-bit band pigeonhole
    candidates, exact Hamming verify — in ANSI SQL."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=16)


_register(
    QuerySpec(
        "dedup_simhash",
        _simhash,
        oracle=r"""
        WITH sig AS (
          SELECT doc_id,
            list_transform(generate_series(0, 63), j ->
              CASE WHEN COALESCE(list_sum(list_transform(
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                            t -> t <> ''),
                t -> CASE WHEN (
                       (CAST(strpos('0123456789abcdef',
                          substr(md5(t),
                                 16 - CAST(j // 4 AS INTEGER), 1))
                        AS BIGINT) - 1)
                       >> CAST(j % 4 AS INTEGER) & 1) = 1
                     THEN 1 ELSE -1 END)), 0) > 0
              THEN 1 ELSE 0 END) AS bits
          FROM documents),
        bands AS (
          SELECT doc_id, bits, b,
            list_sum(list_transform(generate_series(0, 15),
              k -> bits[CAST(b * 16 + k + 1 AS INTEGER)]
                   << CAST(k AS INTEGER))) AS val
          FROM sig, generate_series(0, 3) g(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.bits AS bits_a, b.bits AS bits_b
          FROM bands a JOIN bands b ON a.b = b.b AND a.val = b.val
          WHERE a.doc_id < b.doc_id),
        verified AS (
          SELECT id_a, id_b,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CASE WHEN bits_a[CAST(i AS INTEGER)]
                             <> bits_b[CAST(i AS INTEGER)]
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
          FROM cand)
        SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 16
        """,
        bench=True,
        doc="SimHash band-bucketed near-dup, oracle-recomputed pipeline",
    )
)

# ---------------------------------------------------------------------------
# Extension: text analysis
# ---------------------------------------------------------------------------

_EN = tx.LANG_MARKERS["en"]


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = tx.quality_metrics("text")
    return d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
        tx.quality_score("text").alias("quality"),
    )


_register(
    QuerySpec(
        "text_quality_stats",
        _text_stats,
        oracle=f"""
        WITH m AS (
          SELECT doc_id,
            CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
            length(text) AS n_chars,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
            length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS n_punct,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> list_contains({_EN!r}, x))) AS n_stop
          FROM documents),
        r AS (
          SELECT doc_id, n_tokens,
            ROUND(n_alpha / (CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE) ELSE 1.0 END), 6) AS alpha_ratio,
            ROUND(n_punct / (CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE) ELSE 1.0 END), 6) AS punct_ratio,
            ROUND(n_stop / (CASE WHEN n_tokens > 0 THEN CAST(n_tokens AS DOUBLE) ELSE 1.0 END), 6) AS stopword_ratio
          FROM m)
        SELECT doc_id, n_tokens, alpha_ratio, punct_ratio, stopword_ratio,
               ROUND(0.5 * LEAST(alpha_ratio / 0.8, 1.0)
                   + 0.3 * LEAST(stopword_ratio / 0.4, 1.0)
                   + 0.2 * (1.0 - LEAST(punct_ratio / 0.2, 1.0)), 6) AS quality
        FROM r
        """,
        bench=True,
        doc="length/punct/stopword quality scoring, pure codegen",
    )
)


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", tx.lang_id("text").alias("pred_lang"))


def _lang_oracle() -> str:
    score = {
        lang: (
            f"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            f"x -> list_contains({markers!r}, x)))"
        )
        for lang, markers in tx.LANG_MARKERS.items()
    }
    langs = list(score)
    # winner = first lang (in LANG_MARKERS order) holding the max score,
    # 'und' when every score is zero — mirrors text.lang_id exactly.
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = " ".join(branches)
    selects = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    greatest = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
        WITH s AS (SELECT doc_id, lang, {selects} FROM documents)
        SELECT doc_id, lang,
               CASE WHEN GREATEST({greatest}) = 0 THEN 'und' {case} END AS pred_lang
        FROM s
        """


_register(
    QuerySpec(
        "text_lang_id",
        _lang_id,
        oracle=_lang_oracle(),
        doc="marker-lexicon language ID heuristic",
    )
)


def _langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX against the labeled lang column —
    the classifier eval a pipeline runs before trusting lang-ID for
    routing/mixing decisions: per (true, predicted) doc counts and
    the within-true-language fraction.  Total relation is
    language-sized → broadcast; the oracle recomputes the full
    marker-lexicon classifier as a derived table and aggregates the
    same confusion cells."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select("lang", tx.lang_id("text").alias("pred_lang"))
    conf = p.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = p.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    # bcast-ok: per-language totals, bounded by language dims
    return conf.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_lang").cast("double"), 6).alias(
            "frac"
        ),
    )


_register(
    QuerySpec(
        "langid_confusion_audit",
        _langid_confusion,
        oracle=f"""
        WITH p AS (SELECT * FROM ({_lang_oracle()}) x),
        conf AS (
          SELECT lang, pred_lang, COUNT(*) AS n_docs
          FROM p GROUP BY lang, pred_lang),
        tot AS (SELECT lang, COUNT(*) AS n_lang FROM p GROUP BY lang)
        SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
               ROUND(c.n_docs
                     / /*nz: every confusion cell's language has >= 1 doc*/
                       CAST(t.n_lang AS DOUBLE), 6) AS frac
        FROM conf c JOIN tot t USING (lang)
        """,
        doc="lang-ID confusion matrix vs labels: classifier recomputed as a "
        "derived table, per-language fractions",
    )
)


def _token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", tx.token_count("text").alias("toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
    )


_register(
    QuerySpec(
        "text_token_totals",
        _token_totals,
        oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
                 AS total_tokens
        FROM documents GROUP BY lang
        """,
        doc="corpus token accounting (exact integer sums)",
    )
)


def _tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(d, "doc_id", "text", k=3)


_register(
    QuerySpec(
        "text_tfidf_top_terms",
        _tfidf,
        oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term
          FROM documents WHERE trim(text) <> ''),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
               WHERE term <> '' GROUP BY doc_id, term),
        dl AS (SELECT doc_id, SUM(tf) AS doc_len FROM tf GROUP BY doc_id),
        idf AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 ROUND((tf.tf / /*nz: per-doc token count >= 1*/ dl.doc_len)
                       * ln(CAST(n.n_docs AS DOUBLE) / /*nz: document frequency >= 1*/ idf.df_t), 6) AS tfidf
          FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) CROSS JOIN n)
        SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rank
          FROM scored)
        WHERE rank <= 3
        """,
        doc="per-doc top-k TF-IDF terms: two shuffles + broadcast idf",
    )
)


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upgraded from rows-only to full oracle in r05: the per-token
    hash is now the first 32 bits of md5 (engine-portable, unlike the
    seeded xxhash64 it replaced), so DuckDB can recompute the entire
    polynomial fold — tokenization, per-token hash, chained
    multiply-add, mask — in ANSI SQL with list lambdas."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint64("text").alias("fingerprint"))


_register(
    QuerySpec(
        "text_fingerprint",
        _fingerprints,
        oracle=r"""
        -- CAST to BIGINT is load-bearing: list_sum types the per-token
        -- hash HUGEINT, which pandas/arrow coerces to float64 on fetch;
        -- 57-bit fingerprints exceed 2^53 and round (r05 red row).
        SELECT doc_id,
          CAST(list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                            t -> t <> ''),
                t -> list_sum(list_transform(generate_series(1, 8),
                       i -> (CAST(strpos('0123456789abcdef',
                                         substr(md5(t), i, 1)) AS BIGINT) - 1)
                            * (CAST(1 AS BIGINT)
                               << (4 * (8 - CAST(i AS INTEGER)))))))),
            (acc, h) -> (acc * 31 + h) & 144115188075855871
          ) AS BIGINT) AS fingerprint
        FROM documents
        """,
        doc="portable rolling-hash doc fingerprint, oracle-recomputed fold",
    )
)


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.chunk_documents(d, chunk_size=64, overlap=16)


_register(
    QuerySpec(
        "text_chunk_windows",
        _chunks,
        # step = chunk_size − overlap = 48; chunk k covers tokens
        # [k·48+1, k·48+64]; list_slice is 1-based inclusive like F.slice.
        oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '') AS w
          FROM documents),
        base AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        idx AS (
          SELECT doc_id, w,
                 UNNEST(range(0, CAST(floor((n - 1) / 48) AS BIGINT) + 1))
                   AS chunk_idx
          FROM base)
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64))
                    AS BIGINT) AS n_tokens,
               array_to_string(
                 list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
                 AS chunk
        FROM idx
        """,
        doc="overlapping token-window chunking (no UDF, no shuffle)",
    )
)


def _strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping, oracle-hash-checked end-to-end: per document,
    WRAP the text in deterministic HTML (head with a style block, an
    entity-bearing heading, the body paragraph, a comment) in pure
    Column expressions, run :func:`text.strip_markup`, and emit the
    cleaned string — which must equal ``"T&C docs <doc_id>" + text``
    whitespace-collapsed.  The oracle builds the same wrapper and runs
    the same ordered regex/entity pipeline under RE2, so a green row
    certifies the two regex dialects agree on the whole cleaning
    contract (block drop, tag strip, entity order, collapse)."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><style>p{color:red}</style>"
            "<script>var x=1;</script></head>"
            "<body><h1>T&amp;C &quot;docs&#39;"
        ),
        F.lit(" "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><!-- generated --></body></html>"),
    )
    return d.select(
        "doc_id",
        tx.strip_markup(html).alias("clean"),
    ).withColumn("n_chars_clean", F.length("clean").cast("long"))


_register(
    QuerySpec(
        "text_strip_markup",
        _strip_markup,
        oracle=r"""
        WITH wrapped AS (
          SELECT doc_id,
                 '<html><head><style>p{color:red}</style>'
                 || '<script>var x=1;</script></head>'
                 || '<body><h1>T&amp;C &quot;docs&#39; '
                 || CAST(doc_id AS VARCHAR)
                 || '</h1><p>' || text
                 || '</p><!-- generated --></body></html>' AS h
          FROM documents),
        stripped AS (
          SELECT doc_id,
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                    '(?s)<!--.*?-->', ' ', 'g'),
                  '<[^>]*>', ' ', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '\s+', ' ', 'g')) AS clean
          FROM wrapped)
        SELECT doc_id, clean,
               CAST(LENGTH(clean) AS BIGINT) AS n_chars_clean
        FROM stripped
        """,
        doc="markup strip: block drop + tag strip + ordered entity decode, RE2/Java-regex parity",
    )
)


def _unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (the exactly-computable core of the
    CCNet/Gopher perplexity quality filter): per-doc mean −ln p(w)
    under the corpus's own unigram distribution.  The vocabulary table
    broadcasts back onto the exploded tokens (vocab size is bounded no
    matter the corpus size — the reason unigram scoring scales), and
    per-token NLL rounds to 6 decimals into DECIMAL sums so both
    engines add exactly."""
    d = load_table(spark, sf_dir, "documents")
    return tx.unigram_logprob(d, "doc_id", "text")


_register(
    QuerySpec(
        "text_unigram_nll",
        _unigram_nll,
        oracle=r"""
        WITH t AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
        tot AS (SELECT SUM(c) AS t_total FROM freq),
        scored AS (
          SELECT doc_id,
                 CAST(ROUND(-ln(c / /*nz: corpus token total >= 1 for any token row*/ t_total), 6) AS DECIMAL(18,6)) AS nll
          FROM t JOIN freq USING (w) CROSS JOIN tot)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
        FROM scored GROUP BY doc_id
        """,
        doc="unigram-LM NLL scoring: corpus freq broadcast, decimal-exact per-doc mean",
        global_window_ok="vocab-sized total fold (bounded vocabulary, see unigram_logprob)",
    )
)


def _sample_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-bucketed sampling (Wenzek et al. 2019,
    arXiv:1911.00359): score every document under the corpus LM
    (unigram NLL — the same scorer as text_unigram_nll), split into
    equal-count head/middle/tail perplexity terciles
    (sampling.ntile_assign — the distributed two-phase NTILE, no
    single-partition window), then keep head 100% / middle 50% /
    tail 10% with the deterministic md5 Bernoulli of
    sampling.weighted_mix — the published recipe that keeps fluent
    text while down-weighting (not zeroing) the noisy tail.  Every
    stage is engine-portable: LM arithmetic decimal-summed, NTILE a
    total order, sampling an md5-threshold compare — the oracle
    recomputes all three."""
    from square_etl_spark.operators.sampling import ntile_assign, weighted_mix

    d = load_table(spark, sf_dir, "documents")
    nll = tx.unigram_logprob(d, "doc_id", "text")
    tiled = ntile_assign(nll, "avg_nll", "doc_id", 3)
    kept = weighted_mix(
        tiled, "tile", "doc_id", {1: 1.0, 2: 0.5, 3: 0.1}, salt="ccnet"
    )
    return kept.select(
        "doc_id",
        F.col("tile").cast("long").alias("tile"),
        "n_tokens",
        "avg_nll",
    )


_register(
    QuerySpec(
        "sample_perplexity_buckets",
        _sample_perplexity_buckets,
        oracle=r"""
        WITH t AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
        tot AS (SELECT SUM(c) AS t_total FROM freq),
        scored AS (
          SELECT doc_id,
                 CAST(ROUND(-ln(c / /*nz: corpus token total >= 1 for any token row*/ t_total), 6) AS DECIMAL(18,6)) AS nll
          FROM t JOIN freq USING (w) CROSS JOIN tot),
        perdoc AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
          FROM scored GROUP BY doc_id),
        tiled AS (
          SELECT doc_id, n_tokens, avg_nll,
                 CAST(NTILE(3) OVER (ORDER BY avg_nll, doc_id)
                      AS BIGINT) AS tile
          FROM perdoc)
        SELECT doc_id, tile, n_tokens, avg_nll
        FROM tiled
        WHERE substr(md5('ccnet' || CAST(doc_id AS VARCHAR)), 1, 8)
              < CASE tile WHEN 1 THEN 'g0000000'
                          WHEN 2 THEN '80000000'
                          ELSE '19999999' END
        """,
        doc="CCNet perplexity buckets: LM-score, equal-count terciles, per-tile deterministic keep rates (head 1.0 / middle 0.5 / tail 0.1)",
        global_window_ok="vocab-sized total fold (bounded vocabulary, see unigram_logprob)",
    )
)


def _perplexity_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATED perplexity filter (the Gopher/CCNet recipe made
    data-driven): instead of a hand-picked NLL cutoff, fence each
    language at its OWN p90 unigram-NLL (exact interpolated
    percentile — per-language distributions differ, so one global
    threshold over-filters the rarest language) and report the
    per-language keep decision.  Fence table is language-sized →
    broadcast; the NLL scoring underneath is the two-pass
    vocab-broadcast shape of text_unigram_nll."""
    nll = tx.unigram_logprob(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = nll.join(d, "doc_id")
    fence = j.groupBy("lang").agg(
        F.round(F.percentile("avg_nll", F.lit(0.9)), 6).alias("p90_nll")
    )
    # bcast-ok: per-language fence table, bounded by language dims
    out = j.join(F.broadcast(fence), "lang")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("avg_nll") <= F.col("p90_nll"), 1).otherwise(0)
        ).cast("long").alias("n_kept"),
        F.min("p90_nll").alias("p90_nll"),
    )


_register(
    QuerySpec(
        "quality_perplexity_fence",
        _perplexity_fence,
        oracle=r"""
        WITH t AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
        tot AS (SELECT SUM(c) AS t_total FROM freq),
        scored AS (
          SELECT doc_id,
                 CAST(ROUND(-ln(c / /*nz: corpus token total >= 1 for any token row*/ t_total), 6) AS DECIMAL(18,6)) AS nll
          FROM t JOIN freq USING (w) CROSS JOIN tot),
        nlld AS (
          SELECT doc_id,
                 ROUND(CAST(SUM(nll) AS DOUBLE)
                       / /*nz: grouped token count >= 1*/ COUNT(*), 6)
                   AS avg_nll
          FROM scored GROUP BY doc_id),
        j AS (
          SELECT n.doc_id, n.avg_nll, d.lang
          FROM nlld n JOIN documents d USING (doc_id)),
        fence AS (
          SELECT lang, ROUND(quantile_cont(avg_nll, 0.9), 6) AS p90_nll
          FROM j GROUP BY lang)
        SELECT j.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN j.avg_nll <= f.p90_nll
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               MIN(f.p90_nll) AS p90_nll
        FROM j JOIN fence f USING (lang)
        GROUP BY j.lang
        """,
        doc="calibrated perplexity filter: per-language exact p90 NLL fence, "
        "keep decision oracle-recomputed",
    )
)


def _gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based filter (operators/text.gopher_rules,
    arXiv:2112.11446 A1.1) over the documents table: per-doc metrics
    + per-rule flags + pass_all, every ratio an exact count divided
    in double and rounded before comparison.  One scan, no shuffle,
    no UDF.  min_stopword_hits is 1 here (operator default = the
    paper's 2): the synthetic fixture vocabulary carries only 'the'
    from the Gopher stopword list, so the paper threshold fails every
    doc uniformly — 1 makes the corpus split 382/118 at sf0.01 and
    the flag actually discriminative under the oracle."""
    from square_etl_spark.operators.text import gopher_rules

    return gopher_rules(
        load_table(spark, sf_dir, "documents"), min_stopword_hits=1
    )


def _gopher_oracle() -> str:
    from square_etl_spark.operators.text import GOPHER_STOPWORDS

    stop_sum = " + ".join(
        f"(CASE WHEN list_contains(wl, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPWORDS
    )
    return rf"""
        WITH base AS (
          SELECT doc_id, trim(text) AS t,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '') AS ws,
                 string_split(trim(text), chr(10)) AS lines
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(ws) AS n_words, len(lines) AS n_lines,
                 list_sum(list_transform(ws, w -> CAST(len(w) AS BIGINT)))
                   AS sum_len,
                 (len(t) - len(replace(t, '#', ''))) AS n_hash,
                 (len(t) - len(replace(t, '...', ''))) / 3.0 AS n_ell,
                 len(list_filter(lines, l ->
                   starts_with(l, '- ') OR starts_with(l, '* ')
                   OR starts_with(l, '•'))) AS n_bul,
                 len(list_filter(lines, l -> ends_with(l, '...')))
                   AS n_ell_l,
                 len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                   AS n_alpha,
                 ({stop_sum}) AS stop_hits
          FROM (SELECT doc_id, t, ws, lines,
                       list_transform(ws, w -> lower(w)) AS wl
                FROM base)),
        r AS (
          SELECT doc_id,
                 CAST(n_words AS BIGINT) AS n_words,
                 CASE WHEN n_words > 0 THEN
                   ROUND(CAST(sum_len AS DOUBLE)
                         / /*nz: guarded by CASE n_words > 0*/ n_words, 6)
                 END AS mean_word_len,
                 CASE WHEN n_words > 0 THEN
                   ROUND((CAST(n_hash AS DOUBLE) + n_ell)
                         / /*nz: guarded by CASE n_words > 0*/ n_words, 6)
                 END AS symbol_ratio,
                 ROUND(CAST(n_bul AS DOUBLE)
                       / /*nz: split() yields >= 1 line*/ n_lines, 6)
                   AS bullet_ratio,
                 ROUND(CAST(n_ell_l AS DOUBLE)
                       / /*nz: split() yields >= 1 line*/ n_lines, 6)
                   AS ellipsis_ratio,
                 CASE WHEN n_words > 0 THEN
                   ROUND(CAST(n_alpha AS DOUBLE)
                         / /*nz: guarded by CASE n_words > 0*/ n_words, 6)
                 END AS alpha_word_ratio,
                 CAST(stop_hits AS BIGINT) AS stopword_hits
          FROM m),
        f AS (
          SELECT *,
                 (n_words >= 10 AND n_words <= 100000) AS pass_word_count,
                 COALESCE(mean_word_len >= 3.0
                          AND mean_word_len <= 10.0, FALSE)
                   AS pass_mean_word_len,
                 COALESCE(symbol_ratio <= 0.1, FALSE) AS pass_symbol_ratio,
                 (bullet_ratio <= 0.9) AS pass_bullet_ratio,
                 (ellipsis_ratio <= 0.3) AS pass_ellipsis_ratio,
                 COALESCE(alpha_word_ratio >= 0.8, FALSE)
                   AS pass_alpha_words,
                 (stopword_hits >= 1) AS pass_stopwords
          FROM r)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio,
               bullet_ratio, ellipsis_ratio, alpha_word_ratio,
               stopword_hits, pass_word_count, pass_mean_word_len,
               pass_symbol_ratio, pass_bullet_ratio,
               pass_ellipsis_ratio, pass_alpha_words, pass_stopwords,
               (pass_word_count AND pass_mean_word_len
                AND pass_symbol_ratio AND pass_bullet_ratio
                AND pass_ellipsis_ratio AND pass_alpha_words
                AND pass_stopwords) AS pass_all
        FROM f
        """


_register(
    QuerySpec(
        "quality_gopher_rules",
        _gopher_rules_q,
        oracle=_gopher_oracle(),
        doc="Gopher rule-based filter: per-doc metrics + per-rule flags, "
        "every count and ratio oracle-recomputed",
        bench=True,
    )
)

# ---------------------------------------------------------------------------
# Extension: embedding similarity search
# ---------------------------------------------------------------------------


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(e, _queries_df(spark, sf_dir), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ann_brute_oracle() -> str:
    """Exact top-5 recomputation — also the ground truth the
    ann_recall_audit composition embeds as a derived table."""
    return """
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cosine_sim
          FROM embeddings e CROSS JOIN q)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rank
          FROM sims)
        WHERE rank <= 5
        """


_register(
    QuerySpec(
        "ann_topk_bruteforce",
        _ann_brute,
        oracle=_ann_brute_oracle(),
        bench=True,
        doc="brute-force cosine top-k, broadcast query set",
    )
)


def _ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (operators/similarity.hard_negatives): per query skip the top-5
    assumed positives and take ranks 6-10 above a 0.05 cosine fence —
    the DPR/SimCSE negative-set build, deterministic so a regenerated
    training set is diff-able.  Rank filter is WindowGroupLimit-pushed
    (partial per-partition top-10 heaps, never Q·N to the shuffle)."""
    from square_etl_spark.operators.similarity import hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(
        e, _queries_df(spark, sf_dir), skip=5, k=5, min_sim=0.05
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_hard_negatives",
        _ann_hard_negatives,
        oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cosine_sim
          FROM embeddings e CROSS JOIN q),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rank
          FROM sims)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM ranked
        WHERE rank > 5 AND rank <= 10 AND cosine_sim >= 0.05
        """,
        doc="hard-negative mining: ranks 6-10 per query above a cosine fence, "
        "WindowGroupLimit-pushed partial top-k",
    )
)


def _bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join end-to-end: both sides are
    written bucketed+sorted on the join key, so the sort-merge join
    (forced via hint — broadcast would bypass the layout at this SF)
    pairs buckets locally with ZERO exchange on either side
    (tests/test_bucketing.py pins the plan).  The result must equal
    the plain SQL join — bucketing is physical layout only.  At 100 TB
    this is THE recurring-join answer: orders⋈lineitem at every
    incremental run without re-shuffling either table.

    The bucketed layout lives in catalog tables + a scratch dir; both
    are torn down in the ``finally`` (earlier rounds leaked one table
    pair + dir per run, r03 ADVICE).  The aggregate is
    status-cardinality-sized, so it is materialized inside the
    try-block and returned as a local DataFrame — the zero-exchange
    join still executes, and no lazy reference to the dropped tables
    escapes."""
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_join_")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    try:
        (
            o.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", f"{base}/orders_b").mode("overwrite")
            .saveAsTable(f"orders_b_{tag}")
        )
        (
            li.write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", f"{base}/lineitem_b").mode("overwrite")
            .saveAsTable(f"lineitem_b_{tag}")
        )
        ob = spark.table(f"orders_b_{tag}")
        lb = spark.table(f"lineitem_b_{tag}")
        joined = lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
        agg = (
            joined.groupBy("o_orderstatus")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                )
                .cast("double")
                .alias("revenue"),
                F.count(F.lit(1)).cast("long").alias("n_lines"),
            )
            .orderBy("o_orderstatus")
        )
        rows, schema = agg.collect(), agg.schema
    finally:
        spark.sql(f"DROP TABLE IF EXISTS orders_b_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS lineitem_b_{tag}")
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_register(
    QuerySpec(
        "bucketed_join_revenue",
        _bucketed_join_revenue,
        oracle="""
        SELECT o_orderstatus,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        doc="bucketed co-located join ≡ plain join: zero-exchange sort-merge",
    )
)


def _salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join end-to-end: lineitem (facts, salted by content
    hash) ⋈ orders-derived dim (replicated salt×), then revenue by
    order status — result must be EXACTLY the unsalted join's (salting
    is pure physical redistribution), which is what the plain-SQL
    oracle states.  The pytest side pins the salt spread; this query
    pins the semantics under the driver hash."""
    from square_etl_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    dim = o.withColumnRenamed("o_orderkey", "l_orderkey")
    joined = salted_join(li, dim, on="l_orderkey", salt=8)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


_register(
    QuerySpec(
        "salted_join_revenue",
        _salted_join_revenue,
        oracle="""
        SELECT o_orderstatus,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        doc="skew-salted join ≡ plain join: content-hash salt, dim replicated",
    )
)


def _ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN with exact rescore
    (operators/similarity.cosine_topk_quantized): candidate scan reads
    codes+norm (8× smaller than raw doubles), top 4k candidates rescore
    exactly.  On the fixtures the rescored top-k is identical to brute
    force, so it shares the brute-force oracle — a full hash check of
    the quantization path end-to-end.  FRAGILITY NOTE (r03 ADVICE):
    rescore_factor=4 carries no recall guarantee — a fixture or model
    change could legitimately push a true top-5 vector out of the
    top-20 approx candidates and fail the hash with no code bug; if
    that happens, raise rescore_factor (cost is linear) rather than
    hunt a phantom regression."""
    from square_etl_spark.operators.similarity import cosine_topk_quantized

    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_quantized(e, _queries_df(spark, sf_dir), k=5, dim=64)
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_topk_quantized",
        _ann_quantized,
        oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cosine_sim
          FROM embeddings e CROSS JOIN q)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rank
          FROM sims)
        WHERE rank <= 5
        """,
        doc="int8-quantized ANN + exact rescore; top-k identical to brute force",
    )
)


#: (sf_dir, dim, fixture-mtime) → (codes_path, factors): the codes+norm
#: table is materialized ONCE per scale factor and re-probed by every
#: later ann_topk_codes call — the deployment shape (quantize at
#: ingest, probe the 8×-smaller table).  The cache key and the on-disk
#: tag both fold in the embeddings fixture's mtime, so a fixture that
#: changes mid-process re-materializes instead of serving stale codes,
#: and a given fixture version maps to ONE deterministic dir (no
#: accumulating scratch state across harness rounds).  Publication is
#: atomic: each process writes a private tmp dir and renames it into
#: place, so two concurrent harness/test processes on the same box
#: can't interleave writes into a dir the other is reading — whichever
#: rename wins, both read a complete table.
#: bump when quantize_int8 semantics change — invalidates the tempdir
#: codes artifact (see _ann_codes_table)
_ANN_CODES_VERSION = 1

_ANN_CODES_CACHE: dict[tuple[str, int, int], tuple[str, list[float]]] = {}


def _ann_codes_table(spark: SparkSession, sf_dir: str, dim: int = 64):
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, "embeddings.parquet")
    mtime = os.stat(src).st_mtime_ns if os.path.exists(src) else 0
    key = (sf_dir, dim, mtime)
    if key not in _ANN_CODES_CACHE:
        from square_etl_spark.operators.similarity import quantize_int8

        # version-tagged like _ivfpq_stored_index: a quantize_int8
        # change must invalidate the cached artifact (r14 review)
        tag = hashlib.md5(
            f"{sf_dir}|{mtime}|v{_ANN_CODES_VERSION}".encode()
        ).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_ann_codes_{tag}_d{dim}"
        )
        # factors are driver-side per-dim scales — always recomputed
        # (deterministic from the fixture); the heavy codes parquet is
        # reused when a complete published dir already exists.
        codes_df, factors = quantize_int8(
            load_table(spark, sf_dir, "embeddings"), dim
        )
        if not os.path.isdir(path):
            tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            codes_df.write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, path)  # atomic publish
            except OSError:
                # another process published the same fixture version
                # between our isdir check and rename — theirs is
                # complete (rename-only publication), use it.
                shutil.rmtree(tmp, ignore_errors=True)
        _ANN_CODES_CACHE[key] = (path, factors)
    return _ANN_CODES_CACHE[key]


def _ann_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe over the PRE-MATERIALIZED int8 codes+norm table
    (operators/similarity.topk_from_codes): quantization runs once per
    sf_dir (first call materializes the parquet codes table); every
    probe then scans codes+norm — 8× fewer bytes than raw doubles —
    and exactly rescores the top-4k candidates.  Same brute-force
    oracle as ann_topk_quantized (recall-1.0 on fixtures is empirical,
    not guaranteed — see topk_from_codes docstring)."""
    from square_etl_spark.operators.similarity import topk_from_codes

    path, factors = _ann_codes_table(spark, sf_dir)
    codes_df = spark.read.parquet(path)
    out = topk_from_codes(
        codes_df,
        factors,
        load_table(spark, sf_dir, "embeddings"),
        _queries_df(spark, sf_dir),
        k=5,
        dim=64,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_topk_codes",
        _ann_codes,
        oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cosine_sim
          FROM embeddings e CROSS JOIN q)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rank
          FROM sims)
        WHERE rank <= 5
        """,
        bench=True,
        doc="materialized-codes ANN probe: pre-quantized table, 8x smaller scan",
    )
)


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upgraded from rows-only to full oracle in r05: the hyperplanes
    were always deterministic driver-side constants, so the oracle
    simply embeds all 4×64 of them as SQL literals (float repr
    round-trips to the identical double) and recomputes bucket
    assignment (sign bits), the bucket equi-join, and the in-bucket
    exact cosine top-k."""
    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_lsh(e, _queries_df(spark, sf_dir), k=5, bits=4, dim=64)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ann_lsh_oracle() -> str:
    from square_etl_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(64, 4, 42)

    def arr(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bucket = " + ".join(
        f"{1 << i} * (CASE WHEN list_dot_product(v, {arr(p)}) >= 0"
        " THEN 1 ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        vb AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
        qb AS (SELECT vec_id AS query_id, v AS qv, bucket
               FROM vb WHERE vec_id < 5),
        sims AS (
          SELECT qb.query_id, vb.vec_id,
                 ROUND(list_cosine_similarity(vb.v, qb.qv), 6) AS cosine_sim
          FROM vb JOIN qb USING (bucket))
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, vec_id) AS rank FROM sims)
        WHERE rank <= 5
        """


_register(
    QuerySpec(
        "ann_topk_lsh",
        _ann_lsh,
        oracle=_ann_lsh_oracle(),
        doc="sign-LSH bucketed ANN, oracle-recomputed buckets + in-bucket top-k",
    )
)


def _norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


_register(
    QuerySpec(
        "embedding_norms",
        _norms,
        oracle="""
        SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
               ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
        FROM embeddings
        """,
        doc="vector norms via higher-order SQL functions",
    )
)

# ---------------------------------------------------------------------------
# Extension: multimodal plumbing
# ---------------------------------------------------------------------------


def _mm_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.col("meta.media_type").alias("media_type"),
    )


_register(
    QuerySpec(
        "multimodal_manifest",
        _mm_manifest,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               'image' AS media_type
        FROM documents
        """,
        doc="binary-column manifest: metadata-only scan never touches blobs",
    )
)


def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic decode stage over REAL document bytes (format='raw' →
    the deterministic stub: 16 byte-windows, each summarized as
    sum/255·len).  Upgraded from rows-only to FULL oracle in r06: the
    stub's arithmetic is exactly recomputable from the UTF-8 bytes of
    ``text``, and DuckDB reaches those bytes via ``hex(encode(text))``
    + the same hex-digit-parse trick the md5 oracles use — so the
    mapInPandas plumbing, Arrow round-trip, window split, and edge
    cases (short docs, truncated tail window) all sit inside the hash
    check.  Scalar first/last windows are emitted instead of the old
    JSON-serialized array so the value hash has no float-formatting
    dependency."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_first"),
        F.element_at("features", 16).alias("f_last"),
    )


_register(
    QuerySpec(
        "multimodal_decode",
        _mm_decode,
        oracle=r"""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        p AS (SELECT doc_id, hx, n, GREATEST(1, n // 16) AS step FROM b),
        f AS (
          SELECT doc_id, n, i,
            CASE WHEN i * step >= n THEN 0.0
            ELSE ROUND(
              list_sum(list_transform(
                generate_series(i * step + 1, LEAST((i + 1) * step, n)),
                j -> (strpos('0123456789ABCDEF', substr(hx, 2*j-1, 1)) - 1)
                     * 16
                     + (strpos('0123456789ABCDEF', substr(hx, 2*j, 1)) - 1)))
              / /*nz: chunk width >= 1 by construction*/ (255.0 * (LEAST((i + 1) * step, n) - i * step)), 6)
            END AS fv
          FROM p, generate_series(0, 15) g(i) WHERE i IN (0, 15))
        SELECT doc_id AS media_id,
               CAST(MAX(n) AS BIGINT) AS n_bytes,
               true AS ok,
               MAX(CASE WHEN i = 0 THEN fv END) AS f_first,
               MAX(CASE WHEN i = 15 THEN fv END) AS f_last
        FROM f GROUP BY doc_id
        """,
        doc="mapInPandas decode stage over real doc bytes, oracle-recomputed byte windows",
    )
)


#: constant 54-byte header of a 4×4 24bpp bottom-up BMP whose 48 pixel
#: bytes follow (stride 12 = 4·3, already 4-aligned → no row padding).
_BMP_4X4_HEADER = (
    b"BM" + (54 + 48).to_bytes(4, "little") + b"\x00" * 4
    + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
    + (4).to_bytes(4, "little", signed=True)
    + (4).to_bytes(4, "little", signed=True)
    + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    + (0).to_bytes(4, "little") + b"\x00" * 20
)


def _mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-codec decode path, oracle-hash-checked end-to-end: per
    document, CONSTRUCT a 4×4 gray 24bpp BMP in pure Column expressions
    (constant header ++ 48 copies of the byte ``n_chars % 256``), run
    it through the Arrow-batched decode stage (real BMP parse → 4×4
    luminance grid), and emit the first grid cell.  For a uniform gray
    v the Rec.601 luminance is exactly v (0.299+0.587+0.114 = 1), so
    DuckDB can predict the feature arithmetically —
    ``ROUND((n_chars%256)/255.0, 6)`` — without any image code:
    header parsing, stride/bottom-up handling, the luminance grid, and
    the mapInPandas plumbing all sit inside the hash check (verified
    bit-exact for all 256 gray values against python round semantics).
    Upgrades the decode stage from rows-only to full-oracle evidence."""
    docs = load_table(spark, sf_dir, "documents")
    gray_byte = F.unhex(F.lpad(F.hex(F.col("n_chars") % 256), 2, "0"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(_BMP_4X4_HEADER), *([gray_byte] * 48)).alias("content"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("bmp").alias("format"),
            F.lit(4).alias("width"),
            F.lit(4).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_decode_bmp",
        _mm_decode_bmp,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(102 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_gray
        FROM documents
        """,
        doc="REAL-codec decode, oracle-checked: constructed BMPs, predicted features",
    )
)


def _uniform_gray_jpeg(v: int, size: int = 176) -> bytes:
    """Deterministic 16×16 4:2:0 baseline JPEG of uniform gray ``v``,
    zero-padded after EOI to a fixed ``size`` bytes (trailing bytes are
    ignored by the decoder; the constant length keeps ``n_bytes``
    oracle-predictable).  With all-ones quantization tables only the
    luma DC coefficient is nonzero and divides exactly, so the decode
    is BIT-EXACT: every output pixel equals ``v`` — the JPEG analog of
    the uniform-gray BMP trick in :func:`_mm_decode_bmp`, but the bytes
    ride the full entropy pipeline (huffman decode, DC prediction
    across the six MCU blocks, dequant, IDCT, chroma upsample,
    YCbCr→RGB)."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    head = b"\xff\xd8"
    head += seg(0xDB, b"\x00" + b"\x01" * 64)  # DQT 0: all ones
    head += seg(  # SOF0: 16×16, Y 2×2 + Cb/Cr 1×1, all on DQT 0
        0xC0,
        b"\x08" + (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
        + b"\x03" + b"\x01\x22\x00" + b"\x02\x11\x00" + b"\x03\x11\x00",
    )
    # DC table: categories 0..11 as canonical 8-bit codes (code == symbol)
    head += seg(0xC4, b"\x00" + bytes([0] * 7 + [12] + [0] * 8) + bytes(range(12)))
    # AC table: EOB only, as the single 1-bit code '0'
    head += seg(0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00")
    head += seg(0xDA, b"\x03" + b"\x01\x00\x02\x00\x03\x00" + b"\x00\x3f\x00")

    out, acc, n = bytearray(), 0, 0

    def put(val: int, k: int) -> None:
        nonlocal acc, n
        for i in range(k - 1, -1, -1):
            acc = (acc << 1) | ((val >> i) & 1)
            n += 1
            if n == 8:
                out.append(acc)
                if acc == 0xFF:
                    out.append(0x00)
                acc, n = 0, 0

    d = 8 * (v - 128)  # luma DC; blocks 2-4 and both chroma DCs diff 0
    for blk_d in (d, 0, 0, 0, 0, 0):
        s = abs(blk_d).bit_length()
        put(s, 8)  # DC category code
        if s:
            put(blk_d if blk_d >= 0 else blk_d + (1 << s) - 1, s)
        put(0, 1)  # EOB
    while n:
        put(1, 1)  # pad to byte with 1s
    blob = head + bytes(out) + b"\xff\xd9"
    return blob + b"\x00" * (size - len(blob))


def _mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JPEG decode path, oracle-hash-checked end-to-end: a 256-row
    lookup table of uniform-gray baseline JPEGs (driver-built,
    broadcast) joins to documents on ``n_chars % 256``, the blobs run
    through the Arrow-batched decode stage (REAL baseline-JPEG codec:
    huffman entropy decode → dequant → IDCT → 4:2:0 chroma upsample →
    YCbCr→RGB → luminance grid), and DuckDB predicts the first grid
    cell arithmetically — decode is bit-exact for uniform gray under
    all-ones quantization (see :func:`_uniform_gray_jpeg`).  At scale
    the broadcast is 256 × 176 B; the decode stays a map-only stage."""
    from square_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents")
    lut = spark.createDataFrame(
        [(v, bytearray(_uniform_gray_jpeg(v))) for v in range(256)],
        "gray int, content binary",
    )
    media = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 256).cast("int").alias("gray"),
        )
        # bcast-ok: lut = constant 256-row lookup table
        .join(F.broadcast(lut), on="gray")
        .select(
            "media_id",
            "content",
            F.struct(
                F.lit("image").alias("media_type"),
                F.lit("jpeg").alias("format"),
                F.lit(16).alias("width"),
                F.lit(16).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(None).cast("string").alias("uri"),
            ).alias("meta"),
        )
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_decode_jpeg",
        _mm_decode_jpeg,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(176 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_gray
        FROM documents
        """,
        doc="REAL JPEG codec decode, oracle-checked: entropy pipeline end-to-end",
        bench=True,  # r05: the Arrow decode stage earns a recorded number
    )
)


def _uniform_gray_png(v: int, size: int = 128) -> bytes:
    """Deterministic 4×4 8-bit grayscale PNG of uniform gray ``v``,
    zero-padded after IEND to a fixed ``size`` bytes (the parser stops
    at IEND; the constant length keeps ``n_bytes`` oracle-predictable,
    same trick as :func:`_uniform_gray_jpeg`).  The pixel payload
    rides a REAL stdlib-zlib DEFLATE stream (filter-0 scanlines), so
    the decode exercises chunk walking, zlib inflation, and scanline
    unfiltering — for uniform gray every reconstructed pixel is
    exactly ``v``."""
    import struct
    import zlib

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + typ + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([v]) * 4 for _ in range(4))
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
    assert len(blob) <= size, len(blob)
    return blob + b"\x00" * (size - len(blob))


def _mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG decode path, oracle-hash-checked end-to-end: a 256-row
    LUT of uniform-gray zlib-compressed PNGs (driver-built, broadcast)
    joins to documents on ``n_chars % 256``, the blobs run through the
    Arrow-batched decode stage (REAL PNG codec: chunk walk → zlib
    inflate → scanline unfilter → luminance grid), and DuckDB predicts
    the first grid cell arithmetically — decode is bit-exact for
    uniform gray.  Completes the oracle-checked codec family
    (BMP/TIFF/JPEG/GIF/WAV/FLAC) with the DEFLATE container."""
    from square_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents")
    lut = spark.createDataFrame(
        [(v, bytearray(_uniform_gray_png(v))) for v in range(256)],
        "gray int, content binary",
    )
    media = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 256).cast("int").alias("gray"),
        )
        # bcast-ok: lut = constant 256-row lookup table
        .join(F.broadcast(lut), on="gray")
        .select(
            "media_id",
            "content",
            F.struct(
                F.lit("image").alias("media_type"),
                F.lit("png").alias("format"),
                F.lit(4).alias("width"),
                F.lit(4).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(None).cast("string").alias("uri"),
            ).alias("meta"),
        )
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_decode_png",
        _mm_decode_png,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(128 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_gray
        FROM documents
        """,
        doc="REAL PNG codec decode, oracle-checked: zlib inflate + unfilter end-to-end",
    )
)


def _uniform_gray_webp(v: int, size: int = 128) -> bytes:
    """A complete lossless WebP (VP8L) encoding a 4×4 uniform image of
    gray level ``v``, zero-padded after the VP8L chunk to ``size``
    bytes (constant length keeps ``n_bytes`` oracle-predictable, the
    PNG/JPEG LUT trick).  The bitstream uses five 'simple' prefix
    codes — one single-symbol code per channel plane — which is the
    degenerate-but-legal VP8L stream for a constant image: after the
    header, all 16 pixels decode with ZERO further bits.  The decode
    path still walks the real machinery (RIFF chunks → VP8L header →
    prefix-code reads → literal pixel loop)."""
    bits: list[int] = []

    def put(val: int, n: int) -> None:
        for i in range(n):
            bits.append((val >> i) & 1)

    put(3, 14)  # width - 1
    put(3, 14)  # height - 1
    put(0, 1)   # alpha hint
    put(0, 3)   # version
    put(0, 1)   # no transforms
    put(0, 1)   # no color cache
    put(0, 1)   # no meta prefix codes
    for sym in (v, v, v, 255, 0):  # G, R, B, A, distance
        put(1, 1)   # simple code
        put(0, 1)   # one symbol
        put(1, 1)   # 8-bit symbol
        put(sym, 8)
    packed = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            packed[i >> 3] |= 1 << (i & 7)
    payload = b"\x2f" + bytes(packed)
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    blob = b"RIFF" + (size - 8).to_bytes(4, "little") + b"WEBP" + chunk
    assert len(blob) <= size, len(blob)
    return blob + b"\x00" * (size - len(blob))


def _mm_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WebP-lossless decode path, oracle-hash-checked end-to-end:
    a 256-row LUT of uniform-gray VP8L WebPs (driver-built, broadcast)
    joins to documents on ``n_chars % 256``, the blobs run through the
    Arrow-batched decode stage (REAL VP8L codec: RIFF chunk walk →
    LSB-first bit reads → canonical prefix codes → literal pixel loop
    → luminance grid), and DuckDB predicts the first grid cell
    arithmetically — decode is bit-exact for uniform gray.  Closes the
    r12 verdict's webp gap: the probe already detected webp; now the
    lossless payload decodes (lossy VP8 stays a declared stub)."""
    from square_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents")
    lut = spark.createDataFrame(
        [(v, bytearray(_uniform_gray_webp(v))) for v in range(256)],
        "gray int, content binary",
    )
    media = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 256).cast("int").alias("gray"),
        )
        # bcast-ok: lut = constant 256-row lookup table
        .join(F.broadcast(lut), on="gray")
        .select(
            "media_id",
            "content",
            F.struct(
                F.lit("image").alias("media_type"),
                F.lit("webp").alias("format"),
                F.lit(4).alias("width"),
                F.lit(4).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(None).cast("string").alias("uri"),
            ).alias("meta"),
        )
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_decode_webp",
        _mm_decode_webp,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(128 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_gray
        FROM documents
        """,
        doc="REAL WebP-lossless (VP8L) decode, oracle-checked: prefix codes + pixel loop end-to-end",
    )
)


def _tiff_4x4_parts() -> tuple[bytes, bytes]:
    """Constant (prefix, suffix) of a 4×4 grayscale PackBits TIFF whose
    single variable byte — the uniform gray value — sits between them:
    ``prefix ++ gray ++ suffix`` is a complete little-endian baseline
    TIFF.  The strip is PackBits ``F1 <gray>`` (repeat 16), so the
    oracle-checked path rides the real decompressor, not just the
    uncompressed fast path."""

    def short(tag: int, v: int) -> bytes:
        return (tag.to_bytes(2, "little") + (3).to_bytes(2, "little")
                + (1).to_bytes(4, "little") + v.to_bytes(2, "little")
                + b"\x00\x00")

    def long_(tag: int, v: int) -> bytes:
        return (tag.to_bytes(2, "little") + (4).to_bytes(2, "little")
                + (1).to_bytes(4, "little") + v.to_bytes(4, "little"))

    # layout: header(8) | strip(2 @ offset 8) | IFD(@ offset 10)
    prefix = b"II*\x00" + (10).to_bytes(4, "little") + b"\xf1"
    entries = (
        short(256, 4) + short(257, 4) + short(258, 8)  # w, h, bits
        + short(259, 32773) + short(262, 1)            # PackBits, gray
        + long_(273, 8) + short(277, 1)                # strip off, spp
        + short(278, 4) + long_(279, 2)                # rows/strip, count
    )
    suffix = (9).to_bytes(2, "little") + entries + b"\x00\x00\x00\x00"
    return prefix, suffix


def _mm_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TIFF decode path, oracle-hash-checked end-to-end: per
    document, CONSTRUCT a 4×4 grayscale PackBits-compressed TIFF in
    pure Column expressions (constant header/IFD with the single gray
    byte ``n_chars % 256`` spliced into the compressed strip), run it
    through the Arrow-batched decode stage (real TIFF parse: IFD walk
    → PackBits decompress → photometric expansion → luminance grid),
    and emit the first grid cell.  Uniform gray v → feature exactly
    ``ROUND(v/255.0, 6)``, predicted arithmetically by DuckDB — same
    uniform-gray trick as :func:`_mm_decode_bmp`, but the bytes ride
    the compression path."""
    from square_etl_spark.operators.multimodal import decode_media

    prefix, suffix = _tiff_4x4_parts()
    docs = load_table(spark, sf_dir, "documents")
    gray_byte = F.unhex(F.lpad(F.hex(F.col("n_chars") % 256), 2, "0"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(prefix), gray_byte, F.lit(suffix)).alias("content"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("tiff").alias("format"),
            F.lit(4).alias("width"),
            F.lit(4).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_decode_tiff",
        _mm_decode_tiff,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(124 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_gray
        FROM documents
        """,
        doc="REAL TIFF codec decode, oracle-checked: PackBits strip end-to-end",
    )
)


#: constant 44-byte header of a 16-bit mono 8 kHz PCM WAV whose 64
#: data bytes (32 samples) follow.
_WAV_16BIT_HEADER = (
    b"RIFF" + (36 + 64).to_bytes(4, "little") + b"WAVEfmt "
    + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
    + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
    + (16000).to_bytes(4, "little") + (2).to_bytes(2, "little")
    + (16).to_bytes(2, "little") + b"data" + (64).to_bytes(4, "little")
)


def _mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO decode path, oracle-hash-checked end-to-end: per
    document, CONSTRUCT a 16-bit mono PCM WAV in pure Column
    expressions (constant 44-byte header ++ 32 copies of the
    little-endian sample ``n_chars % 256``), run it through the
    Arrow-batched decode stage (real RIFF/PCM parse → 16-window RMS
    energy profile), and emit the first window.  A constant signal s
    has RMS exactly ``|s|/32768`` (s/32768 is a dyadic rational, the
    square is exact, and IEEE sqrt of an exact square is exact), so
    DuckDB predicts it as ``ROUND((n_chars%256)/32768.0, 6)`` —
    verified tie-free for all 256 sample values (s=256·odd would hit a
    half-way case; s<256 never does).  Upgrades the audio side of the
    codec rack from pytest-only to full-oracle evidence."""
    from square_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents")
    sample = F.concat(  # little-endian 16-bit: low byte varies, high 0
        F.unhex(F.lpad(F.hex(F.col("n_chars") % 256), 2, "0")),
        F.lit(b"\x00"),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(_WAV_16BIT_HEADER), *([sample] * 32)).alias("content"),
        F.struct(
            F.lit("audio").alias("media_type"),
            F.lit("wav").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(4).alias("duration_ms").cast("long"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_rms"),
    )


_register(
    QuerySpec(
        "multimodal_decode_wav",
        _mm_decode_wav,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(108 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 32768.0, 6) AS f_rms
        FROM documents
        """,
        doc="REAL WAV codec decode, oracle-checked: constructed PCM, predicted RMS",
    )
)


def _constant_flac(s: int, n: int = 192) -> bytes:
    """Minimal spec-complete FLAC of ``n`` 16-bit mono samples all
    equal to ``s``: STREAMINFO + one CONSTANT-subframe frame with real
    CRC-8 and CRC-16 (the decoder verifies both).  Driver-built for
    the 256-row broadcast LUT in :func:`_mm_decode_flac` — the FLAC
    analog of :func:`_uniform_gray_jpeg`."""
    from square_etl_spark.operators.multimodal import _flac_crc_tables

    t8, t16 = _flac_crc_tables()
    si = 0
    for v, k in [(n, 16), (n, 16), (0, 24), (0, 24), (8000, 20),
                 (0, 3), (15, 5), (n, 36)]:
        si = (si << k) | v
    stream = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
              + si.to_bytes(18, "big") + b"\x00" * 16)
    # frame: sync/blocking, bs_code 7 + sr_code 0, mono + 16-bit,
    # coded number 0, 16-bit blocksize-1, CRC-8
    hdr = bytearray([0xFF, 0xF8, 0x70, 0x08, 0x00]) + (n - 1).to_bytes(2, "big")
    crc8 = 0
    for b in hdr:
        crc8 = t8[crc8 ^ b]
    hdr.append(crc8)
    # subframe: pad 0 + type 000000 + wasted 0 = 0x00, then the value
    frame = bytes(hdr) + b"\x00" + (s & 0xFFFF).to_bytes(2, "big")
    crc16 = 0
    for b in frame:
        crc16 = ((crc16 << 8) & 0xFFFF) ^ t16[(crc16 >> 8) ^ b]
    return stream + frame + crc16.to_bytes(2, "big")


def _mm_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAC decode path, oracle-hash-checked end-to-end: a 256-row
    LUT of constant-signal FLACs (driver-built with real CRCs,
    broadcast) joins to documents on ``n_chars % 256``, the blobs run
    through the Arrow-batched decode stage (STREAMINFO parse, frame
    header + CRC-8, CONSTANT subframe, frame CRC-16 → RMS profile),
    and DuckDB predicts the RMS arithmetically — exact for a constant
    signal (see :func:`_mm_decode_wav`).  At scale the broadcast is
    256 × 55 B; the decode stays a map-only stage."""
    from square_etl_spark.operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents")
    lut = spark.createDataFrame(
        [(s, bytearray(_constant_flac(s))) for s in range(256)],
        "sval int, content binary",
    )
    media = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 256).cast("int").alias("sval"),
        )
        # bcast-ok: lut = constant 256-row lookup table
        .join(F.broadcast(lut), on="sval")
        .select(
            "media_id",
            "content",
            F.struct(
                F.lit("audio").alias("media_type"),
                F.lit("flac").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(24).alias("duration_ms").cast("long"),
                F.lit(None).cast("string").alias("uri"),
            ).alias("meta"),
        )
    )
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_rms"),
    )


_register(
    QuerySpec(
        "multimodal_decode_flac",
        _mm_decode_flac,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(55 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 32768.0, 6) AS f_rms
        FROM documents
        """,
        doc="REAL FLAC codec decode, oracle-checked: CRC-verified frames end-to-end",
    )
)


def _mm_probe_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only metadata probe, oracle-hash-checked end-to-end: per
    document, CONSTRUCT a variable-geometry binary PPM in pure Column
    expressions (ASCII header + repeated printable gray byte — every
    byte derivable in SQL), then run
    :func:`square_etl_spark.operators.multimodal.probe_media`, which
    detects the container by magic bytes and reads the geometry from
    the header WITHOUT touching pixel payload.  DuckDB predicts every
    output column arithmetically (the header length varies with the
    digit counts of w and h — the oracle recomputes it with LENGTH).
    The at-scale story: probing is the cheap first pass that validates
    declared metadata across a 100 TB corpus before any decode compute
    is spent — map-only, header bytes only."""
    from square_etl_spark.operators.multimodal import probe_media

    docs = load_table(spark, sf_dir, "documents")
    w = (1 + F.col("n_chars") % 13).cast("int")
    h = (1 + F.col("n_chars") % 7).cast("int")
    v = (32 + F.col("n_chars") % 64).cast("int")  # printable → 1-byte UTF-8
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.lit("P6\n"), w.cast("string"), F.lit(" "),
                h.cast("string"), F.lit("\n255\n"),
                F.repeat(F.char(v), (w * h * 3).cast("int")),
            ),
            "UTF-8",
        ).alias("content"),
    )
    return probe_media(media)


_register(
    QuerySpec(
        "multimodal_probe_dimensions",
        _mm_probe_dimensions,
        oracle="""
        SELECT doc_id AS media_id,
               'ppm' AS detected_format,
               CAST(1 + n_chars % 13 AS INTEGER) AS width,
               CAST(1 + n_chars % 7 AS INTEGER) AS height,
               CAST(NULL AS INTEGER) AS sample_rate,
               CAST(9 + LENGTH(CAST(1 + n_chars % 13 AS VARCHAR))
                      + LENGTH(CAST(1 + n_chars % 7 AS VARCHAR))
                      + 3 * (1 + n_chars % 13) * (1 + n_chars % 7)
                    AS BIGINT) AS n_bytes,
               true AS ok
        FROM documents
        """,
        doc="header-only metadata probe, oracle-checked: constructed PPMs, predicted geometry",
    )
)


def _mm_probe_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 manifest probe, oracle-hash-checked: per document CONSTRUCT
    a variable MPEG-audio blob in pure Column expressions (hex string
    → unhex; every byte derivable in SQL): an optional ID3v2 tag
    (presence and pad length vary), an MPEG1 Layer-III frame header
    whose bitrate/sample-rate indexes vary, and a variable zero
    payload.  probe_av_manifest parses the tag, frame sync, bitrate
    table and CBR duration estimate — DuckDB predicts every column
    arithmetically.  This is the manifest pass a 100 TB audio corpus
    runs while the payload DECODE stays stubbed (no codec libs):
    total hours and bitrate histograms before any decode compute."""
    from square_etl_spark.operators.multimodal import probe_av_manifest

    docs = load_table(spark, sf_dir, "documents")
    tag = (F.col("n_chars") % 50).cast("int")
    br_idx = (1 + F.col("n_chars") % 14).cast("int")
    sr_idx = (F.col("n_chars") % 3).cast("int")
    payload = (60 + F.col("n_chars") % 100).cast("int")
    id3_hex = F.concat(
        F.lit("494433030000000000"),  # "ID3", v2.3.0, flags 0, size hi-bytes
        F.lpad(F.hex(tag), 2, "0"),
        F.repeat(F.lit("00"), tag),
    )
    frame_hex = F.concat(
        F.lit("FFFB"),  # MPEG1 Layer III, no CRC
        F.lpad(F.hex(br_idx * 16 + sr_idx * 4), 2, "0"),
        F.lit("00"),
        F.repeat(F.lit("00"), payload),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(
                F.when(F.col("n_chars") % 2 == 0, id3_hex).otherwise(F.lit("")),
                frame_hex,
            )
        ).alias("content"),
    )
    return probe_av_manifest(media)


_BR_V1L3 = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"

_register(
    QuerySpec(
        "multimodal_probe_mp3",
        _mm_probe_mp3,
        oracle=f"""
        SELECT doc_id AS media_id,
               'mp3' AS detected_format,
               CAST(([44100,48000,32000])[CAST(1 + n_chars % 3 AS INTEGER)]
                    AS INTEGER) AS sample_rate,
               CAST(({_BR_V1L3})[CAST(1 + n_chars % 14 AS INTEGER)]
                    AS INTEGER) AS bitrate_kbps,
               CAST(((4 + 60 + n_chars % 100) * 8)
                    // /*nz: V1L3 bitrates are all positive*/
                    ({_BR_V1L3})[CAST(1 + n_chars % 14 AS INTEGER)]
                    AS BIGINT) AS duration_ms,
               CAST(NULL AS INTEGER) AS n_tracks,
               CAST(CASE WHEN n_chars % 2 = 0 THEN 10 + n_chars % 50
                         ELSE 0 END
                    + 4 + 60 + n_chars % 100 AS BIGINT) AS n_bytes,
               true AS ok
        FROM documents
        """,
        doc="MP3 manifest probe: ID3 skip + frame-header bitrate/rate + CBR duration, all predicted arithmetically",
    )
)


def _mm_probe_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 manifest probe, oracle-hash-checked: per document CONSTRUCT
    a variable ISO-BMFF box tree in pure Column expressions (ftyp +
    moov containing an mvhd with varying timescale/duration and a
    varying number of trak boxes), probe the movie duration
    (timescale units → ms) and track count via the header-only box
    walk — the video-corpus manifest pass (total hours, shard
    duration budgets) that runs while frame DECODE stays stubbed."""
    from square_etl_spark.operators.multimodal import probe_av_manifest

    docs = load_table(spark, sf_dir, "documents")
    n_trak = (1 + F.col("n_chars") % 3).cast("int")
    ts = (600 + 400 * (F.col("n_chars") % 2)).cast("int")
    dur = (F.col("n_chars") % 5000).cast("int")
    mvhd_hex = F.concat(
        F.lit("0000001C6D766864"),  # size 28, 'mvhd'
        F.lit("00" * 12),  # version/flags, ctime, mtime
        F.lpad(F.hex(ts), 8, "0"),
        F.lpad(F.hex(dur), 8, "0"),
    )
    moov_hex = F.concat(
        F.lpad(F.hex(8 + 28 + 8 * n_trak), 8, "0"),
        F.lit("6D6F6F76"),  # 'moov'
        mvhd_hex,
        F.repeat(F.lit("000000087472616B"), n_trak),  # empty 'trak' boxes
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(
                F.lit("000000106674797069736F6D00000000"),  # ftyp isom
                moov_hex,
            )
        ).alias("content"),
    )
    return probe_av_manifest(media)


_register(
    QuerySpec(
        "multimodal_probe_mp4",
        _mm_probe_mp4,
        oracle="""
        SELECT doc_id AS media_id,
               'mp4' AS detected_format,
               CAST(NULL AS INTEGER) AS sample_rate,
               CAST(NULL AS INTEGER) AS bitrate_kbps,
               CAST((n_chars % 5000) * 1000
                    // /*nz: timescale is 600 or 1000*/
                    (600 + 400 * (n_chars % 2)) AS BIGINT) AS duration_ms,
               CAST(1 + n_chars % 3 AS INTEGER) AS n_tracks,
               CAST(16 + 8 + 28 + 8 * (1 + n_chars % 3) AS BIGINT) AS n_bytes,
               true AS ok
        FROM documents
        """,
        doc="MP4 manifest probe: mvhd duration + trak count from the box walk, predicted arithmetically",
    )
)


#: constant hex fragments of the two-page Ogg probe blobs — id page
#: (Vorbis \\x01vorbis @44100 / Opus OpusHead pre-skip 312 @48000)
#: and the EOS data page split around its variable granule field.
_OGG_P1_VORBIS_HEX = (
    "4f67675300020000000000000000010203040000000000000000011801766f"
    "72626973000000000044ac00000000000000000000"
)
_OGG_P1_OPUS_HEX = (
    "4f6767530002000000000000000001020304000000000000000001134f7075"
    "73486561640102380180bb0000000000"
)
_OGG_P2_PRE_HEX = "4f6767530004"  # "OggS", version 0, header-type EOS
_OGG_P2_POST_HEX = "010203040100000000000000010464617461"  # serial…"data"


def _mm_probe_ogg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg duration probe, oracle-hash-checked: per document CONSTRUCT
    a complete two-page Ogg stream in pure Column expressions (hex →
    unhex) — a Vorbis id page (even doc_id, 44.1 kHz) or an Opus id
    page (odd doc_id, pre-skip 312) followed by an EOS data page whose
    64-bit little-endian granule position varies with the document.
    ``probe_av_manifest`` walks the pages to the last complete
    granule and converts: Vorbis granule = PCM samples at the id rate;
    Opus granule is 48 kHz minus pre-skip.  Granules are chosen so
    DuckDB predicts every duration exactly (441·k samples @44100 =
    10·k ms; 480·k + 312 @48k − 312 pre-skip = 10·k ms).  The at-scale
    story: total-hours manifests over an A/V corpus whose payload
    decode stays stubbed — header/page bytes only, map-only."""
    from square_etl_spark.operators.multimodal import probe_av_manifest

    docs = load_table(spark, sf_dir, "documents")
    k = (1 + F.col("n_chars") % 200).cast("long")
    g = F.when(F.col("doc_id") % 2 == 0, k * 441).otherwise(k * 480 + 312)
    # 64-bit little-endian granule as hex (values < 2^24 here)
    granule_hex = F.concat(
        F.lpad(F.hex(g % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(g, 8) % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(g, 16) % 256), 2, "0"),
        F.lit("00" * 5),
    )
    p1 = F.when(
        F.col("doc_id") % 2 == 0, F.lit(_OGG_P1_VORBIS_HEX)
    ).otherwise(F.lit(_OGG_P1_OPUS_HEX))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(p1, F.lit(_OGG_P2_PRE_HEX), granule_hex,
                     F.lit(_OGG_P2_POST_HEX))
        ).alias("content"),
    )
    return probe_av_manifest(media)


_register(
    QuerySpec(
        "multimodal_probe_ogg",
        _mm_probe_ogg,
        oracle="""
        SELECT doc_id AS media_id,
               'ogg' AS detected_format,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 44100
                         ELSE 48000 END AS INTEGER) AS sample_rate,
               CAST(NULL AS INTEGER) AS bitrate_kbps,
               CAST(10 * (1 + n_chars % 200) AS BIGINT) AS duration_ms,
               CAST(NULL AS INTEGER) AS n_tracks,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 84
                         ELSE 79 END AS BIGINT) AS n_bytes,
               true AS ok
        FROM documents
        """,
        doc="Ogg Vorbis/Opus duration probe: page walk to the last granule, "
        "pre-skip handled, every column predicted arithmetically",
    )
)


def _gif_2frame_parts() -> tuple[bytes, bytes]:
    """Constant (prefix, suffix) of a 2-frame 2×2 animated GIF89a whose
    single variable run — the 6-byte global color table, two gray
    entries ``g,g,g,h,h,h`` — sits between them.  Frame 1 paints the
    full canvas with palette index 0 (color g); frame 2 is a full-rect
    image whose pixels are ``[0,0,0,1]`` with a Graphic Control
    Extension declaring index 0 TRANSPARENT, so composition leaves
    three canvas pixels at g and sets the bottom-right to h — the
    oracle-checked bytes ride LZW decode, GCE transparency, and
    cross-frame canvas persistence, not just a single-image parse.
    The LZW streams emit CLEAR before every pixel code so all codes
    stay 3-bit (no width growth) and the data is a pure constant."""

    def pack3(codes: list[int]) -> bytes:
        acc = bits = 0
        out = bytearray()
        for c in codes:  # GIF packs codes LSB-first
            acc |= c << bits
            bits += 3
            while bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
        if bits:
            out.append(acc & 0xFF)
        return bytes(out)

    # header + logical screen (2×2, GCT flag, 2 entries, bg index 0)
    prefix = (
        b"GIF89a"
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0xF0, 0x00, 0x00])
    )
    desc_full = (
        bytes([0x2C])
        + (0).to_bytes(2, "little") * 2
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + b"\x00"
    )
    # min_code=2 → codes 3-bit: CLEAR=4, EOI=5, literals 0/1
    lzw1 = pack3([4, 0, 4, 0, 4, 0, 4, 0, 5])  # pixels 0,0,0,0
    lzw2 = pack3([4, 0, 4, 0, 4, 0, 4, 1, 5])  # pixels 0,0,0,1
    gce_plain = bytes([0x21, 0xF9, 0x04, 0x00, 0x0A, 0x00, 0x00, 0x00])
    gce_transp0 = bytes([0x21, 0xF9, 0x04, 0x01, 0x0A, 0x00, 0x00, 0x00])
    suffix = (
        gce_plain + desc_full + bytes([2, len(lzw1)]) + lzw1 + b"\x00"
        + gce_transp0 + desc_full + bytes([2, len(lzw2)]) + lzw2 + b"\x00"
        + b"\x3B"
    )
    return prefix, suffix


def _gif_2frame_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constructed 2-frame animated-GIF media relation both GIF
    queries share (ONE definition — the palette splice and meta struct
    are oracle-pinned in two queries and must not drift apart): per
    document, the constant GIF structure from :func:`_gif_2frame_parts`
    with the 6-byte palette ``g,g,g,h,h,h`` spliced in, where
    g = n_chars % 256 and h = (31·n_chars + 7) % 256."""
    prefix, suffix = _gif_2frame_parts()
    docs = load_table(spark, sf_dir, "documents")
    g = F.col("n_chars") % 256
    h = (F.col("n_chars") * 31 + 7) % 256
    bg, bh = _byte_col(g), _byte_col(h)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(prefix), bg, bg, bg, bh, bh, bh, F.lit(suffix)).alias(
            "content"
        ),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("gif").alias("format"),
            F.lit(2).alias("width"),
            F.lit(2).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )


def _mm_decode_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANIMATED-GIF frame path, oracle-hash-checked end-to-end:
    per document, CONSTRUCT a 2-frame animated GIF in pure Column
    expressions (constant structure, the 6-byte palette ``g,g,g,h,h,h``
    spliced in with g = n_chars % 256, h = (31·n_chars + 7) % 256),
    run it through the Arrow-batched decode stage as a VIDEO asset
    (canvas composition with GCE transparency, then the 16-window
    temporal luminance profile), and emit the first and last windows.
    With 2 frames the integer-split windows are frame 1 for windows
    1-8 and frame 2 for 9-16, so DuckDB predicts both arithmetically:
    frame 1 is uniform g → g/255; frame 2 keeps three canvas pixels
    at g (transparent index) and one at h → (3g+h)/1020.  Same
    constructed-blob technique as :func:`_mm_decode_tiff`, but the
    bytes ride the multi-frame composition path the frame sampler
    uses (the reference has no media decode — this is §2.10 extension
    surface; per-row work is an Arrow stage here, and blobs never
    join a shuffle)."""
    from square_etl_spark.operators.multimodal import decode_media

    media = _gif_2frame_media(spark, sf_dir)
    return decode_media(media).select(
        "media_id",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_first"),
        F.element_at("features", 16).alias("f_last"),
    )


_register(
    QuerySpec(
        "multimodal_decode_gif_frames",
        _mm_decode_gif_frames,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(70 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((n_chars % 256) / 255.0, 6) AS f_first,
               ROUND((3 * (n_chars % 256) + (n_chars * 31 + 7) % 256)
                     / 1020.0, 6) AS f_last
        FROM documents
        """,
        doc="REAL animated-GIF canvas composition, oracle-checked: LZW + transparency end-to-end",
    )
)


def _mm_probe_then_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-then-decode COMPOSITION, oracle-hash-checked: the
    documented 100 TB posture (SCALING.md) run as ONE query instead of
    two separately-checked stages.  A mixed-format corpus is
    constructed per document (n_chars % 3 picks: a decodable 1×1
    binary PPM, a valid WAV, or junk bytes), every row's declared
    metadata LIES (``format='png'``), and the pipeline is:

    1. header-only :func:`probe_media` over the whole corpus — magic
       bytes only, no payload decode;
    2. filter the manifest to ``ok AND detected_format = 'ppm'`` —
       the probe predicate;
    3. LEFT SEMI join the selection back to the media (at scale: the
       second pass re-reads only selected blobs; the semi join is the
       pushdown mechanism — the decode stage's input IS the filtered
       set, so no decode compute is spent on WAV or junk rows);
    4. detection-based :func:`decode_media(detect=True)` (declared
       'png' would quarantine — detection routes to the PPM parser);
    5. join decoded features to the manifest's probed geometry.

    The oracle predicts the surviving rows (exactly the n_chars%3==0
    documents) AND their values, so a green row certifies the decoded
    row count equals the probe-selected count — the pushdown proof —
    plus the composed values end-to-end."""
    from square_etl_spark.operators.multimodal import (
        decode_media,
        probe_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    v = (32 + F.col("n_chars") % 64).cast("int")  # printable → 1-byte UTF-8
    ppm = F.encode(
        F.concat(F.lit("P6\n1 1\n255\n"), F.repeat(F.char(v), 3)), "UTF-8"
    )
    wav = F.lit(_WAV_16BIT_HEADER + b"\x00" * 64)
    junk = F.lit(b"NOT-A-MEDIA-CONTAINER")
    branch = F.col("n_chars") % 3
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(branch == 0, ppm).when(branch == 1, wav).otherwise(junk).alias(
            "content"
        ),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("png").alias("format"),  # deliberately wrong for all
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )
    manifest = probe_media(media)
    selected = manifest.filter(
        F.col("ok") & (F.col("detected_format") == "ppm")
    ).select("media_id", "detected_format", "width", "height")
    decoded = decode_media(
        media.join(selected.select("media_id"), on="media_id", how="left_semi"),
        detect=True,
    )
    return decoded.join(selected, on="media_id").select(
        "media_id",
        "detected_format",
        "width",
        "height",
        "n_bytes",
        "ok",
        F.element_at("features", 1).alias("f_gray"),
    )


_register(
    QuerySpec(
        "multimodal_probe_then_decode",
        _mm_probe_then_decode,
        oracle="""
        SELECT doc_id AS media_id,
               'ppm' AS detected_format,
               CAST(1 AS INTEGER) AS width,
               CAST(1 AS INTEGER) AS height,
               CAST(14 AS BIGINT) AS n_bytes,
               true AS ok,
               ROUND((32 + n_chars % 64) / 255.0, 6) AS f_gray
        FROM documents
        WHERE n_chars % 3 = 0
        """,
        doc="probe→filter→semi-join→detect-decode composition: decode input pinned to probe selection",
    )
)


def _mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling 1-to-N explode, oracle-hash-checked: the
    same constructed 2-frame animated GIF as
    :func:`_mm_decode_gif_frames` runs through
    :func:`square_etl_spark.operators.multimodal.sample_frames`
    (mapInPandas generator semantics — each asset yields one row per
    composed canvas snapshot), and per frame the query emits byte
    length plus the FIRST and LAST raw RGB bytes, extracted JVM-side
    with ``substring``/``hex``/``conv`` so the blob never reaches a
    Python row loop.  The canvas math makes both endpoints
    predictable: every frame starts at pixel (0,0) = g; frame 1 ends
    at g, frame 2's transparent composition ends at h — so a green
    row certifies expansion cardinality (exactly 2 rows per asset),
    frame ordering, and the composed pixel content at both ends of
    each snapshot."""
    from square_etl_spark.operators.multimodal import sample_frames

    media = _gif_2frame_media(spark, sf_dir)
    frames = sample_frames(media, max_frames=8)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").alias("n_frame_bytes"),
        F.conv(F.hex(F.substring("frame", 1, 1)), 16, 10)
        .cast("long")
        .alias("first_byte"),
        F.conv(F.hex(F.substring("frame", 12, 1)), 16, 10)
        .cast("long")
        .alias("last_byte"),
    )


_register(
    QuerySpec(
        "multimodal_frame_sample",
        _mm_frame_sample,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(g.i AS INTEGER) AS frame_idx,
               CAST(12 AS INTEGER) AS n_frame_bytes,
               CAST(n_chars % 256 AS BIGINT) AS first_byte,
               CAST(CASE WHEN g.i = 0 THEN n_chars % 256
                    ELSE (n_chars * 31 + 7) % 256 END AS BIGINT) AS last_byte
        FROM documents, generate_series(0, 1) g(i)
        """,
        doc="frame-sampler 1-to-N explode: cardinality, ordering, composed endpoints oracle-pinned",
    )
)


def _mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode-aware resize stage, oracle-hash-checked: per
    document, CONSTRUCT a 2×2 binary PPM whose corner pixels are
    g (top-left) and h (bottom-right) with black elsewhere, resize to
    4×4 through :func:`resize_images` (real decode → nearest-neighbor
    resample → raw RGB out), and emit the contract columns plus the
    first/last bytes of the resampled blob.  Nearest-neighbor 2×2→4×4
    maps destination rows/cols [0,0,1,1] to source, so byte 1 is g
    (from source (0,0)) and byte 48 is h (from source (1,1)) — DuckDB
    predicts the whole row arithmetically, pinning decode, the
    index-map resample, and the width·height·3 size contract in one
    hash."""
    from square_etl_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    g = F.col("n_chars") % 256
    h = (F.col("n_chars") * 31 + 7) % 256
    bg, bh = _byte_col(g), _byte_col(h)
    zero3 = F.lit(b"\x00\x00\x00")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(b"P6\n2 2\n255\n"), bg, bg, bg, zero3, zero3, bh, bh, bh
        ).alias("content"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("ppm").alias("format"),
            F.lit(2).alias("width"),
            F.lit(2).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )
    resized = resize_images(media, width=4, height=4)
    return resized.select(
        "media_id",
        "width",
        "height",
        "channels",
        F.length("content").alias("n_bytes"),
        F.conv(F.hex(F.substring("content", 1, 1)), 16, 10)
        .cast("long")
        .alias("first_byte"),
        F.conv(F.hex(F.substring("content", 48, 1)), 16, 10)
        .cast("long")
        .alias("last_byte"),
    )


_register(
    QuerySpec(
        "multimodal_resize",
        _mm_resize,
        oracle="""
        SELECT doc_id AS media_id,
               CAST(4 AS INTEGER) AS width,
               CAST(4 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(48 AS INTEGER) AS n_bytes,
               CAST(n_chars % 256 AS BIGINT) AS first_byte,
               CAST((n_chars * 31 + 7) % 256 AS BIGINT) AS last_byte
        FROM documents
        """,
        doc="decode-aware nearest-neighbor resize, oracle-checked: corner-pixel index map + size contract",
    )
)


def _mm_features_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → relational composition, oracle-checked end-to-end:
    the decoded feature stream (real BMP codec over constructed blobs,
    :func:`_mm_decode_bmp`) joins BACK to the documents table and
    aggregates per language — the shape of any real extract-features-
    then-analyze pipeline (decode is a map-only Arrow stage; the join
    is key-sized; the agg is a partial-aggregated shuffle on lang).
    Feature sums go through DECIMAL(18,6) so both engines add exactly
    (float summation order would differ); the hash therefore certifies
    decode + join + aggregation together."""
    feats = _mm_decode_bmp(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "lang"
    )
    return (
        feats.join(docs, on="media_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("f_gray").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_f_gray"),
        )
        .orderBy("lang")
    )


_register(
    QuerySpec(
        "multimodal_features_by_lang",
        _mm_features_by_lang,
        oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(ROUND((n_chars % 256) / 255.0, 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sum_f_gray
        FROM documents
        GROUP BY lang
        ORDER BY lang
        """,
        doc="decode -> join -> agg composition, full hash via exact decimal sums",
    )
)


def _approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


_register(
    QuerySpec(
        "approx_distinct_users",
        _approx_users,
        oracle=None,  # HLL++ estimate differs from DuckDB's sketch
        doc="approx_count_distinct / HLL++ (rows-only check)",
    )
)


def _kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ORACLE-CHECKABLE approximate distinct (r05): a KMV
    (k-minimum-values) sketch over md5 hashes — keep the k smallest
    32-bit hash values of the distinct keys per group; if fewer than k
    exist the count is exact, else estimate (k−1)·2³²⁄x₍ₖ₎ (the
    classic bottom-k estimator).  Everything is portable arithmetic,
    so DuckDB recomputes the IDENTICAL estimate — the approximate-
    aggregate analog of the other r05 oracle upgrades, complementing
    `approx_distinct_users` which keeps demonstrating Spark's native
    HLL++ (whose estimate is engine-specific by nature).  KMV sketches
    are mergeable (union = k smallest of the union), so the same
    construction slots into the incremental-rollup pattern; at scale
    the per-group k-smallest is one grouped shuffle of pre-deduped
    32-bit keys."""
    K = 64
    e = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # NULL user_id → NULL hash: drop it (COUNT DISTINCT semantics) —
    # Spark ranks NULLs FIRST ascending, DuckDB LAST, so an unfiltered
    # NULL burns a bottom-k slot on one engine only (r07 advice)
    dh = (
        e.select("event_type", h.alias("hv"))
        .filter(F.col("hv").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy(F.col("hv").asc())
    kept = dh.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth"))
        .select(
            "event_type",
            F.when(F.col("n") < K, F.col("n"))
            .otherwise(
                F.round(F.lit(float(K - 1)) * F.lit(4294967296.0) / F.col("kth"))
            )
            .cast("long")
            .alias("approx_users"),
        )
        .orderBy("event_type")
    )


_register(
    QuerySpec(
        "approx_distinct_kmv",
        _kmv_users,
        oracle="""
        WITH h AS (
          SELECT DISTINCT event_type,
            list_sum(list_transform(generate_series(1, 8),
              p -> (CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), p, 1))
                    AS BIGINT) - 1)
                   * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))
              AS hv
          FROM events),
        r AS (
          SELECT event_type, hv,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY hv) AS rk
          FROM h WHERE hv IS NOT NULL),
        k AS (
          SELECT event_type, COUNT(*) AS n, MAX(hv) AS kth
          FROM r WHERE rk <= 64 GROUP BY event_type)
        SELECT event_type,
               CAST(CASE WHEN n < 64 THEN n
                    ELSE ROUND(63.0 * 4294967296.0 / NULLIF(kth, 0)) END AS BIGINT)
                 AS approx_users
        FROM k ORDER BY event_type
        """,
        doc="KMV bottom-k distinct sketch: deterministic, oracle-recomputed estimate",
    )
)


def _incremental_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type maintained across three
    incremental refreshes via the KMV bottom-k monoid
    (operators/aggregations.incremental_kmv) — the FULL-ORACLE
    upgrade of incremental_hll_users: bottom-k-of-union is an exact
    mergeable fold in portable md5 arithmetic, so maintain ≡ one-shot
    holds exactly and the oracle is the SAME SQL as the one-shot KMV
    query (approx_distinct_kmv) over all events."""
    from square_etl_spark.operators.aggregations import (
        incremental_kmv,
        kmv_estimate,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    state = None
    for i in range(3):
        batch = e.filter(F.col("event_id") % 3 == i).drop("event_id")
        state = incremental_kmv(state, batch, ["event_type"], "user_id")
    return state.select(
        "event_type", kmv_estimate().alias("approx_users")
    ).orderBy("event_type")


_register(
    QuerySpec(
        "incremental_kmv_users",
        _incremental_kmv_users,
        oracle="""
        WITH h AS (
          SELECT DISTINCT event_type,
            list_sum(list_transform(generate_series(1, 8),
              p -> (CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), p, 1))
                    AS BIGINT) - 1)
                   * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))
              AS hv
          FROM events),
        r AS (
          SELECT event_type, hv,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY hv) AS rk
          FROM h WHERE hv IS NOT NULL),
        k AS (
          SELECT event_type, COUNT(*) AS n, MAX(hv) AS kth
          FROM r WHERE rk <= 64 GROUP BY event_type)
        SELECT event_type,
               CAST(CASE WHEN n < 64 THEN n
                    ELSE ROUND(63.0 * 4294967296.0 / NULLIF(kth, 0)) END AS BIGINT)
                 AS approx_users
        FROM k ORDER BY event_type
        """,
        bench=True,
        doc="incremental distinct via KMV bottom-k monoid: maintain ≡ one-shot, FULL oracle",
    )
)


def _weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample_ares): 40 documents per
    language, inclusion ∝ document length — the "sample ∝ quality
    score" recipe every curriculum/mixing pipeline needs, in portable
    md5-uniform + ln(u)/w arithmetic the oracle recomputes row for
    row."""
    from square_etl_spark.operators.sampling import weighted_sample_ares

    d = load_table(spark, sf_dir, "documents")
    out = weighted_sample_ares(
        d,
        "lang",
        "doc_id",
        F.greatest(F.length("text"), F.lit(1)).cast("double"),
        40,
    )
    return out.select("lang", "doc_id", "priority")


_register(
    QuerySpec(
        "weighted_sample_docs",
        _weighted_sample_docs,
        oracle="""
        WITH h AS (
          SELECT doc_id, lang,
                 GREATEST(LENGTH(text), 1) AS w,
                 list_sum(list_transform(generate_series(1, 8),
                   p -> (CAST(strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), p, 1))
                         AS BIGINT) - 1)
                        * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))
                   AS hv
          FROM documents),
        p AS (
          SELECT doc_id, lang,
                 ln((hv + 0.5) / 4294967296.0)
                   / /*nz: GREATEST(…, 1) ≥ 1*/ CAST(w AS DOUBLE) AS pri
          FROM h),
        r AS (
          SELECT doc_id, lang, pri,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY pri DESC, doc_id) AS rk
          FROM p)
        SELECT lang, doc_id, ROUND(pri, 9) AS priority
        FROM r WHERE rk <= 40
        """,
        doc="A-Res weighted sampling per stratum: md5-uniform + ln(u)/w priorities, oracle row-for-row",
    )
)


def _attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style touch attribution: every purchase attributes to
    the user's FIRST and LAST qualifying touch (view/click) within the
    preceding 7 days — one RANGE-framed window per bound, both sharing
    the user partitioning (one Exchange), no self-join.  Purchases
    with no touch in the window report NULLs (organic conversions).
    Identical frame arithmetic on both engines: RANGE BETWEEN 604800
    PRECEDING AND 1 PRECEDING over epoch seconds — strictly-before,
    so a same-second touch does not attribute."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    touch_sec = F.when(
        F.col("event_type").isin("view", "click"), sec
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-604800, -1)
    )
    scored = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.min(touch_sec).over(w).alias("first_touch_sec"),
        F.max(touch_sec).over(w).alias("last_touch_sec"),
    )
    return scored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.timestamp_seconds("first_touch_sec").alias("first_touch_ts"),
        F.timestamp_seconds("last_touch_sec").alias("last_touch_ts"),
        (F.col("first_touch_sec").isNull()).alias("organic"),
    )


_register(
    QuerySpec(
        "attribution_first_last",
        _attribution_first_last,
        oracle="""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
                 CASE WHEN event_type IN ('view', 'click')
                      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END AS touch_sec
          FROM events),
        scored AS (
          SELECT event_id, user_id, event_type,
                 MIN(touch_sec) OVER (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
                   AS first_touch_sec,
                 MAX(touch_sec) OVER (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
                   AS last_touch_sec
          FROM e)
        SELECT event_id, user_id,
               make_timestamp(first_touch_sec * 1000000) AS first_touch_ts,
               make_timestamp(last_touch_sec * 1000000) AS last_touch_ts,
               first_touch_sec IS NULL AS organic
        FROM scored WHERE event_type = 'purchase'
        """,
        doc="7-day lookback first/last-touch attribution: RANGE-framed windows, one Exchange",
    )
)


def _bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (operators/text.bigram_logprob):
    mean −ln P(w | w_prev) under the corpus's own normalized bigram
    distribution — catches unlikely TRANSITIONS (shuffled/concatenated
    garbage) that unigram scoring misses.  Broadcast bigram table,
    decimal-exact per-doc mean, identical arithmetic on both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    return tx.bigram_logprob(d, "doc_id", "text")


_register(
    QuerySpec(
        "text_bigram_nll",
        _bigram_nll,
        oracle=r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             w -> w <> '') AS l
          FROM documents),
        p AS (
          SELECT doc_id,
                 UNNEST(list_transform(generate_series(2, len(l)),
                   i -> struct_pack(prev := l[i - 1], w := l[i]))) AS pr
          FROM t),
        pairs AS (SELECT doc_id, pr.prev AS prev, pr.w AS w FROM p),
        big AS (
          SELECT prev, w, COUNT(*) AS c2,
                 SUM(COUNT(*)) OVER (PARTITION BY prev) AS followers
          FROM pairs GROUP BY prev, w),
        scored AS (
          SELECT doc_id,
                 CAST(ROUND(-ln(c2 / /*nz: follower count >= 1*/ followers),
                            6) AS DECIMAL(18,6)) AS nll
          FROM pairs JOIN big USING (prev, w))
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
        FROM scored GROUP BY doc_id
        """,
        doc="bigram-LM NLL scoring: normalized transition probabilities, broadcast pair table",
    )
)


def _embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster quality diagnostic: per-label centroid (exact
    decimal mean per dimension), every vector's cosine to its label
    centroid, and a per-label summary — count, mean cosine, worst
    cosine, and the outlier vector achieving it (deterministic min
    vec_id tiebreak).  The standard "which docs don't belong to their
    cluster" sweep before training on labeled embeddings.

    Scale shape: one explode to (vec, dim) rows, one grouped mean on
    (label, dim) — label×dim-sized, broadcasts back — then per-vector
    decimal-sum dot products and one per-label rollup; never
    all-pairs, never a UDF.  Cross-engine exactness: every sum of
    double products rounds to 12 decimals into DECIMAL(38,12)
    accumulators (addition order cannot change the hash), and sqrt /
    divide are correctly-rounded IEEE ops identical on both
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d", "x"
        ),
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    cent = dims.groupBy("label", "d").agg(
        (F.sum(d12(F.col("x"))).cast("double") / F.count(F.lit(1))).alias(
            "c"
        )
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(d12(F.col("c") * F.col("c"))).cast("double")).alias(
            "nc"
        )
    )
    per_vec = (
        # bcast-ok: cent = k×d centroid table, bounded by cluster count
        dims.join(F.broadcast(cent), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(d12(F.col("x") * F.col("c"))).cast("double").alias("num"),
            F.sqrt(
                F.sum(d12(F.col("x") * F.col("x"))).cast("double")
            ).alias("nv"),
        )
        # bcast-ok: cnorm = k-row centroid-norm table
        .join(F.broadcast(cnorm), "label")
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("num")
                / F.when(
                    F.col("nv") * F.col("nc") > 0,
                    F.col("nv") * F.col("nc"),
                ),
                6,
            ).alias("cos"),
        )
    )
    # NULL cos (zero-norm vector or centroid) is excluded BEFORE the
    # rollup: Spark's min_by over struct(cos, vec_id) orders NULL
    # fields first while the DuckDB oracle's FIRST(... ORDER BY cos)
    # defaults NULLS LAST — a degenerate-input engine/oracle
    # divergence unless both sides drop the row (r07 advice).  A
    # zero-norm vector has no defined angle, so it has no place in a
    # cosine diagnostic anyway.
    return (
        per_vec.filter(F.col("cos").isNotNull())
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cos"),
            F.min("cos").alias("min_cos"),
            F.min_by(
                "vec_id", F.struct(F.col("cos"), F.col("vec_id"))
            ).alias("outlier_vec"),
        )
    )


_register(
    QuerySpec(
        "embedding_centroid_outliers",
        _embedding_centroid_outliers,
        oracle="""
        WITH dims AS (
          SELECT vec_id, label, pr.d AS d, CAST(pr.x AS DOUBLE) AS x
          FROM (
            SELECT vec_id, label,
                   UNNEST(list_transform(generate_series(1, len(embedding)),
                     i -> struct_pack(d := i - 1, x := embedding[i]))) AS pr
            FROM embeddings)),
        cent AS (
          SELECT label, d,
                 CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS c
          FROM dims GROUP BY label, d),
        cnorm AS (
          SELECT label,
                 sqrt(CAST(SUM(CAST(ROUND(c * c, 12) AS DECIMAL(38,12)))
                           AS DOUBLE)) AS nc
          FROM cent GROUP BY label),
        per_vec AS (
          SELECT vec_id, label,
                 CAST(SUM(CAST(ROUND(x * c, 12) AS DECIMAL(38,12)))
                      AS DOUBLE) AS num,
                 sqrt(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))
                           AS DOUBLE)) AS nv
          FROM dims JOIN cent USING (label, d)
          GROUP BY vec_id, label),
        scored AS (
          SELECT vec_id, label,
                 ROUND(num / NULLIF(nv * nc, 0), 6) AS cos
          FROM per_vec JOIN cnorm USING (label))
        SELECT label,
               COUNT(*) AS n_vecs,
               ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_cos,
               MIN(cos) AS min_cos,
               FIRST(vec_id ORDER BY cos, vec_id) AS outlier_vec
        FROM scored WHERE cos IS NOT NULL GROUP BY label
        """,
        doc="per-label centroid + cosine-to-centroid outliers: decimal-exact, broadcast centroids",
    )
)

def _sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's Spark SQL surface: the same star-join revenue
    rollup as the flagship, written as SQL over registered views —
    Catalyst produces the identical plan either way, which is the
    point (DataFrame and SQL are one engine)."""
    from square_etl_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY r_name
        """
    )


_register(
    QuerySpec(
        "sql_api_revenue",
        _sql_api_revenue,
        oracle=f"""
        SELECT r_name,
               {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY r_name
        """,
        doc="spark.sql over registered views — same Catalyst plan as the DataFrame API",
    )
)


def _q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter on the dim, date windows on both
    facts, 3-way join, grouped revenue, top-10.  Customer is the
    broadcast side; the orders⋈lineitem join shuffles on the order key
    (the co-location key the bucketed layout optimizes — see
    tests/test_bucketing.py)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        c, o.o_custkey == c.c_custkey
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_register(
    QuerySpec(
        "q3_shipping_priority",
        _q3_shipping_priority,
        oracle=f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
        """,
        bench=True,
        doc="TPC-H Q3 shape: dim filter + two fact windows + top-k revenue",
    )
)


def _q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where customer and supplier must sit
    in the same nation.  All three dimension hops (customer, supplier,
    nation⋈region) broadcast; only the fact⋈fact join shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1996-01-01", "1998-01-01"
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        # bcast-ok: region = constant 5-row dim
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


_register(
    QuerySpec(
        "q5_local_supplier_volume",
        _q5_local_supplier,
        oracle=f"""
        SELECT n_name,
               {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
        """,
        doc="TPC-H Q5 shape: 6-way star join, same-nation supplier constraint",
    )
)

def _q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS against the fact table folded into a
    left-semi join, then a tiny group-count.  The semi join carries
    only order keys through the shuffle."""
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1997-01-01", "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    qualified = o.join(
        late.select("o_orderkey").distinct(),
        on="o_orderkey",
        how="left_semi",
    )
    return qualified.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_register(
    QuerySpec(
        "q4_priority_late_ship",
        _q4_priority_exists,
        oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """,
        doc="TPC-H Q4 shape: EXISTS folded into a keys-only semi join",
    )
)


def _q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1997-01-01", "1997-07-01"
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "lost_revenue"
            )
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_register(
    QuerySpec(
        "q10_returned_revenue",
        _q10_returned,
        oracle=f"""
        SELECT c_custkey, c_name, n_name,
               {_dsum("l_extendedprice * (1 - l_discount)")} AS lost_revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
        """,
        doc="TPC-H Q10 shape: returned-item revenue, top-k customers",
    )
)


def _q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    share).  Both the numerator's CASE and the ratio run on exact
    decimal sums so the single output row hash-matches the oracle."""
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "1997-01-01", "1997-04-01"
    )
    p = load_table(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return joined.agg(
        F.round(
            F.lit(100.0) * decimal_sum(promo) / decimal_sum(rev), 6
        ).alias("promo_revenue_pct")
    )


_register(
    QuerySpec(
        "q14_promo_share",
        _q14_promo_share,
        oracle=f"""
        SELECT ROUND(100.0 * {_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
                     / /*nz: sum of positive revenue per populated group*/ {_dsum("l_extendedprice * (1 - l_discount)")}, 6)
                 AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        """,
        doc="TPC-H Q14 shape: conditional-aggregate ratio on decimal sums",
    )
)


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregation, then enrich the
    qualifying keys.  The aggregation runs BEFORE the joins so only
    qualifying orders (p99) carry customer payload."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(decimal_sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty"
        )
    )


_register(
    QuerySpec(
        "q18_large_orders",
        _q18_large_orders,
        oracle=f"""
        WITH big AS (
          SELECT l_orderkey, {_dsum("l_quantity")} AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING {_dsum("l_quantity")} > 250)
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        """,
        doc="TPC-H Q18 shape: HAVING aggregate first, enrich survivors only",
    )
)

# ---------------------------------------------------------------------------
# TPC-H shapes, continued: scan-only agg (q6), nation-pair volume (q7),
# outer-join histogram (q13), agg-vs-max scalar subquery (q15), correlated
# per-key average (q17), disjunctive pushdown (q19), anti-join + scalar
# threshold (q22).  Each is a distinct PLAN pattern, not just another
# query: together with q1/q3/q4/q5/q10/q14/q18 they cover the full
# TPC-H-expressible surface of the fixture schema (no partsupp table, so
# q2/q9/q11/q16/q20 have no faithful translation — adapted or omitted).
# ---------------------------------------------------------------------------


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: scan-only filter + single aggregate — the purest
    pushdown test.  At 100 TB this plan is ONE stage: every predicate
    (shipdate window, discount band, quantity cap) reaches the parquet
    row-group statistics, no shuffle except the final 1-row reduce."""
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "1997-01-01", "1998-01-01"
    )
    return li.filter(
        (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        decimal_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


_register(
    QuerySpec(
        "q6_forecast_revenue",
        _q6_forecast_revenue,
        oracle=f"""
        SELECT {_dsum("l_extendedprice * l_discount")} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
        doc="TPC-H Q6 shape: all predicates pushed to the scan, one-stage agg",
    )
)


def _q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year.

    The two-nation disjunction ((A,B) or (B,A)) is rewritten as the
    equivalent conjunctive form — supplier nation ∈ {A,B} AND customer
    nation ∈ {A,B} AND different — so the IN-list filters apply to each
    dimension BEFORE the fact joins (Catalyst cannot extract this from
    the cross-side OR itself).  At scale that turns 'join everything
    then filter' into two tiny broadcast dimensions."""
    nations = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(nations))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            # bcast-ok: nation filtered to 2 names, ≤25 rows
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            # bcast-ok: nation filtered to 2 names, ≤25 rows
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "1996-01-01", "1998-01-01"
    )
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            )
        )
    )


_register(
    QuerySpec(
        "q7_nation_volume",
        _q7_nation_volume,
        oracle=f"""
        SELECT supp_nation, cust_nation, l_year, {_dsum("vol")} AS volume
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS vol
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name IN ('NATION_1', 'NATION_2')
            AND n2.n_name IN ('NATION_1', 'NATION_2')
            AND n1.n_name <> n2.n_name
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
        ) GROUP BY supp_nation, cust_nation, l_year
        """,
        doc="TPC-H Q7 shape: cross-side OR rewritten to per-dim IN filters",
    )
)


def _q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution.  The orders
    filter is applied BEFORE the left join (≡ the ON-clause predicate
    in the SQL form) so customers whose only orders are urgent still
    appear with count 0 — the outer-join-with-filtered-right pattern
    that a naive WHERE clause silently breaks."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_register(
    QuerySpec(
        "q13_custdist",
        _q13_custdist,
        oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        ) GROUP BY c_count
        """,
        doc="TPC-H Q13 shape: left join with ON-clause filter, count histogram",
    )
)


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: suppliers achieving the maximum windowed
    revenue.  The scalar-subquery MAX becomes a 1-row broadcast joined
    back on equality — no second scan of lineitem, and revenue values
    are exact decimal sums so cross-engine equality is well-defined."""
    li = windowed_scan(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "1997-01-01", "1997-04-01"
    )
    rev = li.groupBy("l_suppkey").agg(
        decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        # bcast-ok: mx = 1-row max aggregate
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_register(
    QuerySpec(
        "q15_top_supplier",
        _q15_top_supplier,
        oracle=f"""
        WITH rev AS (
          SELECT l_suppkey,
                 {_dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        doc="TPC-H Q15 shape: agg reused for both ranking and its own max",
    )
)


def _q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders far below a part's average
    quantity.  The correlated per-part AVG subquery becomes one window
    pass over the already-joined (brand-pruned) fact slice — correct
    because pruning PARTS drops no lineitems of surviving parts.  The
    average is computed as exact-decimal-sum / count, cast to double
    before dividing, so both engines evaluate the identical expression."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        joined.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((decimal_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


_register(
    QuerySpec(
        "q17_small_qty_revenue",
        _q17_small_qty_revenue,
        oracle=f"""
        SELECT {_dsum("l_extendedprice")} / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#5'
          AND l_quantity < 0.2 * (
            SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*)
            FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
        """,
        doc="TPC-H Q17 shape: correlated AVG as a single window pass",
    )
)


def _q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides.  Catalyst
    cannot push a cross-side disjunction, so the implied single-side
    envelopes are extracted by hand — part pruned to the three brands,
    lineitem to the quantity hull [1, 30] — before the broadcast join;
    the exact disjunction then filters the residue.  At 100 TB this is
    the difference between joining 3 brands' worth of parts and
    joining every part."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


_register(
    QuerySpec(
        "q19_disjunctive_pushdown",
        _q19_disjunctive,
        oracle=f"""
        SELECT {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
               AND l_quantity BETWEEN 20 AND 30)
        """,
        doc="TPC-H Q19 shape: hand-extracted single-side envelopes of an OR",
    )
)


def _q22_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, grouped by nation (the fixture's stand-in for Q22's phone
    country codes).  The global AVG threshold is a 1-row broadcast
    nested-loop join; the NOT EXISTS is a left-anti join against the
    date-pruned orders slice — no correlated re-scans anywhere."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    recent = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1999-01-01", None
    ).select("o_custkey")
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("thr")
    )
    return (
        # bcast-ok: thr = 1-row mean-threshold aggregate
        c.join(F.broadcast(thr), F.col("c_acctbal") > F.col("thr"))
        .drop("thr")
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            decimal_sum("c_acctbal").alias("totacctbal"),
        )
    )


_register(
    QuerySpec(
        "q22_dormant_rich",
        _q22_dormant_rich,
        oracle=f"""
        SELECT n_name, COUNT(*) AS numcust, {_dsum("c_acctbal")} AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*)
            FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY n_name
        """,
        doc="TPC-H Q22 shape: scalar threshold broadcast + anti join",
    )
)


# ---------------------------------------------------------------------------
# Derived partsupp: closes the q2/q11/q16/q20 gap (no partsupp fixture)
# ---------------------------------------------------------------------------


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H ``partsupp`` derived deterministically — the fixture ships
    no partsupp table, so the four queries that need one (q2/q11/q16/
    q20) build it from ``part`` × TPC-H's own supplier-assignment
    formula (4 suppliers per part, adapted to the fixture's 0-based
    keys): ``ps_suppkey = (p + i·(S/4 + p/S)) mod S``, with availqty
    and supply cost from modular arithmetic on the keys.  The oracle
    rebuilds the IDENTICAL table in SQL, so these are full value-hash
    checks, not fixtures of convenience.  Supply cost is kept in
    integer CENTS so every aggregate stays exact.  The supplier count
    is a bounded driver-side scalar (one count, like the quantization
    scales)."""
    S = load_table(spark, sf_dir, "supplier").count()
    pk = F.col("p_partkey")
    base = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
    )
    supp = (
        pk + F.col("i") * (F.lit(S // 4) + F.floor(pk / F.lit(S)).cast("long"))
    ) % F.lit(S)
    return base.select(
        pk.alias("ps_partkey"),
        supp.alias("ps_suppkey"),
        ((pk * 7 + supp * 3) % 9999 + 1).alias("ps_availqty"),
        ((pk * 17 + supp * 29) % 90000 + 10000).alias("ps_supplycost_cents"),
    )


#: oracle-side twin of _derived_partsupp (S folds in as a scalar
#: subquery so the same SQL is correct at every sf)
_PARTSUPP_CTE = """
        partsupp AS (
          SELECT p_partkey AS ps_partkey,
                 supp AS ps_suppkey,
                 (p_partkey * 7 + supp * 3) % 9999 + 1 AS ps_availqty,
                 (p_partkey * 17 + supp * 29) % 90000 + 10000
                   AS ps_supplycost_cents
          FROM (
            SELECT p_partkey,
                   (p_partkey + i * (S.s // 4 + p_partkey // /*nz: supplier count >= 1*/ S.s)) % S.s
                     AS supp
            FROM part
            CROSS JOIN (SELECT COUNT(*) AS s FROM supplier) S
            CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) g))
"""


def _q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for EUROPE suppliers of selected part sizes,
    keep only the supplier(s) matching the per-part MINIMUM supply
    cost — the correlated-subquery pattern expressed as a window min
    over the already-filtered join (one pass, no re-scan; Catalyst
    can't decorrelate what was never correlated).  Dimension chain
    supplier→nation→region collapses to a broadcast."""
    ps = _derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(15, 25, 35)
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = load_table(spark, sf_dir, "supplier").join(
        # bcast-ok: nation⋈region constant dims
        F.broadcast(
            # bcast-ok: region = constant 5-row dim
            n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey", "n_name")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    j = ps.join(
        p.select("p_partkey", "p_type"),
        ps.ps_partkey == F.col("p_partkey"),
    ).join(s, ps.ps_suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey")
    return (
        j.withColumn("min_cost", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("ps_supplycost_cents").cast("double") / 100.0).alias(
                "supplycost"
            ),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_register(
    QuerySpec(
        "q2_min_cost_supplier",
        _q2_min_cost_supplier,
        oracle=f"""
        WITH {_PARTSUPP_CTE.strip()},
        sn AS (
          SELECT s_suppkey, s_acctbal, s_name, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        j AS (
          SELECT sn.*, ps_partkey, ps_supplycost_cents,
                 MIN(ps_supplycost_cents)
                   OVER (PARTITION BY ps_partkey) AS min_cost
          FROM partsupp
          JOIN part ON ps_partkey = p_partkey
          JOIN sn ON ps_suppkey = s_suppkey
          WHERE p_size IN (15, 25, 35))
        SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey,
               CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
        FROM j WHERE ps_supplycost_cents = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """,
        doc="TPC-H Q2 shape: per-part min-cost supplier via window min",
    )
)


def _q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value for one nation's
    suppliers, kept when above a fixed fraction of the nation's total
    — the scalar-aggregate-threshold pattern.  All value arithmetic
    stays in integer cents, so the HAVING comparison is EXACT
    (value·1000 > total, no float boundary): the same
    determinism-first posture as decimal_sum.  The total rides a
    1-row broadcast cross join."""
    ps = _derived_partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    j = (
        ps.join(
            # one-nation supplier slice is SF-linear — size-stat planner
            # / AQE picks the strategy (no forced hint)
            s.join(
                # bcast-ok: nation filtered to one name, ≤25 rows
                F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
            ).select("s_suppkey"),
            ps.ps_suppkey == F.col("s_suppkey"),
        )
        .withColumn(
            "value_cents", F.col("ps_supplycost_cents") * F.col("ps_availqty")
        )
    )
    per_part = j.groupBy("ps_partkey").agg(
        F.sum("value_cents").alias("value_cents")
    )
    total = j.agg(F.sum("value_cents").alias("total_cents"))
    return (
        # bcast-ok: total = 1-row grand-total aggregate
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


_register(
    QuerySpec(
        "q11_important_stock",
        _q11_important_stock,
        oracle=f"""
        WITH {_PARTSUPP_CTE.strip()},
        j AS (
          SELECT ps_partkey,
                 ps_supplycost_cents * ps_availqty AS value_cents
          FROM partsupp
          JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_7'),
        pp AS (
          SELECT ps_partkey, SUM(value_cents) AS value_cents
          FROM j GROUP BY ps_partkey)
        SELECT ps_partkey,
               CAST(value_cents AS DOUBLE) / 100.0 AS value
        FROM pp
        WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM j)
        ORDER BY value DESC, ps_partkey
        """,
        doc="TPC-H Q11 shape: exact integer-cents threshold vs grand total",
    )
)


#: ship modes for the derived Q12 columns (sorted, 1-indexed in SQL)
_SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]


def _q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-receipt lines for selected ship modes,
    counted by order priority class.  The fixture ships no
    l_shipmode/l_commitdate/l_receiptdate, so — same policy as the
    derived partsupp quartet — they are DERIVED deterministically from
    the keys (mode = keyed pick of 7; commit = shipdate + (−15..44) d;
    receipt = shipdate + (1..30) d) and the oracle rebuilds identical
    columns, so this is a full value-hash check.  Plan shape is the
    point: all three predicates (IN-list, commit<receipt,
    ship<commit) evaluate map-side on derived columns before the
    orders join, the join carries only (l_orderkey, l_shipmode), and
    the two CASE counts partial-aggregate before the 7-group shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    # 31 is coprime with 7, so the mode genuinely mixes BOTH keys —
    # a *7 multiplier here would vanish under % 7 and collapse the
    # ship mode to a pure function of the line number (r06 review)
    key = F.col("l_orderkey") * 31 + F.col("l_linenumber")
    mode = F.element_at(
        F.array(*[F.lit(m) for m in _SHIP_MODES]),
        (key % 7 + 1).cast("int"),
    )
    commit_d = (F.col("l_orderkey") + 3 * F.col("l_linenumber")) % 60 - 15
    receipt_d = (F.col("l_orderkey") * 5 + F.col("l_linenumber")) % 30 + 1
    lx = li.select(
        "l_orderkey",
        mode.alias("l_shipmode"),
        (
            F.col("l_shipdate") + F.make_interval(days=commit_d.cast("int"))
        ).alias("l_commitdate"),
        (
            F.col("l_shipdate") + F.make_interval(days=receipt_d.cast("int"))
        ).alias("l_receiptdate"),
        "l_shipdate",
    ).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lx.join(o, lx.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


_register(
    QuerySpec(
        "q12_shipmode_priority",
        _q12_shipmode_priority,
        oracle="""
        WITH lx AS (
          SELECT l_orderkey,
                 (['AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK'])
                   [CAST((l_orderkey * 31 + l_linenumber) % 7 + 1 AS INTEGER)]
                   AS l_shipmode,
                 l_shipdate + ((l_orderkey + 3 * l_linenumber) % 60 - 15)
                   * INTERVAL 1 DAY AS l_commitdate,
                 l_shipdate + ((l_orderkey * 5 + l_linenumber) % 30 + 1)
                   * INTERVAL 1 DAY AS l_receiptdate,
                 l_shipdate
          FROM lineitem)
        SELECT l_shipmode,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lx JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipmode IN ('MAIL', 'SHIP')
          AND l_commitdate < l_receiptdate
          AND l_shipdate < l_commitdate
          AND l_receiptdate >= TIMESTAMP '1997-01-01'
          AND l_receiptdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_shipmode
        ORDER BY l_shipmode
        """,
        doc="TPC-H Q12 shape: derived ship columns, map-side predicates, 2-group conditional counts",
    )
)


def _q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, with a brand/type/size exclusion and a supplier blocklist
    applied as a broadcast ANTI join (the fixture has no s_comment, so
    the 'complaints' blocklist becomes negative-balance suppliers —
    same shape: exclude a computed supplier set)."""
    ps = _derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").startswith("MEDIUM"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(p, ps.ps_partkey == F.col("p_partkey"))
        .join(
            bad,
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


_register(
    QuerySpec(
        "q16_supplier_counts",
        _q16_supplier_counts,
        oracle=f"""
        WITH {_PARTSUPP_CTE.strip()}
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        doc="TPC-H Q16 shape: distinct counts with attribute + blocklist exclusion",
    )
)


def _q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding stock above
    half of what they actually shipped of that part in a window — the
    nested-exists pattern as a semi join against an aggregated
    subquery.  Quantity sums are exact (fixture quantities are
    integers in a double column; SUM stays exact far below 2^53)."""
    ps = _derived_partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1996-01-01"
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    excess = (
        ps.join(
            shipped,
            (ps.ps_partkey == F.col("l_partkey"))
            & (ps.ps_suppkey == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty").cast("double") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    s = load_table(spark, sf_dir, "supplier").join(
        # bcast-ok: nation filtered to one name, ≤25 rows
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        s.join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_register(
    QuerySpec(
        "q20_excess_stock_suppliers",
        _q20_excess_stock_suppliers,
        oracle=f"""
        WITH {_PARTSUPP_CTE.strip()},
        shipped AS (
          SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          GROUP BY l_partkey, l_suppkey),
        excess AS (
          SELECT DISTINCT ps_suppkey
          FROM partsupp
          JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          WHERE CAST(ps_availqty AS DOUBLE) > 0.5 * qty)
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (SELECT ps_suppkey FROM excess)
        ORDER BY s_suppkey
        """,
        doc="TPC-H Q20 shape: nested exists as semi join over aggregated shipments",
    )
)


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's import revenue
    by year — a ratio of two conditional decimal sums over a 6-table
    star join.  Every dimension chain (customer→nation→region,
    supplier→nation) collapses to a broadcast; the only shuffle is
    lineitem⋈orders and the final tiny groupBy."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            # bcast-ok: nation⋈region constant dims
            F.broadcast(
                n.join(
                    # bcast-ok: region = constant 5-row dim
                    F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            # bcast-ok: nation⋈region constant dims
            F.broadcast(
                n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name"))
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1996-01-01", "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(decimal_sum(nation_vol) / decimal_sum(vol), 6).alias("mkt_share")
        )
    )


_register(
    QuerySpec(
        "q8_market_share",
        _q8_market_share,
        oracle=f"""
        SELECT o_year,
               ROUND({_dsum("CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE 0.0 END")}
                     / /*nz: sum of positive revenue per populated group*/ {_dsum("vol")}, 6) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS vol,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region   ON n1.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'
        ) GROUP BY o_year
        """,
        doc="TPC-H Q8 shape: conditional-sum ratio over a 6-table star",
    )
)


def _q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    matching a name pattern.  The fixture has no partsupp table, so
    supply cost is stood in by 0.6·p_retailprice·l_quantity (cited in
    COVERAGE.md as an adaptation); the PLAN is faithful: substring
    pushdown on part, two broadcast dims, expression agg on the fact."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(decimal_sum(profit).alias("total_profit"))
    )


_register(
    QuerySpec(
        "q9_product_profit",
        _q9_product_profit,
        oracle=f"""
        SELECT supp_nation, o_year, {_dsum("profit")} AS total_profit
        FROM (
          SELECT n_name AS supp_nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - 0.6 * p_retailprice * l_quantity AS profit
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN part     ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%'
        ) GROUP BY supp_nation, o_year
        """,
        doc="TPC-H Q9 shape (adapted cost: no partsupp in fixtures)",
        bench=True,
    )
)


def _agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube
    (which are registered separately): per (status, priority), per
    status, and grand total in ONE pass over orders.  Spark plans a
    single Expand + one aggregation, not three scans."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        decimal_sum("o_totalprice").alias("total_price"),
    )


_register(
    QuerySpec(
        "agg_grouping_sets",
        _agg_grouping_sets,
        oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders, {_dsum("o_totalprice")} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """,
        doc="explicit grouping sets: three granularities in one Expand pass",
    )
)


# ---------------------------------------------------------------------------
# Remaining reference projections (P4/P5/P7) + observability counts (A2)
# ---------------------------------------------------------------------------


def _p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: tolerant numeric cast with validity filter + enum default
    (reference mapInventoryCountToRow, src/etl-square-inventory.ts:30-60:
    parseFloat+finite guard, state ?? 'UNKNOWN', ISO→timestamp)."""
    e = load_table(spark, sf_dir, "events")
    k = json_field("props", "$.k").try_cast("double")
    state = F.coalesce(json_field("props", "$.state"), F.lit("UNKNOWN"))
    return (
        e.select(
            "event_id",
            "ts",
            state.alias("state"),
            k.alias("quantity"),
        )
        .filter(F.col("quantity").isNotNull() & (F.col("quantity") > 0))
    )


_register(
    QuerySpec(
        "p4_cast_guard_default",
        _p4,
        oracle="""
        SELECT event_id, ts,
               COALESCE(json_extract_string(props, '$.state'), 'UNKNOWN') AS state,
               TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS quantity
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
          AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) > 0
        """,
        doc="tolerant cast + validity filter + enum default (P4)",
    )
)


def _p5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: literal defaults (reference mapCategoryToRow,
    src/etl-square-categories.ts:29-53: name ?? 'Unknown Category',
    is_top_level ?? true, parent_category_id = null)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.lit("unknown")).alias(
            "lang_name"
        ),
        F.lit(None).cast("bigint").alias("parent_id"),
        F.lit(True).alias("is_top_level"),
    )


_register(
    QuerySpec(
        "p5_literal_defaults",
        _p5,
        oracle="""
        SELECT doc_id,
               COALESCE(NULLIF(lang, ''), 'unknown') AS lang_name,
               CAST(NULL AS BIGINT) AS parent_id,
               TRUE AS is_top_level
        FROM documents
        """,
        doc="literal defaults + typed null column (P5)",
    )
)


def _p7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: type-dispatch — partition one scan into branches processed
    differently, then union (reference splits catalog objects by
    type === 'ITEM' vs 'ITEM_VARIATION', src/etl-square-catalog.ts:139,158).
    One scan feeds both filters; Catalyst reuses the exchange."""
    p = load_table(spark, sf_dir, "part")
    large = p.filter(F.col("p_size") >= 40).select(
        "p_partkey",
        F.lit("LARGE").alias("branch"),
        F.round(F.col("p_retailprice") * 1.10, 6).alias("adj_price"),
    )
    small = p.filter(F.col("p_size") <= 5).select(
        "p_partkey",
        F.lit("SMALL").alias("branch"),
        F.round(F.col("p_retailprice") * 0.90, 6).alias("adj_price"),
    )
    return large.unionByName(small)


_register(
    QuerySpec(
        "p7_type_dispatch",
        _p7,
        oracle="""
        SELECT p_partkey, 'LARGE' AS branch,
               ROUND(p_retailprice * 1.10, 6) AS adj_price
        FROM part WHERE p_size >= 40
        UNION ALL
        SELECT p_partkey, 'SMALL' AS branch,
               ROUND(p_retailprice * 0.90, 6) AS adj_price
        FROM part WHERE p_size <= 5
        """,
        doc="one scan dispatched into differently-projected branches (P7)",
    )
)


def _a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-stage observability counts (reference logs Fetched/
    Prepared/Upserted at every stage, e.g. src/etl-square-payments.ts:121,135).
    One conditional aggregation instead of N extra actions."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.sum(F.when(F.col("l_quantity") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_register(
    QuerySpec(
        "a2_stage_counts",
        _a2,
        oracle="""
        SELECT COUNT(*) AS n_fetched,
               CAST(SUM(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_valid,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_returned,
               COUNT(DISTINCT l_orderkey) AS n_orders
        FROM lineitem
        """,
        doc="stage observability counts in one conditional aggregation (A2)",
    )
)

# ---------------------------------------------------------------------------
# Window-function analytics (rank / lag / running totals)
# ---------------------------------------------------------------------------


def _window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value, with days since the
    customer's previous order — row_number + lag sharing one shuffle
    key (two sorts, one exchange)."""
    o = load_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    by_date = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(by_price).cast("long").alias("price_rank"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(by_date),
            )
            .cast("bigint")
            .alias("days_since_prev"),
        )
        .filter(F.col("price_rank") <= 3)
    )


_register(
    QuerySpec(
        "window_rank_lag",
        _window_rank,
        oracle="""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
                   AS price_rank,
                 CAST(date_diff('day',
                      LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey),
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
          FROM orders)
        WHERE price_rank <= 3
        """,
        doc="row_number + lag per customer, one shuffle two sorts",
    )
)


def _window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running spend per customer: prefix sum in a defined total order
    (orderdate, orderkey) — both engines add the same doubles in the
    same sequence, so the floats match bitwise."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 6).alias("running_spend"),
    )


_register(
    QuerySpec(
        "window_running_total",
        _window_running,
        oracle="""
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING), 6) AS running_spend
        FROM orders
        """,
        bench=True,
        doc="per-key prefix sums in one window pass",
    )
)


def _above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders above 1.2× their customer's
    average) as one window pass — no join, no subquery re-scan.  The
    average goes through an exact decimal sum so the threshold is
    order-independent."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        o.withColumn("cust_avg", F.round(cust_avg, 6))
        .filter(F.col("o_totalprice") > 1.2 * F.col("cust_avg"))
        .select("o_custkey", "o_orderkey", "o_totalprice", "cust_avg")
    )


_register(
    QuerySpec(
        "orders_above_cust_avg",
        _above_avg,
        oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, cust_avg FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                            OVER (PARTITION BY o_custkey) AS DOUBLE)
                       / COUNT(*) OVER (PARTITION BY o_custkey), 6) AS cust_avg
          FROM orders)
        WHERE o_totalprice > 1.2 * cust_avg
        """,
        doc="correlated-subquery semantics as a single window pass",
    )
)

# ---------------------------------------------------------------------------
# Semi / anti joins
# ---------------------------------------------------------------------------


def _semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: probe side streams, build side is
    the filtered orders keys — no payload duplication, no fanout."""
    c = load_table(spark, sf_dir, "customer")
    o97 = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    return c.join(o97, c.c_custkey == o97.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_register(
    QuerySpec(
        "join_semi_active",
        _semi,
        oracle="""
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND EXTRACT(year FROM o_orderdate) = 1997)
        """,
        doc="EXISTS via left-semi join (no fanout, keys-only build side)",
    )
)


def _anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join — the same shape the merge sink
    uses to find brand-new keys (sinks/merge.py)."""
    c = load_table(spark, sf_dir, "customer")
    o97 = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    return c.join(o97, c.c_custkey == o97.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_register(
    QuerySpec(
        "join_anti_dormant",
        _anti,
        oracle="""
        SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND EXTRACT(year FROM o_orderdate) = 1997)
        """,
        doc="NOT EXISTS via left-anti join",
    )
)

# ---------------------------------------------------------------------------
# Temporal joins: as-of + range (binned)
# ---------------------------------------------------------------------------


def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    return asof_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts"
    )


_register(
    QuerySpec(
        "asof_join_clicks",
        _asof,
        oracle="""
        SELECT e.user_id, e.event_id, e.ts,
               c.event_id AS asof_click_event_id,
               c.ts AS asof_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts >= c.ts
        """,
        bench=True,
        doc="backward as-of join via union + one window pass (no pair blowup)",
    )
)


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return range_join_binned(
        errors,
        clicks,
        on=["user_id"],
        left_ts="error_ts",
        right_ts="click_ts",
        lower_s=-600.0,
        upper_s=0.0,
    ).select("user_id", "error_id", "error_ts", "click_id", "click_ts")


_register(
    QuerySpec(
        "range_join_binned",
        _range_join,
        oracle="""
        SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts,
               c.event_id AS click_id, c.ts AS click_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id
         AND c.ts >  e.ts - INTERVAL 600 SECOND
         AND c.ts <= e.ts
        """,
        doc="interval join as bin equi-join + exact filter (no BNL join)",
    )
)


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize(e, "ts", ["user_id"], gap_s=1800.0)


_register(
    QuerySpec(
        "sessionize_events",
        _sessions,
        oracle="""
        WITH o AS (
          SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        m AS (
          SELECT user_id, ts,
                 CASE WHEN prev IS NULL
                           OR epoch(ts) - epoch(prev) > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM o),
        s AS (
          SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
          FROM m)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, session_id
        """,
        doc="gap-based sessionization: lag + prefix-sum + one aggregate",
    )
)


def _sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize_native(e, "ts", ["user_id"], "1800 seconds")


_register(
    QuerySpec(
        "sessionize_native_events",
        _sessions_native,
        # session_window's boundary is INCLUSIVE (merge iff diff <=
        # gap — a window ending at T absorbs an event starting at T;
        # measured + pinned in test_temporal_ops), identical to
        # sessionize_events — so the island SQL uses the same > test.
        oracle="""
        WITH o AS (
          SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        m AS (
          SELECT user_id, ts,
                 CASE WHEN prev IS NULL
                           OR epoch(ts) - epoch(prev) > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM o),
        s AS (
          SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
          FROM m)
        SELECT user_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, session_id
        """,
        doc="built-in session_window: session merge as a grouping expr, "
        "one Exchange, zero window functions; streaming-ready",
    )
)

# ---------------------------------------------------------------------------
# Cube + pivot
# ---------------------------------------------------------------------------


def _cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        decimal_sum("l_quantity").alias("sum_qty"),
        decimal_sum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_register(
    QuerySpec(
        "agg_cube",
        _cube,
        oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum("l_quantity")} AS sum_qty,
               {_dsum("l_extendedprice")} AS sum_price,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        doc="cube to all grouping sets, map-side partials intact",
    )
)


def _pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — no extra distinct-values
    job, stable output schema (required for a fixed-schema warehouse
    table and for the oracle's conditional-aggregation twin)."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pv = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


_register(
    QuerySpec(
        "pivot_event_counts",
        _pivot,
        oracle="""
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events GROUP BY user_id
        """,
        doc="pivot with explicit values == conditional aggregation",
    )
)

def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell
    (broadcast centroids, map-only), then probe only the query's cell —
    candidates shrink from N to ~N/cells, and the index is just a
    partitioning key.  Deterministic centroid choice (first 8 vectors)
    keeps the query oracle-expressible; a production build would k-means
    the centroids and write the index partitioned by cell."""
    from square_etl_spark.operators.similarity import cosine, ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    assigned = ivf_assign(e, centroids)
    q = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("cell"),
    )
    # bcast-ok: ANN query set (probe vectors), ≪ corpus by contract
    pairs = assigned.join(F.broadcast(q), on="cell").withColumn(
        "cosine_sim", F.round(cosine(F.col("embedding"), F.col("query_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def _ann_ivf_oracle() -> str:
    """Full IVF recomputation (centroid assign + in-cell rank) — also
    a derived table of the ann_recall_audit composition."""
    return """
        WITH cent AS (
          SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < 8),
        assign AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ROUND(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]), c.cv), 6) DESC,
                              c.cell) AS rn
            FROM embeddings e CROSS JOIN cent c)
          WHERE rn = 1),
        q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, cell
          FROM assign WHERE vec_id < 5),
        sims AS (
          SELECT q.query_id, a.vec_id,
                 ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              q.qv), 6) AS cosine_sim
          FROM assign a JOIN q ON a.cell = q.cell)
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, vec_id) AS rank
          FROM sims)
        WHERE rank <= 5
        """


_register(
    QuerySpec(
        "ann_topk_ivf",
        _ann_ivf,
        oracle=_ann_ivf_oracle(),
        doc="IVF cell-probe ANN: broadcast centroid assign + in-cell rank",
    )
)


def _kmeans_ctes() -> str:
    """WITH-body of the exact 2-iteration Lloyd recomputation (k=4,
    seed = vectors 0..3) — the oracle twin of
    clustering.kmeans_fixed(k=4, iters=2).  `a2` is the final
    assignment, `c2` the final centroids; shared by the kmeans
    summary oracle and the semantic-dedup composition."""
    dist = """
          SELECT lf.vid, {c}.c,
                 SUM(CAST(ROUND((lf.val - {c}.cval) * (lf.val - {c}.cval), 9)
                          AS DECIMAL(38,9))) AS d2
          FROM lf JOIN {c} USING (dim)
          GROUP BY 1, 2"""
    argmin = """
          SELECT vid, c, d2 FROM (
            SELECT vid, c, d2,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, c) AS rk
            FROM {d}) WHERE rk = 1"""
    update = """
          SELECT {a}.c, lf.dim,
                 ROUND(CAST(SUM(CAST(ROUND(lf.val, 9) AS DECIMAL(38,9)))
                            AS DOUBLE) / COUNT(*), 9) AS cval
          FROM lf JOIN {a} USING (vid)
          GROUP BY 1, 2"""
    return f"""
        lf AS (
          SELECT vec_id AS vid,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(UNNEST(embedding) AS DOUBLE) AS val
          FROM embeddings),
        c0 AS (SELECT vid AS c, dim, val AS cval FROM lf WHERE vid < 4),
        d1 AS ({dist.format(c='c0')}),
        a1 AS ({argmin.format(d='d1')}),
        c1 AS ({update.format(a='a1')}),
        d2i AS ({dist.format(c='c1')}),
        a2 AS ({argmin.format(d='d2i')}),
        c2 AS ({update.format(a='a2')})"""



def _lloyd_ctes(pfx: str, src: str, k: int) -> str:
    """Parameterized 2-iteration exact-Lloyd CTE chain over a
    long-form relation ``src``(vid, dim, val), seeds = vid < k —
    the generator form of ``_kmeans_ctes`` so compositions that need
    SEVERAL clusterings (IVF-PQ: one coarse + one per PQ subspace)
    can stamp out decimal-exact chains.  Emits CTEs ``{pfx}c0`` …
    ``{pfx}c2`` / ``{pfx}a2`` (final centroids / assignment)."""

    def dist(cent: str) -> str:
        return f"""
          SELECT l.vid, {cent}.c,
                 SUM(CAST(ROUND((l.val - {cent}.cval) * (l.val - {cent}.cval), 9)
                          AS DECIMAL(38,9))) AS d2
          FROM {src} l JOIN {cent} ON l.dim = {cent}.dim
          GROUP BY 1, 2"""

    def argmin(d: str) -> str:
        return f"""
          SELECT vid, c, d2 FROM (
            SELECT vid, c, d2,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, c) AS rk
            FROM {d}) WHERE rk = 1"""

    def update(a: str) -> str:
        return f"""
          SELECT a.c, l.dim,
                 ROUND(CAST(SUM(CAST(ROUND(l.val, 9) AS DECIMAL(38,9)))
                            AS DOUBLE) / COUNT(*), 9) AS cval
          FROM {src} l JOIN {a} a USING (vid)
          GROUP BY 1, 2"""

    return f"""
        {pfx}c0 AS (
          SELECT vid AS c, dim, val AS cval FROM {src} WHERE vid < {k}),
        {pfx}d1 AS ({dist(pfx + "c0")}),
        {pfx}a1 AS ({argmin(pfx + "d1")}),
        {pfx}c1 AS ({update(pfx + "a1")}),
        {pfx}d2 AS ({dist(pfx + "c1")}),
        {pfx}a2 AS ({argmin(pfx + "d2")}),
        {pfx}c2 AS ({update(pfx + "a2")})"""


def _ann_ivfpq_oracle(
    m: int = 4, ds: int = 16, ksub: int = 4, n_probe: int = 2,
    k: int = 5, rescore_factor: int = 4,
) -> str:
    """Full IVF-PQ recomputation: coarse Lloyd (shared _kmeans_ctes →
    a2/c2), one Lloyd chain per PQ subspace, code assignment, probe
    cells, decimal-exact ADC, candidate cut, exact rescore — the
    whole composition, so a green row certifies the PQ path itself
    (adc_sim is in the output), not just the rescored ranks."""
    sub_chains = ",\n".join(
        f"""slf{s} AS (
          SELECT vid, dim, val FROM lf
          WHERE dim >= {s * ds} AND dim < {(s + 1) * ds}),
        {_lloyd_ctes(f'p{s}_', f'slf{s}', ksub)}"""
        for s in range(m)
    )
    codes_union = " UNION ALL ".join(
        f"SELECT vid, {s} AS s, c FROM p{s}_a2" for s in range(m)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, c, dim, cval FROM p{s}_c2" for s in range(m)
    )
    return f"""
        WITH {_kmeans_ctes()},
        qlf AS (SELECT vid AS query_id, dim, val FROM lf WHERE vid < {k}),
        qprobe_d AS (
          SELECT qlf.query_id, c2.c,
                 SUM(CAST(ROUND((qlf.val - c2.cval) * (qlf.val - c2.cval), 9)
                          AS DECIMAL(38,9))) AS d2
          FROM qlf JOIN c2 ON qlf.dim = c2.dim
          GROUP BY 1, 2),
        probe AS (
          SELECT query_id, c FROM (
            SELECT query_id, c,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, c) AS rn
            FROM qprobe_d) WHERE rn <= {n_probe}),
        {sub_chains},
        codes AS ({codes_union}),
        cb AS ({cb_union}),
        cn2 AS (
          SELECT s, c,
                 SUM(CAST(ROUND(cval * cval, 9) AS DECIMAL(38,9))) AS cn2
          FROM cb GROUP BY s, c),
        rnorm AS (
          SELECT codes.vid, SQRT(CAST(SUM(cn2.cn2) AS DOUBLE)) AS rnorm
          FROM codes JOIN cn2 USING (s, c) GROUP BY codes.vid),
        qn AS (
          SELECT query_id,
                 SQRT(CAST(SUM(CAST(ROUND(val * val, 9) AS DECIMAL(38,9)))
                           AS DOUBLE)) AS qnorm
          FROM qlf GROUP BY query_id),
        dt AS (
          SELECT qlf.query_id, cb.s, cb.c,
                 SUM(CAST(ROUND(qlf.val * cb.cval, 9) AS DECIMAL(38,9))) AS t
          FROM qlf JOIN cb ON qlf.dim = cb.dim
          GROUP BY 1, 2, 3),
        candp AS (
          SELECT probe.query_id, a2.vid
          FROM probe JOIN a2 ON probe.c = a2.c),
        adcn AS (
          SELECT cd.query_id, cd.vid, SUM(dt.t) AS num
          FROM candp cd
          JOIN codes ON codes.vid = cd.vid
          JOIN dt ON dt.query_id = cd.query_id
                 AND dt.s = codes.s AND dt.c = codes.c
          GROUP BY 1, 2),
        adc AS (
          SELECT a.query_id, a.vid,
                 CASE WHEN qn.qnorm * rnorm.rnorm > 0
                      THEN ROUND(CAST(a.num AS DOUBLE)
                                 / /*nz: enclosing CASE pins the
                                      product positive — zero-norm
                                      degenerates score 0.0, the exact
                                      mirror of topk_from_pq's guard
                                      (r11 ADVICE)*/ (qn.qnorm * rnorm.rnorm), 6)
                      ELSE 0.0 END AS adc_sim
          FROM adcn a
          JOIN qn USING (query_id)
          JOIN rnorm ON rnorm.vid = a.vid),
        candk AS (
          SELECT query_id, vid, adc_sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_sim DESC, vid) AS cr
            FROM adc) WHERE cr <= {k * rescore_factor}),
        qv AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
          FROM embeddings WHERE vec_id < {k}),
        ex AS (
          SELECT ck.query_id, ck.vid AS vec_id, ck.adc_sim,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              qv.qvec), 6) AS cosine_sim
          FROM candk ck
          JOIN embeddings e ON e.vec_id = ck.vid
          JOIN qv ON qv.query_id = ck.query_id)
        SELECT query_id, vec_id, adc_sim, cosine_sim,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, vec_id) AS rank FROM ex)
        WHERE rank <= {k}
        """


def _ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.cosine_topk_ivfpq): coarse
    k-means cells bound which vectors a query touches, per-subspace
    PQ codebooks + decimal-exact ADC bound what is read per vector,
    exact rescore on the key-sized candidate set.  The oracle
    recomputes the entire composition — nine Lloyd chains' worth of
    CTEs, codes, probe, ADC, rescore — adc_sim included, so the PQ
    path itself is certified."""
    from square_etl_spark.operators.similarity import cosine_topk_ivfpq

    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_ivfpq(
        e, _queries_df(spark, sf_dir), k=5, dim=64,
        n_cells=4, n_probe=2, m=4, ksub=4, iters=2, rescore_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_topk_ivfpq",
        _ann_ivfpq,
        oracle=_ann_ivfpq_oracle(),
        bench=True,
        doc="IVF-PQ ANN: coarse cells + per-subspace PQ codebooks + decimal-exact ADC + exact rescore, full composition oracle-recomputed",
    )
)


# base/batch split for the append-only ingest law: modular (stable at
# every sf), with the Lloyd seed rows (vid < 4 = n_cells = ksub) carved
# into the base so both sides train on identical seeds
_IVFPQ_BASE_PRED = "(vid % 4 <> 3 OR vid < 4)"


def _ann_ivfpq_incr_oracle(
    m: int = 4, ds: int = 16, ksub: int = 4, n_cells: int = 4,
    n_probe: int = 2, k: int = 5, rescore_factor: int = 4,
) -> str:
    """Full recomputation of the APPEND-ONLY ingest + probe: train the
    coarse chain and every PQ-subspace chain on the BASE slice only,
    assign the appended batch against the FINAL frozen
    centroids/codebooks (one decimal argmin each — the
    kmeans_assign_exact / pq_encode_with twins), union, then the same
    probe/ADC/rescore tail as _ann_ivfpq_oracle.  Frozen-parameter
    determinism makes fold ≡ this one-shot recomputation exact, so a
    green row certifies the ingest path itself (similarity.py
    ivfpq_index_append), not just the probe."""

    def assign_vs(src: str, cent: str) -> str:
        # one exact assignment pass against FIXED centroids — the SQL
        # twin of clustering.kmeans_assign_exact's decimal argmin
        return f"""
          SELECT vid, c FROM (
            SELECT l.vid, {cent}.c,
                   ROW_NUMBER() OVER (
                     PARTITION BY l.vid
                     ORDER BY SUM(CAST(ROUND((l.val - {cent}.cval)
                                             * (l.val - {cent}.cval), 9)
                                       AS DECIMAL(38,9))), {cent}.c) AS rk
            FROM {src} l JOIN {cent} ON l.dim = {cent}.dim
            GROUP BY l.vid, {cent}.c) WHERE rk = 1"""

    sub_chains = ",\n".join(
        f"""sblf{s} AS (
          SELECT vid, dim, val FROM blf
          WHERE dim >= {s * ds} AND dim < {(s + 1) * ds}),
        {_lloyd_ctes(f'p{s}_', f'sblf{s}', ksub)},
        xlf{s} AS (
          SELECT vid, dim, val FROM xlf
          WHERE dim >= {s * ds} AND dim < {(s + 1) * ds}),
        xsa{s} AS ({assign_vs(f'xlf{s}', f'p{s}_c2')})"""
        for s in range(m)
    )
    codes_union = " UNION ALL ".join(
        [f"SELECT vid, {s} AS s, c FROM p{s}_a2" for s in range(m)]
        + [f"SELECT vid, {s} AS s, c FROM xsa{s}" for s in range(m)]
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, c, dim, cval FROM p{s}_c2" for s in range(m)
    )
    return f"""
        WITH lf AS (
          SELECT vec_id AS vid,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(UNNEST(embedding) AS DOUBLE) AS val
          FROM embeddings),
        blf AS (SELECT * FROM lf WHERE {_IVFPQ_BASE_PRED}),
        xlf AS (SELECT * FROM lf WHERE NOT {_IVFPQ_BASE_PRED}),
        {_lloyd_ctes('co_', 'blf', n_cells)},
        xca AS ({assign_vs('xlf', 'co_c2')}),
        cells AS (SELECT vid, c FROM co_a2
                  UNION ALL SELECT vid, c FROM xca),
        qlf AS (SELECT vid AS query_id, dim, val FROM lf WHERE vid < {k}),
        qprobe_d AS (
          SELECT qlf.query_id, co_c2.c,
                 SUM(CAST(ROUND((qlf.val - co_c2.cval)
                                * (qlf.val - co_c2.cval), 9)
                          AS DECIMAL(38,9))) AS d2
          FROM qlf JOIN co_c2 ON qlf.dim = co_c2.dim
          GROUP BY 1, 2),
        probe AS (
          SELECT query_id, c FROM (
            SELECT query_id, c,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, c) AS rn
            FROM qprobe_d) WHERE rn <= {n_probe}),
        {sub_chains},
        codes AS ({codes_union}),
        cb AS ({cb_union}),
        cn2 AS (
          SELECT s, c,
                 SUM(CAST(ROUND(cval * cval, 9) AS DECIMAL(38,9))) AS cn2
          FROM cb GROUP BY s, c),
        rnorm AS (
          SELECT codes.vid, SQRT(CAST(SUM(cn2.cn2) AS DOUBLE)) AS rnorm
          FROM codes JOIN cn2 USING (s, c) GROUP BY codes.vid),
        qn AS (
          SELECT query_id,
                 SQRT(CAST(SUM(CAST(ROUND(val * val, 9) AS DECIMAL(38,9)))
                           AS DOUBLE)) AS qnorm
          FROM qlf GROUP BY query_id),
        dt AS (
          SELECT qlf.query_id, cb.s, cb.c,
                 SUM(CAST(ROUND(qlf.val * cb.cval, 9) AS DECIMAL(38,9))) AS t
          FROM qlf JOIN cb ON qlf.dim = cb.dim
          GROUP BY 1, 2, 3),
        candp AS (
          SELECT probe.query_id, cells.vid
          FROM probe JOIN cells ON probe.c = cells.c),
        adcn AS (
          SELECT cd.query_id, cd.vid, SUM(dt.t) AS num
          FROM candp cd
          JOIN codes ON codes.vid = cd.vid
          JOIN dt ON dt.query_id = cd.query_id
                 AND dt.s = codes.s AND dt.c = codes.c
          GROUP BY 1, 2),
        adc AS (
          SELECT a.query_id, a.vid,
                 CASE WHEN qn.qnorm * rnorm.rnorm > 0
                      THEN ROUND(CAST(a.num AS DOUBLE)
                                 / /*nz: enclosing CASE pins the
                                      product positive — mirror of
                                      topk_from_pq's guard*/
                                   (qn.qnorm * rnorm.rnorm), 6)
                      ELSE 0.0 END AS adc_sim
          FROM adcn a
          JOIN qn USING (query_id)
          JOIN rnorm ON rnorm.vid = a.vid),
        candk AS (
          SELECT query_id, vid, adc_sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_sim DESC, vid) AS cr
            FROM adc) WHERE cr <= {k * rescore_factor}),
        qv AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
          FROM embeddings WHERE vec_id < {k}),
        ex AS (
          SELECT ck.query_id, ck.vid AS vec_id, ck.adc_sim,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              qv.qvec), 6) AS cosine_sim
          FROM candk ck
          JOIN embeddings e ON e.vec_id = ck.vid
          JOIN qv ON qv.query_id = ck.query_id)
        SELECT query_id, vec_id, adc_sim, cosine_sim,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, vec_id) AS rank FROM ex)
        WHERE rank <= {k}
        """


def _ann_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only IVF-PQ ingest-then-probe (r13 verdict item 5): train
    the index on a base slice, fold the remaining quarter in via
    similarity.ivfpq_index_append — frozen centroids/codebooks, no
    retraining, cost linear in the batch — and probe the grown index.
    The oracle recomputes the whole fold (base Lloyd chains + frozen
    batch assignment + union + ADC + rescore) value-for-value, the
    same certification shape dedup_embedding_incremental gives the
    LSH ingest path."""
    from square_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_index_append,
        topk_from_pq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(
        (F.col("vec_id") % 4 != 3) | (F.col("vec_id") < 4)
    )
    batch = e.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 4)
    )
    idx = ivfpq_index(base, dim=64, n_cells=4, m=4, ksub=4, iters=2)
    grown = ivfpq_index_append(idx, batch, dim=64, m=4)
    out = topk_from_pq(
        *grown, e, _queries_df(spark, sf_dir),
        k=5, n_probe=2, rescore_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_topk_ivfpq_incremental",
        _ann_ivfpq_incremental,
        oracle=_ann_ivfpq_incr_oracle(),
        doc="append-only IVF-PQ ingest under frozen parameters, then probe — the fold recomputed end-to-end by the oracle",
    )
)


#: bump when ivfpq_index / pq_encode / write_ivfpq_index semantics
#: change — invalidates the tempdir artifact below
_IVFPQ_INDEX_VERSION = 1

_IVFPQ_STORED_CACHE: dict = {}


def _ivfpq_stored_index(spark: SparkSession, sf_dir: str) -> str:
    """Cell-partitioned stored IVF-PQ index for ``sf_dir`` — built
    once with ann_topk_ivfpq's exact parameters and rename-published
    to tempdir (the _ann_codes_table protocol), so every probe across
    processes reuses the artifact.  This is the write-once side the
    deployment pays at ingest, excluded from probe timing."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, "embeddings.parquet")
    mtime = os.stat(src).st_mtime_ns if os.path.exists(src) else 0
    key = (sf_dir, mtime)
    if key not in _IVFPQ_STORED_CACHE:
        from square_etl_spark.operators.similarity import (
            ivfpq_index,
            write_ivfpq_index,
        )

        # _IVFPQ_INDEX_VERSION is part of the cache key: the artifact
        # embeds the whole training path (Lloyd chains, PQ encode,
        # storage layout), so any algorithm change MUST bump it or a
        # stale /tmp index silently serves old-code results while the
        # oracle recomputes with new semantics (r14 review)
        tag = hashlib.md5(
            f"{sf_dir}|{mtime}|ivfpq|v{_IVFPQ_INDEX_VERSION}".encode()
        ).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{tag}")
        if not os.path.isdir(path):
            tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            idx = ivfpq_index(
                load_table(spark, sf_dir, "embeddings"),
                dim=64, n_cells=4, m=4, ksub=4, iters=2,
            )
            write_ivfpq_index(idx, tmp)
            try:
                os.rename(tmp, path)  # atomic publish
            except OSError:
                # another process published the same fixture version
                shutil.rmtree(tmp, ignore_errors=True)
        _IVFPQ_STORED_CACHE[key] = path
    return _IVFPQ_STORED_CACHE[key]


def _ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only ANN over the STORED cell-partitioned IVF-PQ index
    (r13 verdict item 6): the number that matters at 100 TB is this
    read path — coarse probe against the centroid sidecar, partition
    pruning down to the probed cells' directories, bounded ADC, exact
    rescore — not the one-off training cost ann_topk_ivfpq's bench
    entry mostly measures.  topk_from_pq_stored is test-pinned
    identical to the in-memory composition, so the full
    _ann_ivfpq_oracle certifies it value-for-value."""
    from square_etl_spark.operators.similarity import topk_from_pq_stored

    path = _ivfpq_stored_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    out = topk_from_pq_stored(
        spark, path, e, _queries_df(spark, sf_dir),
        k=5, n_probe=2, rescore_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_register(
    QuerySpec(
        "ann_topk_ivfpq_probe",
        _ann_ivfpq_probe,
        oracle=_ann_ivfpq_oracle(),
        bench=True,
        doc="probe-only IVF-PQ over a stored cell-partitioned index: partition-pruned deployment read path, same oracle as the build",
    )
)


def bench_setup(spark: SparkSession, sf_dir: str) -> None:
    """One-off materializations bench.py excludes from timing, called
    by BOTH bench lanes (shared session and the fresh-JVM lane):
    quantize-at-ingest codes and the stored IVF-PQ index are write-
    once deployment artifacts the probe entries must not be charged
    for.  Best-effort: the timed run surfaces real errors."""
    try:
        _ann_codes_table(spark, sf_dir)
    except Exception:
        pass
    try:
        _ivfpq_stored_index(spark, sf_dir)
    except Exception:
        pass


def _ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the two approximate ANN paths against the exact
    brute-force top-5, per query — the eval a pipeline runs BEFORE
    committing to an index config (the `dedup_minhash_vs_ngram`
    agreement-audit pattern applied to similarity search).  Every
    side is deterministic, so recall is an exact, reproducible number
    here: the oracle recomputes all three pipelines as derived tables
    and intersects them just like the Spark side.

    The four ANN paths are independent compositions over the same
    stored tables, so their CONSTRUCTION (which runs the IVF/IVF-PQ
    builders' eager Lloyd-chain jobs) happens on a driver thread pool
    (r16; guide §2.6) — overlapping the chains changes no values,
    it only stops the audit paying four job-latency chains in
    sequence."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        fb = pool.submit(_ann_brute, spark, sf_dir)
        fl = pool.submit(_ann_lsh, spark, sf_dir)
        fi = pool.submit(_ann_ivf, spark, sf_dir)
        fp = pool.submit(_ann_ivfpq, spark, sf_dir)
        brute = fb.result().select("query_id", "vec_id")
        lsh = fl.result().select("query_id", "vec_id")
        ivf = fi.result().select("query_id", "vec_id")
        ivfpq = fp.result().select("query_id", "vec_id")
    k = brute.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    lh = (
        brute.join(lsh, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("lsh_hits"))
    )
    ih = (
        brute.join(ivf, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("ivf_hits"))
    )
    ph = (
        brute.join(ivfpq, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("ivfpq_hits"))
    )
    return (
        k.join(lh, "query_id", "left")
        .join(ih, "query_id", "left")
        .join(ph, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce(F.col("lsh_hits"), F.lit(0)).cast("long").alias("lsh_hits"),
            F.coalesce(F.col("ivf_hits"), F.lit(0)).cast("long").alias("ivf_hits"),
            F.coalesce(F.col("ivfpq_hits"), F.lit(0)).cast("long").alias("ivfpq_hits"),
            F.round(
                F.coalesce(F.col("lsh_hits"), F.lit(0)).cast("double")
                / F.col("k"),
                6,
            ).alias("recall_lsh"),
            F.round(
                F.coalesce(F.col("ivf_hits"), F.lit(0)).cast("double")
                / F.col("k"),
                6,
            ).alias("recall_ivf"),
            F.round(
                F.coalesce(F.col("ivfpq_hits"), F.lit(0)).cast("double")
                / F.col("k"),
                6,
            ).alias("recall_ivfpq"),
        )
    )


_register(
    QuerySpec(
        "ann_recall_audit",
        _ann_recall_audit,
        oracle=f"""
        WITH brute AS (
          SELECT query_id, vec_id FROM ({_ann_brute_oracle()}) b),
        lsh AS (
          SELECT query_id, vec_id FROM ({_ann_lsh_oracle()}) l),
        ivf AS (
          SELECT query_id, vec_id FROM ({_ann_ivf_oracle()}) i),
        ivfpq AS (
          SELECT query_id, vec_id FROM ({_ann_ivfpq_oracle()}) p),
        k AS (SELECT query_id, COUNT(*) AS k FROM brute GROUP BY query_id),
        lh AS (
          SELECT b.query_id, COUNT(*) AS lsh_hits
          FROM brute b JOIN lsh USING (query_id, vec_id)
          GROUP BY b.query_id),
        ih AS (
          SELECT b.query_id, COUNT(*) AS ivf_hits
          FROM brute b JOIN ivf USING (query_id, vec_id)
          GROUP BY b.query_id),
        ph AS (
          SELECT b.query_id, COUNT(*) AS ivfpq_hits
          FROM brute b JOIN ivfpq USING (query_id, vec_id)
          GROUP BY b.query_id)
        SELECT k.query_id, CAST(k.k AS BIGINT) AS k,
               CAST(COALESCE(lh.lsh_hits, 0) AS BIGINT) AS lsh_hits,
               CAST(COALESCE(ih.ivf_hits, 0) AS BIGINT) AS ivf_hits,
               CAST(COALESCE(ph.ivfpq_hits, 0) AS BIGINT) AS ivfpq_hits,
               ROUND(COALESCE(lh.lsh_hits, 0)
                     / /*nz: k = |exact top-5| >= 1*/ CAST(k.k AS DOUBLE), 6)
                 AS recall_lsh,
               ROUND(COALESCE(ih.ivf_hits, 0)
                     / /*nz: k = |exact top-5| >= 1*/ CAST(k.k AS DOUBLE), 6)
                 AS recall_ivf,
               ROUND(COALESCE(ph.ivfpq_hits, 0)
                     / /*nz: k = |exact top-5| >= 1*/ CAST(k.k AS DOUBLE), 6)
                 AS recall_ivfpq
        FROM k LEFT JOIN lh ON k.query_id = lh.query_id
        LEFT JOIN ih ON k.query_id = ih.query_id
        LEFT JOIN ph ON k.query_id = ph.query_id
        """,
        bench=True,
        doc="ANN recall@5 audit: LSH + IVF vs exact brute force, all three "
        "pipelines oracle-recomputed and intersected",
    )
)


def _corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline, end to end: quality-filter
    the corpus, drop exact duplicates (min-id survivor per digest),
    collapse near-dup clusters to their canonical doc, and report the
    surviving corpus per language.  Every stage is an operator from
    this library; the whole thing is ONE lazy plan plus the bounded
    connected-components iteration.

    Near-dup pairs come from the LOSSLESS prefix-filter join
    (ngram_jaccard_prefix at Jaccard ≥ 0.5, the default near-dup path
    since r09): the collapse decision equals the exhaustive join's by
    construction — no df_cap recall knob in the flagship pipeline.
    Stage relations come from pipelines.clean_stage_relations, SHARED
    with the attrition funnel so the two reconcile by construction."""
    from square_etl_spark.operators.text import token_count
    from square_etl_spark.pipelines import clean_stage_relations

    d = load_table(spark, sf_dir, "documents")
    _, _, exact_survivors, non_canonical = clean_stage_relations(d)
    clean = exact_survivors.join(
        non_canonical.select("doc_id"), on="doc_id", how="left_anti"
    )
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("total_tokens"),
    )


_register(
    QuerySpec(
        "corpus_clean_pipeline",
        _corpus_clean,
        oracle=f"""
        WITH RECURSIVE scored AS (
          SELECT *,
            ROUND(
              0.5 * LEAST(ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.8, 1.0)
            + 0.3 * LEAST(ROUND(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    w -> list_contains(['the','and','of','to','is','in','that','it'], w))) /
                    (CASE WHEN trim(text) = '' THEN 1.0
                          WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                          THEN CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                          ELSE 1.0 END), 6) / 0.4, 1.0)
            + 0.2 * (1.0 - LEAST(ROUND(len(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.2, 1.0)),
            6) AS q
          FROM documents),
        kept AS (SELECT * FROM scored WHERE q >= 0.3),
        exact_survivors AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                         ORDER BY doc_id) AS rn
            FROM kept) WHERE rn = 1),
        {_prefix_pairs_ctes("exact_survivors").strip().rstrip()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges UNION SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        clusters AS (
          SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        clean AS (
          SELECT s.* FROM exact_survivors s
          WHERE NOT EXISTS (SELECT 1 FROM clusters c
                            WHERE c.doc_id = s.doc_id
                              AND c.doc_id <> c.cluster_id))
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
                 AS total_tokens
        FROM clean GROUP BY lang
        """,
        doc="composite pipeline: quality filter → exact dedup → near-dup collapse → stats",
    )
)


def _attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition funnel of the corpus-clean pipeline
    (pipelines.attrition_funnel): label each document with the FIRST
    stage that dropped it (quality → exact_dup → near_dup, else kept)
    and aggregate docs + chars per stage, in ONE corpus scan — stage
    flags come from the same window / pair relations the pipeline
    itself computes, joined back onto the scored scan, not four
    pipeline re-runs at increasing truncations.  Shares
    corpus_clean_pipeline's semantics exactly, so the funnel's 'kept'
    row reconciles with that query's totals.  All four stage labels
    are pinned on constructed docs in test_pipelines (real sf data
    only exercises near_dup/kept)."""
    from square_etl_spark.pipelines import attrition_funnel

    return attrition_funnel(load_table(spark, sf_dir, "documents"))


_register(
    QuerySpec(
        "pipeline_attrition_report",
        _attrition_report,
        oracle=f"""
        WITH RECURSIVE scored AS (
          SELECT *,
            ROUND(
              0.5 * LEAST(ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.8, 1.0)
            + 0.3 * LEAST(ROUND(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    w -> list_contains(['the','and','of','to','is','in','that','it'], w))) /
                    (CASE WHEN trim(text) = '' THEN 1.0
                          WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                          THEN CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                          ELSE 1.0 END), 6) / 0.4, 1.0)
            + 0.2 * (1.0 - LEAST(ROUND(len(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.2, 1.0)),
            6) AS q
          FROM documents),
        ranked AS (
          SELECT doc_id, rn FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                              ORDER BY doc_id) AS rn
            FROM scored WHERE q >= 0.3)),
        exact_survivors AS (
          SELECT s.* FROM scored s JOIN ranked r USING (doc_id)
          WHERE s.q >= 0.3 AND r.rn = 1),
        {_prefix_pairs_ctes("exact_survivors").strip().rstrip()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges UNION SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        clusters AS (
          SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        lab AS (
          SELECT s.doc_id, s.n_chars,
                 CASE WHEN s.q < 0.3 THEN 'quality'
                      WHEN r.rn > 1 THEN 'exact_dup'
                      WHEN c.doc_id IS NOT NULL THEN 'near_dup'
                      ELSE 'kept' END AS stage
          FROM scored s
          LEFT JOIN ranked r ON r.doc_id = s.doc_id
          LEFT JOIN (SELECT doc_id FROM clusters
                     WHERE doc_id <> cluster_id) c ON c.doc_id = s.doc_id)
        SELECT stage, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM lab GROUP BY stage
        """,
        doc="attrition funnel: first-drop stage per doc (quality → exact_dup "
        "→ near_dup → kept) in one corpus scan; reconciles with corpus_clean_pipeline",
    )
)

# ---------------------------------------------------------------------------
# Extension: embedding-cosine near-dup (dedup family)
# ---------------------------------------------------------------------------


def _cos_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # fixture embeddings are fixed 64-d (TESTDATA.md) → unrolled codegen dot
    return embedding_cosine_pairs(e, "vec_id", "embedding", threshold=0.35, dim=64)


#: oracle-side twin of similarity.normalize∘dot: normalize-then-dot in the
#: SAME float evaluation order as the Spark expression (ADVICE r1: the old
#: divide-after-sum list_cosine_similarity could flip a 5e-7 boundary pair).
_NV_CTE = """
        nv AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                     x -> x / /*nz: nonzero embedding vectors*/ sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[]))))
                   AS nv
          FROM embeddings)"""

_register(
    QuerySpec(
        "dedup_embedding_cosine",
        _cos_dedup,
        oracle=f"""
        WITH {_NV_CTE}
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.nv, b.nv), 6) AS cosine_sim
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.nv, b.nv), 6) >= 0.35
        """,
        doc="exact all-pairs cosine near-dup — small-SF ORACLE BASELINE ONLY; "
        "dedup_embedding_cosine_bucketed is the default/scale path",
    )
)


def _lsh_bucket_sql(nv_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of similarity.lsh_bucket over the same plane constants:
    bit i set iff dot(nv, plane_i) >= 0 (bitwiseOR∘shiftleft ≡ Σ 2^i)."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({nv_expr}, {arr}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _cos_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT embedding near-dup: sign-LSH buckets (4 bits × 8 tables)
    → exact in-bucket verify.  Same threshold as the all-pairs oracle
    twin; candidate generation is an equi-join on (table, bucket) — no
    BroadcastNestedLoopJoin anywhere in the plan (pinned).

    bucket_cap=4096 is the hot-bucket skew guard (groupBy-count →
    broadcast anti join — same contract as the semantic-decontam
    query): max observed bucket is 209 at sf0.1, so the cap never
    fires at tested scales and the result equals the uncapped query;
    the oracle mirrors it exactly, so the contract holds wherever the
    cap DOES fire."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs_bucketed(
        e, "vec_id", "embedding", threshold=0.35, dim=64, bits=4,
        n_tables=8, bucket_cap=4096,
    )


#: raw-embedding twin of _NV_CTE for the bucketed/LSH oracles (r12):
#: buckets are computed from the RAW doubles on both engines (sign is
#: scale-invariant; over the raw attribute Spark's plane dots stay in
#: codegen), while nv still feeds the exact verify.
_NVR_CTE = """
        nvr AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                 list_transform(CAST(embedding AS DOUBLE[]),
                     x -> x / /*nz: nonzero embedding vectors*/ sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[]))))
                   AS nv
          FROM embeddings)"""


def _cos_dedup_bucketed_oracle(cap: int | None = 4096) -> str:
    from square_etl_spark.operators.similarity import random_hyperplanes

    tagged = "\n          UNION ALL ".join(
        f"SELECT vec_id, nv, {t} AS tbl, "
        f"{_lsh_bucket_sql('emb', random_hyperplanes(64, 4, 42 + t))} AS bkt FROM nvr"
        for t in range(8)
    )
    cap_ctes = (
        f""",
        hot AS (
          SELECT tbl, bkt FROM tagged
          GROUP BY tbl, bkt HAVING COUNT(*) > {cap}),
        cold AS (
          SELECT t.* FROM tagged t
          WHERE NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.tbl = t.tbl AND h.bkt = t.bkt))"""
        if cap is not None
        else ""
    )
    src = "cold" if cap is not None else "tagged"
    return f"""
        WITH {_NVR_CTE},
        tagged AS (
          {tagged}){cap_ctes}
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.nv, b.nv), 6) AS cosine_sim
        FROM {src} a
        JOIN {src} b ON a.tbl = b.tbl AND a.bkt = b.bkt
                    AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.nv, b.nv), 6) >= 0.35
        """


_register(
    QuerySpec(
        "dedup_embedding_cosine_bucketed",
        _cos_dedup_bucketed,
        oracle=_cos_dedup_bucketed_oracle(),
        doc="DEFAULT embedding near-dup: LSH candidate buckets + exact verify, "
        "equi-join plan (scale path; all-pairs twin is the exactness oracle)",
    )
)


def _emb_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup — the stored-index ingest fold
    (operators/dedup.embedding_lsh_index / embedding_lsh_probe),
    driver-certified against the ONE-SHOT recomputation: batch 1
    (even vec_ids) dedups internally and writes its sign-LSH index;
    batch 2 (odd vec_ids) probes that index for cross-batch pairs and
    dedups internally; the union of the three pair sets must equal
    embedding_cosine_pairs_bucketed over the whole corpus — the
    fold ≡ one-shot law every incremental family here ships with,
    checked by DuckDB recomputing the one-shot from scratch.  Exact
    because candidate identity is bucket identity: both halves tag
    with the SAME hyperplanes, so a cross-parity pair shares a
    (table, bucket) in the fold iff it does in the one-shot.

    r16: both batches are parity SPLITS of one relation, so the fold
    runs through dedup.embedding_incremental_pairs_split — ONE shared
    tagging pass (checkpointed) from which the index, the probe batch
    and both within-batch taggings are derived by filter (row-wise
    tagging commutes with filter, so the relations — and the output —
    are identical to the previous four-tagging composition of
    embedding_cosine_pairs_bucketed ×2 + embedding_lsh_index +
    embedding_lsh_probe), paying the 8-table plane-chain
    analysis/codegen constant once instead of four times."""
    from square_etl_spark.operators.dedup import (
        embedding_incremental_pairs_split,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_incremental_pairs_split(
        e, F.col("vec_id") % 2 == 1, "vec_id", "embedding",
        threshold=0.35, dim=64, bits=4, n_tables=8,
    )


_register(
    QuerySpec(
        "dedup_embedding_incremental",
        _emb_incremental_q,
        oracle=_cos_dedup_bucketed_oracle(cap=None),
        bench=True,
        doc="incremental embedding near-dup: stored sign-LSH index + batch "
        "probe fold, certified equal to the one-shot bucketed dedup the "
        "oracle recomputes from scratch",
    )
)


def _decontaminate_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding rung completing the
    exact-13-gram / fuzzy-MinHash / semantic ladder
    (operators/dedup.semantic_contamination_pairs): the benchmark
    split's vectors (vec_id % 97 = 0, the same eval-suite carve-out
    as the fuzzy query) are sign-LSH-indexed and the corpus probes
    them; candidates verify with the exact rounded cosine at 0.35.
    Positive at every scale (3/9/89 brute-force matches; LSH recall
    is deterministic, shared bit-for-bit by the oracle).  Output per
    contaminated corpus vector: match count + strongest cosine.

    Bench note: the wall time is dominated by a SCALE-INDEPENDENT
    constant — planning/codegen of the 8×4 inlined hyperplane
    expressions (2×2048 literals), not data movement (profiled at
    sf0.1: 21k candidate rows, sub-second compute) — so the number
    amortizes to nothing on a real corpus.

    bucket_cap=4096 is the corpus-side hot-bucket skew guard
    (groupBy-count → broadcast anti join, zero Window nodes —
    plan-pinned).  At the tested scales the max corpus bucket is 209
    (sf0.1), so the cap never fires and the result equals the uncapped
    query; the oracle mirrors the cap exactly so the contract holds at
    any scale.  At real corpus size, raise ``bits`` with log2(N) so
    UNIFORM buckets stay under the cap; what the cap then drops is
    boilerplate pathology (near-identical embeddings), the one thing
    that would otherwise funnel a (table, bucket) join partition.
    The benchmark here is an in-corpus id stripe, so the SPLIT form
    tags the relation once (checkpointed) instead of paying the
    plane-chain analysis/codegen constant twice."""
    from square_etl_spark.operators.dedup import (
        semantic_contamination_pairs_split,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return (
        semantic_contamination_pairs_split(
            e, F.col("vec_id") % 97 == 0, "vec_id", "embedding",
            threshold=0.35, dim=64, bits=4, n_tables=8, bucket_cap=4096,
        )
        .groupBy(F.col("corpus_id").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_matches"),
            F.max("cosine_sim").alias("max_cosine"),
        )
    )


def _decontaminate_semantic_oracle() -> str:
    from square_etl_spark.operators.similarity import random_hyperplanes

    tagged = "\n          UNION ALL ".join(
        f"SELECT vec_id, nv, {t} AS tbl, "
        f"{_lsh_bucket_sql('emb', random_hyperplanes(64, 4, 42 + t))} AS bkt FROM nvr"
        for t in range(8)
    )
    return f"""
        WITH {_NVR_CTE},
        tagged AS (
          {tagged}),
        hot AS (
          SELECT tbl, bkt FROM tagged WHERE vec_id % 97 <> 0
          GROUP BY tbl, bkt HAVING COUNT(*) > 4096),
        pairs AS (
          SELECT DISTINCT a.vec_id AS corpus_id, b.vec_id AS bench_id,
                 ROUND(list_dot_product(a.nv, b.nv), 6) AS cosine_sim
          FROM tagged a
          JOIN tagged b ON a.tbl = b.tbl AND a.bkt = b.bkt
          WHERE a.vec_id % 97 <> 0 AND b.vec_id % 97 = 0
            AND NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.tbl = a.tbl AND h.bkt = a.bkt)
            AND ROUND(list_dot_product(a.nv, b.nv), 6) >= 0.35)
        SELECT corpus_id AS vec_id,
               CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
               MAX(cosine_sim) AS max_cosine
        FROM pairs GROUP BY corpus_id
        """


_register(
    QuerySpec(
        "dedup_decontaminate_semantic",
        _decontaminate_semantic_q,
        oracle=_decontaminate_semantic_oracle(),
        bench=True,
        doc="semantic decontamination: corpus sign-LSH-probed against the "
        "benchmark's embeddings, exact cosine verify, positive at every scale",
    )
)

# ---------------------------------------------------------------------------
# Public registry surface
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Deterministic sampling / mixing / sharding / profiling (§2.10 extension:
# the corpus-management layer of a training-data pipeline).  Randomness is
# md5(key) everywhere — portable across engines, partitionings, and runs,
# so every query here is fully oracle-checkable (operators/sampling.py).
# ---------------------------------------------------------------------------

#: oracle-side twin of sampling.hash_bucket (DuckDB md5 = lowercase hex,
#: same as Spark's).
def _bucket_sql(key_expr: str, salt: str = "") -> str:
    prefix = f"'{salt}' || " if salt else ""
    return f"substr(md5({prefix}CAST({key_expr} AS VARCHAR)), 1, 8)"


def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% Bernoulli sample of the corpus keyed on doc_id.

    Scan + codegen'd string-compare filter — no shuffle, no rand()
    state, so the same subset reappears on any re-partitioned copy of
    the corpus (the property ablation pipelines need; rand(seed) does
    not survive re-partitioning).
    """
    return hash_sample(
        load_table(spark, sf_dir, "documents"), "doc_id", 0.25, salt="abl1"
    ).select("doc_id", "lang", "source", "n_chars")


_register(
    QuerySpec(
        "sample_hash_documents",
        _sample_hash,
        oracle=f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_bucket_sql("doc_id", "abl1")} < '{rate_threshold(0.25)}'
        """,
        doc="deterministic md5-keyed Bernoulli sample, shuffle-free",
    )
)


def _mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: keep 100% of src0, 50% of src1, 25% of
    src2, drop the rest — one scan with a CASE threshold, no per-source
    split/union (the shape that survives a 100 TB corpus)."""
    return weighted_mix(
        load_table(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
    ).select("doc_id", "source", "lang")


_register(
    QuerySpec(
        "mix_weighted_sources",
        _mix_weighted,
        oracle=f"""
        SELECT doc_id, source, lang
        FROM documents
        WHERE {_bucket_sql("doc_id")} <
              CASE source WHEN 'src0' THEN '{rate_threshold(1.0)}'
                          WHEN 'src1' THEN '{rate_threshold(0.5)}'
                          WHEN 'src2' THEN '{rate_threshold(0.25)}'
                          ELSE '00000000' END
        """,
        doc="per-source sampling rates in one scan (corpus mixing)",
    )
)


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(20, |stratum|) docs per language, chosen by hash
    order — one window pass, deterministic tie-free ranking."""
    return stratified_take(
        load_table(spark, sf_dir, "documents"), "lang", "doc_id", 20
    ).select("doc_id", "lang", "n_chars")


_register(
    QuerySpec(
        "sample_stratified_lang",
        _sample_stratified,
        oracle=f"""
        SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY {_bucket_sql("doc_id")}, doc_id) AS rk
          FROM documents)
        WHERE rk <= 20
        """,
        doc="exact-n per-stratum sample via hash-order window rank",
    )
)


def _shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 8-way shard layout: shard = md5 prefix mod 8, position =
    hash-order rank within the shard (hash order doubles as the
    training shuffle — decorrelated batches with no extra pass)."""
    return shard_assign(load_table(spark, sf_dir, "documents"), "doc_id", 8).select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        F.col("shard_pos").cast("bigint").alias("shard_pos"),
    )


_HEX4_SQL = (
    "((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr({h}, 4, 1)) - 1))"
)

_register(
    QuerySpec(
        "shard_assignment",
        _shard_assignment,
        oracle=f"""
        SELECT doc_id,
               CAST(shard AS BIGINT) AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                    ORDER BY {_bucket_sql("doc_id")}, doc_id) AS BIGINT)
                 AS shard_pos
        FROM (
          SELECT doc_id,
                 {_HEX4_SQL.format(h="substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)")} % 8
                   AS shard
          FROM documents)
        """,
        doc="key-stable shard id + hash-order position (training layout)",
    )
)


def _histogram_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document-length histogram (12 bins over [0, 600)),
    outliers clamped into the edge bins — one partial-agg pass, 12-row
    result at any corpus size."""
    return histogram(load_table(spark, sf_dir, "documents"), "n_chars", 0, 600, 12)


_register(
    QuerySpec(
        "histogram_doc_length",
        _histogram_doclen,
        oracle="""
        SELECT bin, COUNT(*) AS n,
               MIN(v) AS min_v, MAX(v) AS max_v,
               0.0 + CAST(bin AS DOUBLE) * 50.0 AS lo_edge
        FROM (
          SELECT CAST(LEAST(GREATEST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 50.0),
                                     0), 11) AS BIGINT) AS bin,
                 CAST(n_chars AS DOUBLE) AS v
          FROM documents)
        GROUP BY bin
        """,
        doc="clamped fixed-width histogram, map-side combined",
    )
)


def _decile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account-balance deciles (curriculum-bucket shape):
    ntile(10) in a total deterministic order.  Global window — fine at
    dimension scale; corpus-scale variant is percentile_approx cut
    points + broadcast range join (operators/sampling.py)."""
    df = ntile_assign(
        load_table(spark, sf_dir, "customer"), "c_acctbal", "c_custkey", 10
    )
    return df.select(
        "c_custkey", "c_acctbal", F.col("tile").cast("bigint").alias("tile")
    )


_register(
    QuerySpec(
        "decile_customer_acctbal",
        _decile_acctbal,
        oracle="""
        SELECT c_custkey, c_acctbal,
               CAST(NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS tile
        FROM customer
        """,
        doc="equal-count quantile bins in a deterministic total order",
    )
)


def _profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-health profile of the orders table — rows/nulls/distinct/
    min/max per column, all columns in ONE pass (side-by-side
    aggregates, then unpivot), not one scan per column."""
    return profile(
        load_table(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


def _profile_oracle_one(c: str) -> str:
    return f"""
        SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str
        FROM orders"""


_register(
    QuerySpec(
        "profile_orders_columns",
        _profile_orders,
        oracle=" UNION ALL ".join(
            _profile_oracle_one(c)
            for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
        ),
        doc="single-pass multi-column profile (rows/nulls/distinct/min/max)",
    )
)


def _corr_price_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact Pearson correlation between an order's header
    total and its line count — the native ``corr()`` aggregate is a
    float fold whose value depends on partition/accumulation order, so
    two engines (or two RUNS) can disagree in the last ulps; this
    formulation makes the statistic hash-stable: every moment term
    (x, y, x², y², xy) rounds to 6 decimals per row and sums as
    DECIMAL, so the five sums are exact integers-of-6-decimals on any
    engine, and only the final closed-form division happens in
    floating point.  One join + one partial-aggregated shuffle; at
    100 TB the same shape computes any moment-based statistic
    (variance, covariance matrices, OLS normal equations) exactly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    d6 = lambda c: F.round(c, 6).cast("decimal(28,6)")  # noqa: E731
    x, y = F.col("o_totalprice"), F.col("n_items").cast("double")
    sums = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(x)).alias("sx"),
        F.sum(d6(y)).alias("sy"),
        F.sum(d6(x * x)).alias("sxx"),
        F.sum(d6(y * y)).alias("syy"),
        F.sum(d6(x * y)).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return sums.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(r, 6).alias("pearson_r"),
        F.round((n * sxy - sx * sy) / (n * (n - 1)), 6).alias("covariance"),
    )


_register(
    QuerySpec(
        "corr_price_items",
        _corr_price_items,
        oracle="""
        WITH j AS (
          SELECT o_totalprice AS x,
                 CAST(n_items AS DOUBLE) AS y
          FROM orders
          JOIN (SELECT l_orderkey, COUNT(*) AS n_items
                FROM lineitem GROUP BY l_orderkey) li
            ON o_orderkey = l_orderkey),
        s AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS sx,
                 SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS sy,
                 SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS sxx,
                 SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS syy,
                 SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS sxy
          FROM j)
        SELECT CAST(n AS BIGINT) AS n_orders,
               ROUND((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / /*nz: positive variance of priced pairs*/ sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS pearson_r,
               ROUND((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / /*nz: pair count >= 2*/ (n * (n - 1.0)), 6) AS covariance
        FROM s
        """,
        doc="hash-stable Pearson r / covariance: decimal moment sums, closed-form finish",
    )
)


def _csv_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with quarantine, oracle-checked end-to-end: per
    order, CONSTRUCT a delimited line (the constructed-blob technique
    applied to a source format), corrupt every 97th key's numeric
    field, parse with :func:`io.csv_ingest_quarantine` (from_csv,
    PERMISSIVE + corrupt-record column, declared schema — no
    inference), and return the VALID branch.  The oracle predicts the
    surviving rows directly, so a green row certifies the parse, the
    malformed-field quarantine split, and the double round-trip
    through the string form."""
    from pyspark.sql import types as T

    from square_etl_spark.io import csv_ingest_quarantine

    o = load_table(spark, sf_dir, "orders")
    price = F.when(F.col("o_orderkey") % 97 == 0, F.lit("oops")).otherwise(
        F.col("o_totalprice").cast("string")
    )
    raw = o.select(
        F.concat_ws(
            ",", F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"), price,
        ).alias("line")
    )
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    valid, _rejects = csv_ingest_quarantine(spark, raw, "line", schema)
    return valid.select("o_orderkey", "o_orderstatus", "o_totalprice")


_register(
    QuerySpec(
        "csv_ingest_orders",
        _csv_ingest_orders,
        oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        """,
        doc="CSV source with quarantine: constructed lines, planted corruption, predicted survivors",
    )
)


def _zorder_oracle_expr(cols: list[str], bits: int) -> str:
    """Unrolled SQL twin of io.zorder_key: OR of disjoint bit terms
    (written as + — the shifted terms never overlap)."""
    terms = [
        f"((({c} >> {i}) & 1) << {i * len(cols) + j})"
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return " + ".join(terms)


def _zorder_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (bucketed custkey, nationkey) —
    the data-layout primitive for multi-dimensional row-group
    skipping (sort a 100 TB table by this ONE key and parquet min/max
    stats get tight on BOTH dimensions; pyarrow-verified in
    tests/test_partitioning.py).  Pure shift/and/or Column arithmetic,
    so the oracle recomputes every interleaved bit."""
    from square_etl_spark.io import zorder_key

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        (F.col("c_custkey") % 1024).alias("xb"),
        F.col("c_nationkey").alias("yb"),
    ).select(
        "c_custkey",
        zorder_key([F.col("xb"), F.col("yb")], bits=10).alias("zkey"),
    )


_register(
    QuerySpec(
        "zorder_key_customers",
        _zorder_customers,
        oracle=f"""
        SELECT c_custkey,
               CAST({_zorder_oracle_expr(['(c_custkey % 1024)',
                                          'c_nationkey'], 10)}
                    AS BIGINT) AS zkey
        FROM customer
        """,
        doc="Morton/Z-order clustering key: interleaved-bit layout primitive, oracle-recomputed",
    )
)


def _skew_profile_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics over the key a real deployment
    would worry about (events.user_id — every per-user aggregation and
    join shuffles on it).  One row: hottest-key share, max/mean skew
    ratio, distribution entropy — the pre-flight check that decides
    whether the key needs salting before a 100 TB shuffle."""
    from square_etl_spark.operators.sampling import skew_profile

    return skew_profile(load_table(spark, sf_dir, "events"), "user_id")


_register(
    QuerySpec(
        "skew_profile_event_users",
        _skew_profile_users,
        oracle="""
        WITH freq AS (
          SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id),
        agg AS (
          SELECT SUM(c) AS t_rows, COUNT(*) AS t_keys, MAX(c) AS max_c,
                 CAST(SUM(CAST(ROUND(c * ln(c), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) AS s_clnc
          FROM freq)
        SELECT CAST(t_rows AS BIGINT) AS n_rows,
               CAST(t_keys AS BIGINT) AS n_keys,
               ROUND(max_c / /*nz: COUNT(*) of populated event scan*/ t_rows, 6) AS max_key_share,
               ROUND(max_c * t_keys / /*nz: COUNT(*) of populated event scan*/ t_rows, 6) AS skew_ratio,
               ROUND(ln(t_rows) - s_clnc / /*nz: COUNT(*) of populated event scan*/ t_rows, 6) AS entropy
        FROM agg
        """,
        doc="shuffle-key skew pre-flight: hottest-key share + skew ratio + entropy, engine-exact",
    )
)


def _arrow_median_dev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas (one Arrow frame per language) computing
    the per-group median and each doc's deviation — exact selection
    arithmetic, so the Python path hash-matches the SQL oracle."""
    return group_median_deviation(
        load_table(spark, sf_dir, "documents"), "lang", "n_chars", "doc_id"
    )


_register(
    QuerySpec(
        "arrow_group_median_dev",
        _arrow_median_dev,
        oracle="""
        SELECT doc_id, lang, n_chars,
               CAST(MEDIAN(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
                 AS group_median,
               CAST(n_chars AS DOUBLE)
                 - CAST(MEDIAN(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
                 AS dev
        FROM documents
        """,
        doc="oracle-checked grouped Arrow operator (applyInPandas)",
    )
)


def _arrow_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas token counter — streaming Arrow batches, no shuffle;
    integer output makes the Python path oracle-checkable."""
    return token_count_arrow(load_table(spark, sf_dir, "documents"))


_register(
    QuerySpec(
        "arrow_token_count",
        _arrow_tokens,
        oracle=r"""
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
        """,
        doc="oracle-checked streaming Arrow operator (mapInPandas)",
    )
)



# ---------------------------------------------------------------------------
# Training-pipeline batch 2: PII scrub, repetition, packing, decontamination,
# and the q21-style only-late-supplier shape
# ---------------------------------------------------------------------------


def _pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus carries no PII, so the query plants a
    deterministic synthetic tail (email/phone/SSN/IP derived from
    doc_id) on BOTH engines before scrubbing — the oracle hash then
    genuinely exercises every redaction regex, not just the identity
    path."""
    d = load_table(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 ssn 123-45-6789 ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    flags = tx.pii_flags("text")
    return salted.select(
        "doc_id",
        tx.redact_pii("text").alias("clean_text"),
        *[v.alias(f"has_{k}") for k, v in flags.items()],
    )


_PII_SALT_SQL = """
          SELECT doc_id,
                 text || ' contact user' || doc_id
                      || '@example.com or 555-867-5309 ssn 123-45-6789 ip 10.0.0.'
                      || (doc_id % 256) AS text
          FROM documents"""

_register(
    QuerySpec(
        "text_pii_redaction",
        _pii_redaction,
        oracle=f"""
        WITH s AS ({_PII_SALT_SQL})
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
            '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
            '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
            '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g')
            AS clean_text,
          regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
            AS has_email,
          regexp_matches(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b') AS has_ssn,
          regexp_matches(text, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b') AS has_phone,
          regexp_matches(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')
            AS has_ipv4
        FROM s
        """,
        doc="PII scrub (email/SSN/phone/IP) — codegen regexp_replace chain",
    )
)


def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = tx.repetition_metrics("text")
    return d.select("doc_id", *[v.alias(k) for k, v in m.items()])


_register(
    QuerySpec(
        "text_repetition_stats",
        _repetition,
        oracle="""
        WITH s AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text, ''), chr(10)),
                             l -> trim(l) <> '') AS lines,
                 list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                             w -> w <> '') AS w
          FROM documents),
        g AS (
          SELECT *, CASE WHEN len(w) >= 2
                    THEN list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i + 1])
                    ELSE CAST([] AS VARCHAR[]) END AS g2
          FROM s)
        SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CASE WHEN len(lines) > 0
               THEN 1.0 - len(list_distinct(lines)) / /*nz: CASE len > 0 branch*/ CAST(len(lines) AS DOUBLE)
               ELSE 0.0 END AS dup_line_frac,
          CASE WHEN len(w) > 0
               THEN 1.0 - len(list_distinct(w)) / /*nz: CASE len > 0 branch*/ CAST(len(w) AS DOUBLE)
               ELSE 0.0 END AS dup_word_frac,
          CASE WHEN len(g2) > 0
               THEN 1.0 - len(list_distinct(g2)) / /*nz: CASE len > 0 branch*/ CAST(len(g2) AS DOUBLE)
               ELSE 0.0 END AS dup_2gram_frac
        FROM g
        """,
        doc="Gopher-style within-doc repetition fractions (lines/words/bigrams)",
    )
)


def _pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk the corpus, then pack chunks into 512-token training
    sequences via the two-phase distributed prefix sum (see
    sampling.pack_sequences — no single-partition window)."""
    d = load_table(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(d, chunk_size=64, overlap=16)
    return pack_sequences(chunks, budget=512).select(
        "doc_id", "chunk_idx", "n_tokens", "seq_id", "seq_offset"
    )


_register(
    QuerySpec(
        "pack_training_sequences",
        _pack,
        oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '') AS w
          FROM documents),
        base AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        idx AS (
          SELECT doc_id, w,
                 UNNEST(range(0, CAST(floor((n - 1) / 48) AS BIGINT) + 1))
                   AS chunk_idx
          FROM base),
        chunks AS (
          SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 CAST(len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64))
                      AS BIGINT) AS n_tokens
          FROM idx),
        ord AS (
          SELECT doc_id, chunk_idx, n_tokens,
                 SUM(n_tokens) OVER (
                   ORDER BY md5(doc_id || ':' || chunk_idx), doc_id, chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS cum
          FROM chunks)
        SELECT doc_id, chunk_idx, n_tokens,
               CAST(cum // 512 AS BIGINT) AS seq_id,
               CAST(cum % 512 AS BIGINT) AS seq_offset
        FROM ord
        """,
        doc="concat-and-split sequence packing: two-phase prefix sum, hash order",
        bench=True,
    )
)


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination signal: docs sharing 3-gram shingles
    with a benchmark split (every 97th doc stands in for the eval set).
    Corpus side joins hashed shingles against a BROADCAST distinct
    benchmark-shingle set — no corpus shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_hits(corpus, bench, "doc_id", "text", n=3)


_register(
    QuerySpec(
        "dedup_decontaminate",
        _decontaminate,
        oracle="""
        WITH bsh AS (
          SELECT DISTINCT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
                      FROM documents WHERE doc_id % 97 = 0)
                WHERE len(w) >= 3)),
        csh AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\\s+') AS w
                      FROM documents WHERE doc_id % 97 <> 0)
                WHERE len(w) >= 3))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM csh JOIN bsh USING (sh)
        GROUP BY doc_id
        """,
        doc="benchmark decontamination hits: broadcast shingle semi-join",
        bench=True,
    )
)


def _q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (only-late supplier on multi-supplier orders),
    reformulated Spark-first: the classic EXISTS + NOT-EXISTS pair of
    correlated self-joins collapses into ONE per-order aggregate
    (count distinct suppliers / distinct LATE suppliers) joined back —
    two shuffles total instead of three self-join shuffles of
    lineitem.  The DuckDB oracle states the same semantics
    independently.  numwait = orders where this supplier was the only
    late one among several."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    l = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    return (
        l.filter("late")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter((F.col("n_supps") > 1) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .join(s.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_register(
    QuerySpec(
        "q21_waiting_suppliers",
        _q21_waiting_supplier,
        oracle="""
        WITH l AS (
          SELECT l_orderkey, l_suppkey,
                 l_shipdate > o_orderdate + INTERVAL 365 DAY AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'),
        po AS (
          SELECT l_orderkey,
                 COUNT(DISTINCT l_suppkey) AS n_supps,
                 COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
          FROM l GROUP BY 1),
        w AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE late)
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM w JOIN po USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supps > 1 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """,
        doc="q21 shape: EXISTS/NOT-EXISTS pair as one per-order aggregate",
    )
)


# ---------------------------------------------------------------------------
# End-to-end warehouse pipelines (reference mains, §2 composition proof)
# ---------------------------------------------------------------------------


def _pipeline_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payments ETL main end-to-end (src/etl-square-payments.ts:130-150):
    fixture-adapter scan → money coalesce + quarantine → tenancy enrich →
    POS_PAYMENTS conformance.  ``raw_payload`` is excluded from the
    checked output only because Spark's ``to_json`` and DuckDB's JSON
    serialization differ on key order/null elision — the column itself
    is pinned by tests/test_pipelines.py."""
    from square_etl_spark import pipelines as P

    rows, _ = P.payments_pipeline(P.payments_source(spark, sf_dir))
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_payments",
        _pipeline_payments,
        oracle="""
        WITH src AS (
          SELECT 'pay-' || o_orderkey AS payment_id,
                 CASE WHEN o_orderkey % 5 = 0 THEN NULL
                      ELSE 'ord-' || o_orderkey END AS order_id,
                 'loc-' || (o_custkey % 10) AS location_id,
                 o_orderdate AS created_at,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL
                      ELSE o_orderdate + INTERVAL 1 HOUR END AS updated_at,
                 CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END AS total_amount,
                 CASE WHEN o_orderkey % 9 = 0 THEN NULL
                      ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END AS amount_amount,
                 'USD' AS currency,
                 o_orderstatus AS status,
                 'cust-' || o_custkey AS customer_id,
                 CASE WHEN o_orderkey % 2 = 0 THEN NULL
                      ELSE 'ref-' || o_orderkey END AS reference_id
          FROM orders)
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               payment_id, order_id, location_id, created_at, updated_at,
               COALESCE(total_amount, amount_amount) AS amount,
               currency, status, customer_id, reference_id
        FROM src
        WHERE COALESCE(total_amount, amount_amount) IS NOT NULL
        """,
        doc="payments ETL main end-to-end: scan → map → quarantine → conform",
    )
)


def _pipeline_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-items ETL main end-to-end (src/etl-square-orders.ts:174-217):
    first-wins order→payment map, broadcast join onto exploded lines,
    per-line validity quarantine, POS_ORDER_ITEMS conformance — the
    reference's widest composition as one declarative plan."""
    from square_etl_spark import pipelines as P

    rows, _ = P.order_items_pipeline(
        P.payments_source(spark, sf_dir), P.order_items_source(spark, sf_dir)
    )
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_order_items",
        _pipeline_order_items,
        oracle="""
        WITH o2p AS (
          SELECT 'ord-' || o_orderkey AS order_id,
                 MIN('pay-' || o_orderkey) AS payment_id
          FROM orders WHERE o_orderkey % 5 <> 0
          GROUP BY 1),
        lines AS (
          SELECT 'ord-' || l_orderkey AS order_id,
                 CASE WHEN (l_orderkey + l_linenumber) % 13 = 0 THEN NULL
                      ELSE 'li-' || l_orderkey || '-' || l_linenumber
                 END AS line_item_uid,
                 'obj-' || l_partkey AS catalog_object_id,
                 CASE WHEN l_partkey % 6 = 0 THEN NULL
                      ELSE 'item ' || l_partkey END AS item_name,
                 CASE WHEN l_orderkey % 7 = 0 THEN 'garbage'
                      WHEN l_orderkey % 11 = 0 THEN CAST(-l_quantity AS VARCHAR)
                      ELSE CAST(l_quantity AS VARCHAR)
                 END AS quantity_str,
                 CASE WHEN l_linenumber % 4 = 0 THEN NULL
                      ELSE CAST(floor(l_extendedprice * 100) AS BIGINT)
                 END AS base_price_amount,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS total_money_amount,
                 'loc-' || (l_suppkey % 10) AS location_id
          FROM lineitem),
        staged AS (
          SELECT l.*, p.payment_id,
                 TRY_CAST(l.quantity_str AS DOUBLE) AS quantity
          FROM lines l JOIN o2p p USING (order_id))
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               order_id, payment_id, line_item_uid, catalog_object_id,
               item_name, CAST(NULL AS VARCHAR) AS sku, quantity,
               base_price_amount, total_money_amount,
               'USD' AS currency, location_id
        FROM staged
        WHERE line_item_uid IS NOT NULL
          AND quantity IS NOT NULL AND quantity > 0
        """,
        doc="order-items ETL main end-to-end: first-wins map → broadcast join → quarantine → conform",
    )
)

def _incremental_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance proof: orders arrive as three
    disjoint batches (keyed split), each folded into the stored rollup
    with O(batch) work; the final table must equal the one-shot
    GROUP BY over everything — which is exactly what the DuckDB oracle
    computes.  SUM/COUNT are monoids, so maintain∘maintain ≡ aggregate
    (operators/aggregations.incremental_rollup)."""
    from square_etl_spark.operators.aggregations import incremental_rollup

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").alias("order_year"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    rollup = None
    for i in range(3):  # three incremental refreshes
        batch = src.filter(F.col("o_orderkey") % 3 == i).drop("o_orderkey")
        rollup = incremental_rollup(
            rollup, batch, ["o_orderstatus", "order_year"], ["cents"]
        )
    return rollup.select(
        "o_orderstatus",
        "order_year",
        F.col("cents").alias("revenue_cents"),
        "n_rows",
    )


_register(
    QuerySpec(
        "incremental_rollup_revenue",
        _incremental_rollup_revenue,
        oracle="""
        SELECT o_orderstatus,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders
        GROUP BY 1, 2
        """,
        doc="algebraic rollup maintenance: 3 incremental refreshes ≡ one-shot aggregate",
    )
)


def _scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: two monthly snapshots of a
    customer→segment dimension flow through scd2_merge
    (sinks/merge.py) — month 2 moves every third customer to a new
    segment, so those keys must show a closed version plus a new
    current one, everyone else exactly one untouched current row.  The
    oracle restates the semantics declaratively: version starts =
    value-change points over the unioned snapshots (LAG), valid_to =
    next start (LEAD)."""
    from square_etl_spark.sinks.merge import scd2_merge

    c = load_table(spark, sf_dir, "customer")
    b1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    b2 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("ts"),
    )
    hist = scd2_merge(None, b1, ["c_custkey"], "ts", ["segment"])
    hist = scd2_merge(hist, b2, ["c_custkey"], "ts", ["segment"])
    return hist


_register(
    QuerySpec(
        "scd2_customer_segment",
        _scd2_customer_segment,
        oracle="""
        WITH b AS (
          SELECT c_custkey, c_mktsegment AS segment,
                 TIMESTAMP '2024-01-01 00:00:00' AS ts
          FROM customer
          UNION ALL
          SELECT c_custkey,
                 CASE WHEN c_custkey % 3 = 0 THEN 'MOVED'
                      ELSE c_mktsegment END,
                 TIMESTAMP '2024-02-01 00:00:00'
          FROM customer),
        v AS (
          SELECT c_custkey, segment, ts,
                 LAG(segment) OVER (PARTITION BY c_custkey ORDER BY ts) AS prev
          FROM b),
        starts AS (
          SELECT c_custkey, segment, ts FROM v
          WHERE prev IS NULL OR segment <> prev),
        hist AS (
          SELECT c_custkey, segment, ts AS valid_from,
                 LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS valid_to
          FROM starts)
        SELECT c_custkey, segment, valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM hist
        """,
        doc="SCD Type-2 dimension history: close-and-open on value change",
    )
)


def _incremental_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type maintained across three
    incremental refreshes via HLL sketch union
    (operators/aggregations.incremental_hll) — rows-only by design:
    the Datasketches estimate is engine-specific, so no ANSI oracle
    exists; the maintain≡one-shot equality is pinned in
    tests/test_rollup.py instead."""
    from square_etl_spark.operators.aggregations import incremental_hll

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    sketches = None
    for i in range(3):
        batch = e.filter(F.col("event_id") % 3 == i).drop("event_id")
        sketches = incremental_hll(sketches, batch, ["event_type"], "user_id")
    return sketches.select(
        "event_type",
        F.hll_sketch_estimate("hll").alias("approx_users"),
    ).orderBy("event_type")


_register(
    QuerySpec(
        "incremental_hll_users",
        _incremental_hll_users,
        oracle=None,  # sketch estimates are engine-specific
        doc="incremental distinct maintenance via HLL sketch union (rows-only check)",
    )
)


def _pipeline_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog ETL main end-to-end (src/etl-square-catalog.ts:129-172):
    the reference's driver-side ITEM.id→name/category maps become ONE
    broadcast left join, the ``parentName ?? variationName`` fallback is
    P3's coalesce, missing-id variations quarantine (:35-38), conform to
    POS_CATALOG.  ``raw_payload`` excluded as in pipeline_payments."""
    from square_etl_spark import pipelines as P

    items, variations = P.catalog_source(spark, sf_dir)
    rows, _ = P.catalog_pipeline(items, variations)
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_catalog",
        _pipeline_catalog,
        oracle="""
        WITH items AS (
          SELECT 'item-' || p_partkey AS item_id,
                 CASE WHEN p_partkey % 2 = 0 THEN NULL ELSE p_name END AS item_name,
                 CASE WHEN p_partkey % 6 = 0 THEN NULL
                      ELSE 'cat-' || (p_partkey % 25) END AS category_id
          FROM part),
        vars AS (
          SELECT CASE WHEN p_partkey % 17 = 0 THEN NULL
                      ELSE 'var-' || p_partkey END AS catalog_object_id,
                 'ITEM_VARIATION' AS object_type,
                 'item-' || p_partkey AS item_id,
                 p_type AS variation_name,
                 CASE WHEN p_partkey % 4 = 0 THEN NULL
                      ELSE p_brand || '-' || p_partkey END AS sku,
                 p_partkey % 10 = 0 AS is_deleted
          FROM part)
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               catalog_object_id, object_type,
               COALESCE(item_name, variation_name) AS item_name,
               variation_name, sku, category_id,
               COALESCE(is_deleted, FALSE) AS is_deleted
        FROM vars LEFT JOIN items USING (item_id)
        WHERE catalog_object_id IS NOT NULL
        """,
        doc="catalog ETL main end-to-end: broadcast build/probe + parent-name fallback",
    )
)


def _pipeline_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory ETL main end-to-end (src/etl-square-inventory.ts:
    126-142): id required, parseFloat-with-skip quantity (zero/negative
    stock states legal), ``state ?? "UNKNOWN"``, conform to
    POS_INVENTORY."""
    from square_etl_spark import pipelines as P

    rows, _ = P.inventory_pipeline(P.inventory_source(spark, sf_dir))
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_inventory",
        _pipeline_inventory,
        oracle="""
        WITH src AS (
          SELECT CASE WHEN l_orderkey % 19 = 0 THEN NULL
                      ELSE 'obj-' || l_partkey END AS catalog_object_id,
                 'ITEM_VARIATION' AS catalog_object_type,
                 'loc-' || (l_suppkey % 10) AS location_id,
                 CASE WHEN l_linenumber % 3 = 0 THEN NULL
                      ELSE l_returnflag END AS state_raw,
                 CASE WHEN l_orderkey % 7 = 0 THEN 'garbage'
                      ELSE CAST(l_quantity AS VARCHAR) END AS quantity_str,
                 l_shipdate AS calculated_at
          FROM lineitem)
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               catalog_object_id, catalog_object_type, location_id,
               COALESCE(state_raw, 'UNKNOWN') AS state,
               TRY_CAST(quantity_str AS DOUBLE) AS quantity,
               calculated_at
        FROM src
        WHERE catalog_object_id IS NOT NULL
          AND TRY_CAST(quantity_str AS DOUBLE) IS NOT NULL
        """,
        doc="inventory ETL main end-to-end: tolerant parse + enum default + conform",
    )
)


def _pipeline_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The categories ETL main end-to-end (src/etl-square-categories.ts):
    id required, ``name ?? "Unknown Category"``, ``is_top_level ?? true``,
    parent left NULL exactly as the reference does (:42)."""
    from square_etl_spark import pipelines as P

    rows, _ = P.categories_pipeline(P.categories_source(spark, sf_dir))
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_categories",
        _pipeline_categories,
        oracle="""
        WITH src AS (
          SELECT CASE WHEN n_nationkey % 23 = 0 THEN NULL
                      ELSE 'cat-' || n_nationkey END AS category_id,
                 CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS name_raw,
                 CASE WHEN n_nationkey % 3 = 0 THEN NULL
                      ELSE n_regionkey = 0 END AS top_level_raw
          FROM nation)
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               category_id,
               COALESCE(name_raw, 'Unknown Category') AS category_name,
               CAST(NULL AS VARCHAR) AS parent_category_id,
               COALESCE(top_level_raw, TRUE) AS is_top_level,
               FALSE AS is_deleted
        FROM src
        WHERE category_id IS NOT NULL
        """,
        doc="categories ETL main end-to-end: literal defaults + typed null parent",
    )
)


def _pipeline_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The locations ETL main end-to-end (src/etl-square-locations.ts):
    the reference's only two-field requirement (id AND name, :30-33),
    address struct flattened null-skipping with ''→NULL (P6)."""
    from square_etl_spark import pipelines as P

    rows, _ = P.locations_pipeline(P.locations_source(spark, sf_dir))
    return rows.drop("raw_payload")


_register(
    QuerySpec(
        "pipeline_locations",
        _pipeline_locations,
        oracle="""
        WITH src AS (
          SELECT CASE WHEN c_custkey % 31 = 0 THEN NULL
                      ELSE 'loc-' || c_custkey END AS location_id,
                 CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END AS location_name,
                 CASE WHEN c_custkey % 6 = 0 THEN NULL
                      ELSE c_mktsegment END AS addr_line1,
                 CASE WHEN c_custkey % 9 = 0 THEN NULL
                      ELSE 'city-' || c_nationkey END AS addr_locality,
                 CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE 'UTC' END AS timezone,
                 CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE 'ACTIVE' END AS status
          FROM customer)
        SELECT 'tenant-1' AS tenant_id,
               'square' AS provider,
               'default-square' AS provider_account_id,
               location_id, location_name,
               NULLIF(concat_ws(', ', addr_line1, addr_locality), '') AS address,
               timezone, status
        FROM src
        WHERE location_id IS NOT NULL AND location_name IS NOT NULL
        """,
        doc="locations ETL main end-to-end: two-field requirement + address flatten",
    )
)


# ---------------------------------------------------------------------------
# Event-behavior analytics (§2.10 extension: funnels / retention /
# streaks / dense time series — operators/behavior.py).  All four are
# one-Exchange shapes on the per-entity partitioning.
# ---------------------------------------------------------------------------


def _funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion view → click → purchase: stage i+1
    counts only events STRICTLY AFTER the user's stage-i time
    (operators/behavior.funnel_stage_times).  The reference merges raw
    events (src/etl-square-payments.ts row conform); this is the
    analytics layer any consumer builds on top.  The sequential
    MIN-over-predicate windows all share PARTITION BY user_id — one
    Exchange for the whole funnel at any scale."""
    from square_etl_spark.operators.behavior import funnel_stage_times

    e = load_table(spark, sf_dir, "events")
    st = funnel_stage_times(e, "ts", "user_id", "event_type",
                            ["view", "click", "purchase"])
    agg = st.agg(
        F.count("stage_1_ts").alias("users_view"),
        F.count("stage_2_ts").alias("users_click"),
        F.count("stage_3_ts").alias("users_purchase"),
    )
    # denominator guard (selfcheck NaN policy: oracles must not emit
    # NaN) — zero view-users yields NULL ratios on both engines
    nz = F.when(F.col("users_view") > 0, F.col("users_view"))
    return agg.select(
        "users_view", "users_click", "users_purchase",
        F.round(F.col("users_click") / nz, 6).alias("conv_click"),
        F.round(F.col("users_purchase") / nz, 6).alias("conv_purchase"),
    )


_register(
    QuerySpec(
        "funnel_conversion",
        _funnel_conversion,
        oracle="""
        WITH e1 AS (
          SELECT user_id, ts, event_type,
                 MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS s1
          FROM events),
        e2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > s1
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS s2
          FROM e1),
        e3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > s2
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS s3
          FROM e2),
        u AS (SELECT user_id, MIN(s1) AS s1, MIN(s2) AS s2, MIN(s3) AS s3
              FROM e3 GROUP BY user_id),
        c AS (SELECT COUNT(s1) AS users_view, COUNT(s2) AS users_click,
                     COUNT(s3) AS users_purchase
              FROM u)
        SELECT users_view, users_click, users_purchase,
               ROUND(CAST(users_click AS DOUBLE)
                     / NULLIF(users_view, 0), 6) AS conv_click,
               ROUND(CAST(users_purchase AS DOUBLE)
                     / NULLIF(users_view, 0), 6) AS conv_purchase
        FROM c
        """,
        bench=True,
        doc="ordered funnel (view→click→purchase), sequential windows, one Exchange",
    )
)


def _retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over events: cohort = ISO week
    of first touch, cell = distinct users from that cohort active in
    week cohort+offset (operators/behavior.retention_cohorts)."""
    from square_etl_spark.operators.behavior import retention_cohorts

    e = load_table(spark, sf_dir, "events")
    return retention_cohorts(e, "ts", "user_id")


_register(
    QuerySpec(
        "retention_cohorts",
        _retention_cohorts,
        oracle="""
        WITH f AS (
          SELECT user_id, ts,
                 MIN(ts) OVER (PARTITION BY user_id) AS first_ts
          FROM events),
        wk AS (
          SELECT DISTINCT user_id,
                 date_trunc('week', first_ts) AS cohort_week,
                 date_trunc('week', ts) AS active_week
          FROM f),
        cells AS (
          SELECT cohort_week,
                 CAST(date_diff('day', cohort_week, active_week) // 7
                      AS BIGINT) AS week_offset,
                 COUNT(*) AS active_users
          FROM wk GROUP BY 1, 2)
        SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
               week_offset, active_users,
               MAX(CASE WHEN week_offset = 0 THEN active_users END)
                 OVER (PARTITION BY cohort_week) AS cohort_size,
               ROUND(CAST(active_users AS DOUBLE)
                     / /*nz: offset-0 cohort row always present*/ MAX(CASE WHEN week_offset = 0 THEN active_users END)
                         OVER (PARTITION BY cohort_week),
                     6) AS retention
        FROM cells
        """,
        doc="weekly cohort-retention triangle: first-touch window + (user,week) dedup",
    )
)


def _streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (operators/behavior.activity_streaks):
    day − row_number is the island anchor, one grouped count per
    island, deterministic argmax."""
    from square_etl_spark.operators.behavior import activity_streaks

    e = load_table(spark, sf_dir, "events")
    return activity_streaks(e, "ts", "user_id")


_register(
    QuerySpec(
        "streaks_user_activity",
        _streaks,
        oracle="""
        WITH d AS (
          SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS day
          FROM events),
        i AS (
          SELECT k, day,
                 day - CAST(ROW_NUMBER() OVER (PARTITION BY k
                                               ORDER BY day)
                            AS INTEGER) AS anchor
          FROM d),
        s AS (
          SELECT k, anchor, COUNT(*) AS streak_days, MIN(day) AS start_day
          FROM i GROUP BY 1, 2),
        b AS (
          SELECT k, streak_days, start_day,
                 ROW_NUMBER() OVER (PARTITION BY k
                                    ORDER BY streak_days DESC, start_day)
                   AS rk
          FROM s)
        SELECT k AS user_id, streak_days,
               strftime(start_day, '%Y-%m-%d') AS streak_start
        FROM b WHERE rk = 1
        """,
        doc="gaps-and-islands: longest consecutive-day streak per user",
    )
)


def _gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily revenue series with forward-fill for a bounded user
    cohort (operators/behavior.gapfill_daily): per-day decimal sums on
    the global calendar grid, gaps carry the last observed value,
    days before first observation stay NULL."""
    from square_etl_spark.operators.behavior import gapfill_daily
    from square_etl_spark.operators.aggregations import decimal_sum

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    out = gapfill_daily(e, "ts", "user_id", decimal_sum(F.col("value")))
    return out.select(
        "user_id", "day", F.round("v_filled", 6).alias("v_filled")
    )


_register(
    QuerySpec(
        "timeseries_gapfill",
        _gapfill,
        oracle="""
        WITH daily AS (
          SELECT user_id AS k, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
          FROM events WHERE user_id < 30 GROUP BY 1, 2),
        b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        cal AS (
          SELECT CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                             CAST(d1 AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE)
                   AS day
          FROM b),
        grid AS (
          SELECT k, day FROM (SELECT DISTINCT k FROM daily), cal),
        filled AS (
          SELECT grid.k, grid.day,
                 LAST_VALUE(daily.v IGNORE NULLS)
                   OVER (PARTITION BY grid.k ORDER BY grid.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS v_filled
          FROM grid LEFT JOIN daily
            ON grid.k = daily.k AND grid.day = daily.day)
        SELECT k AS user_id, strftime(day, '%Y-%m-%d') AS day,
               ROUND(v_filled, 6) AS v_filled
        FROM filled
        """,
        doc="dense daily grid + forward-fill (sequence/explode calendar, IGNORE NULLS window)",
    )
)


# ---------------------------------------------------------------------------
# Mergeable sketches (§2.10 extension: operators/sketches.py) — count-min
# frequency estimates and Bloom-filter join pruning, md5-hashed so the
# oracle recomputes the identical sketch.
# ---------------------------------------------------------------------------


def _heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 x width 64) over event user_ids,
    estimate vs exact for every key: the estimate is min-over-rows of
    the key's cells, never below the exact count, over by collision
    mass only (the CM guarantee, certified row-by-row by the
    ``overestimate >= 0`` column the oracle recomputes).  The sketch
    is 256 cells REGARDLESS of input size — one partial-agged shuffle
    to build, broadcast to probe; the monoid merge is pinned in
    test_sketches."""
    from square_etl_spark.operators.sketches import cms_build, cms_estimate

    e = load_table(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id", depth=4, width=64)
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(
        sketch, exact.select("user_id"), "user_id", depth=4, width=64
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt"))
        .cast("long")
        .alias("overestimate"),
    )


_register(
    QuerySpec(
        "heavy_hitters_cms",
        _heavy_hitters,
        oracle="""
        WITH seeds AS (SELECT UNNEST(generate_series(0, 3)) AS j),
        cells AS (
          SELECT j,
                 CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                        || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 64 AS b,
                 COUNT(*) AS cnt
          FROM events, seeds GROUP BY 1, 2),
        exact AS (
          SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1),
        probe AS (
          SELECT user_id, j,
                 CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                        || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 64 AS b
          FROM exact, seeds),
        est AS (
          SELECT probe.user_id, MIN(cells.cnt) AS cms_est
          FROM probe JOIN cells USING (j, b) GROUP BY 1)
        SELECT exact.user_id, exact_cnt,
               CAST(cms_est AS BIGINT) AS cms_est,
               CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
        FROM exact JOIN est ON exact.user_id = est.user_id
        """,
        bench=True,
        doc="count-min sketch: deterministic md5 cells, estimate >= exact certified per key",
    )
)


def _bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning end-to-end: build a 4096-bit / 3-hash
    filter over BUILDING-segment customer keys, probe the distinct
    order custkeys, and count what survives at each stage.  A green
    row certifies zero false negatives (candidates ⊇ true matches —
    ``orders_after_prune`` ≥ ``orders_true``) and the exact
    deterministic false-positive set.  At 100 TB this is explicit
    semi-join pruning: the filter is ≤ m rows broadcast next to the
    big-side scan, so non-matching rows die before the shuffle."""
    from square_etl_spark.operators.sketches import (
        bloom_build,
        bloom_probe_keys,
    )

    cust = load_table(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    positions = bloom_build(build, "c_custkey", k=3, m=4096)
    orders = load_table(spark, sf_dir, "orders")
    probe_keys = orders.select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    passing = bloom_probe_keys(probe_keys, "custkey", positions, k=3, m=4096)
    true_keys = probe_keys.join(
        build, probe_keys.custkey == build.c_custkey, "left_semi"
    )
    a = build.agg(F.count(F.lit(1)).alias("build_keys"))
    b = positions.agg(F.count(F.lit(1)).alias("bits_set"))
    c = passing.agg(F.count(F.lit(1)).alias("candidate_keys"))
    d = true_keys.agg(F.count(F.lit(1)).alias("true_keys"))
    e = (
        orders.join(
            passing,
            orders.o_custkey == passing.custkey,
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("orders_after_prune"))
    )
    f = (
        orders.join(
            build,
            orders.o_custkey == build.c_custkey,
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("orders_true"))
    )
    out = a.crossJoin(b).crossJoin(c).crossJoin(d).crossJoin(e).crossJoin(f)
    return out.select(
        "build_keys",
        "bits_set",
        "candidate_keys",
        "true_keys",
        (F.col("candidate_keys") - F.col("true_keys")).alias(
            "false_positive_keys"
        ),
        "orders_after_prune",
        "orders_true",
    )


_register(
    QuerySpec(
        "bloom_prune_join",
        _bloom_prune,
        oracle="""
        WITH build AS (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        hashes AS (SELECT UNNEST(generate_series(0, 2)) AS j),
        positions AS (
          SELECT DISTINCT
                 CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                        || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                   % 4096 AS pos
          FROM build, hashes),
        probe_keys AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        probe_pos AS (
          SELECT custkey,
                 CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                        || CAST(custkey AS VARCHAR)), 1, 8) AS BIGINT)
                   % 4096 AS pos
          FROM probe_keys, hashes),
        passing AS (
          SELECT custkey FROM probe_pos
          JOIN positions USING (pos)
          GROUP BY custkey HAVING COUNT(*) = 3),
        true_keys AS (
          SELECT custkey FROM probe_keys
          WHERE custkey IN (SELECT c_custkey FROM build))
        SELECT (SELECT COUNT(*) FROM build) AS build_keys,
               (SELECT COUNT(*) FROM positions) AS bits_set,
               (SELECT COUNT(*) FROM passing) AS candidate_keys,
               (SELECT COUNT(*) FROM true_keys) AS true_keys,
               (SELECT COUNT(*) FROM passing)
                 - (SELECT COUNT(*) FROM true_keys) AS false_positive_keys,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IN
                  (SELECT custkey FROM passing)) AS orders_after_prune,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IN
                  (SELECT c_custkey FROM build)) AS orders_true
        """,
        doc="Bloom semi-join pruning: no false negatives + exact deterministic FP set",
    )
)


def _snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed generation between two deterministic snapshots of
    orders (sinks/merge.snapshot_diff — the inverse of cdc_merge):
    old = keys with k % 10 != 7 at stored price; new = keys with
    k % 13 != 5, price bumped +1.50 where k % 3 == 0.  One FULL OUTER
    join classifies every key I/U/D with null-safe compares; the
    round trip cdc_merge(old, feed) == new is pytest-pinned."""
    from square_etl_spark.sinks.merge import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderkey") % 13 != 5)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.round(F.col("o_totalprice") + 1.5, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


_register(
    QuerySpec(
        "snapshot_diff_orders",
        _snapshot_diff_orders,
        oracle="""
        WITH old AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 10 <> 7),
        new AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0
                      THEN ROUND(o_totalprice + 1.5, 2)
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 13 <> 5),
        j AS (
          SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
                 old.o_orderkey IS NOT NULL AS in_old,
                 new.o_orderkey IS NOT NULL AS in_new,
                 (old.o_orderstatus IS DISTINCT FROM new.o_orderstatus)
                  OR (old.o_totalprice IS DISTINCT FROM new.o_totalprice)
                   AS changed,
                 new.o_orderstatus, new.o_totalprice
          FROM old FULL OUTER JOIN new
            ON old.o_orderkey = new.o_orderkey)
        SELECT o_orderkey,
               CASE WHEN NOT in_old THEN 'I'
                    WHEN NOT in_new THEN 'D'
                    ELSE 'U' END AS op,
               o_orderstatus, o_totalprice
        FROM j
        WHERE (NOT in_old) OR (NOT in_new) OR changed
        """,
        doc="snapshot diff -> CDC feed: FULL OUTER I/U/D classification, cdc_merge round-trip pinned",
    )
)


def _kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact Lloyd iterations over the embeddings table
    (operators/clustering.kmeans_fixed): deterministic seed = vectors
    0..3, long-form decimal-sum distances, argmin with a total order,
    centroid means from exact decimal sums.  Output is the per-cluster
    footprint (members / inertia / centroid norm²) and the oracle
    recomputes BOTH iterations end-to-end — a green row certifies the
    full iterative computation, not just the final shape."""
    from square_etl_spark.operators.clustering import (
        kmeans_fixed,
        kmeans_summary,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assign, cent = kmeans_fixed(e, "vec_id", "embedding", k=4, iters=2)
    return kmeans_summary(assign, cent)


def _kmeans_oracle() -> str:
    return f"""
        WITH {_kmeans_ctes()},
        m AS (
          SELECT c, COUNT(*) AS n_members,
                 ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS inertia
          FROM a2 GROUP BY c),
        nrm AS (
          SELECT c,
                 ROUND(CAST(SUM(CAST(ROUND(cval * cval, 9)
                                     AS DECIMAL(38,9))) AS DOUBLE), 6)
                   AS centroid_norm2
          FROM c2 GROUP BY c)
        SELECT CAST(m.c AS BIGINT) AS cluster, n_members, inertia,
               centroid_norm2
        FROM m JOIN nrm USING (c)
        """


_register(
    QuerySpec(
        "kmeans_embeddings",
        _kmeans_embeddings,
        oracle=_kmeans_oracle(),
        doc="2 exact Lloyd iterations, both recomputed by the oracle (decimal distances)",
    )
)


def _semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.semantic_dedup):
    the k=4, iters=2 exact Lloyd clustering blocks the pair space,
    within-cluster cosine ≥ 0.35 prunes the larger id (first-wins).
    The oracle recomputes the ENTIRE composition — both Lloyd
    iterations, the data-adaptive blocking, and the prune — so a
    green row certifies cluster-as-block semantics end to end, not
    just the final verdict column."""
    from square_etl_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, "vec_id", "embedding", k=4, iters=2, threshold=0.35, dim=64
    )


_register(
    QuerySpec(
        "dedup_semantic",
        _semantic_dedup_q,
        oracle=f"""
        WITH {_kmeans_ctes()},
        {_NV_CTE.strip()},
        t AS (
          SELECT nv.vec_id AS vid, nv.nv, a2.c
          FROM nv JOIN a2 ON nv.vec_id = a2.vid),
        dup AS (
          SELECT DISTINCT b.vid
          FROM t a JOIN t b ON a.c = b.c AND a.vid < b.vid
          WHERE ROUND(list_dot_product(a.nv, b.nv), 6) >= 0.35)
        SELECT t.vid AS vec_id, CAST(t.c AS BIGINT) AS cluster,
               (dup.vid IS NULL) AS kept
        FROM t LEFT JOIN dup ON t.vid = dup.vid
        """,
        doc="SemDeDup: k-means blocks + within-cluster cosine prune, "
        "full composition recomputed by the oracle",
        bench=True,
    )
)


def _semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amortized SemDeDup — fit ONCE, assign MANY, prune
    incrementally: the Lloyd fit (dedup.semantic_fit_centroids, 1
    update round) is PUBLISHED as a versioned k×d artifact
    (io.versioned_write → read_version; versioned_vacuum bounds the
    snapshot history), then three ascending-id ingest batches each
    pay only one stored-centroid assignment pass + one
    cluster-equi-join prune against the accumulated state
    (dedup.incremental_semantic_dedup).  The unioned batch labels
    equal the one-shot dedup_semantic EXACTLY (stored-assign ≡
    kmeans_fixed(iters=2)'s assignment because fit ran iters-1
    update rounds) — so this query SHARES dedup_semantic's
    full-composition oracle: same Lloyd CTEs, same blocking, same
    prune, recomputed end-to-end by DuckDB."""
    import hashlib
    import os
    import tempfile

    from square_etl_spark.io import (
        read_version,
        versioned_vacuum,
        versioned_write,
    )
    from square_etl_spark.operators.dedup import (
        incremental_semantic_dedup,
        semantic_fit_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cent = semantic_fit_centroids(
        e, "vec_id", "embedding", k=4, update_rounds=1
    )
    src = os.path.join(sf_dir, "embeddings.parquet")
    mtime = os.stat(src).st_mtime_ns if os.path.exists(src) else 0
    tag = hashlib.md5(f"{sf_dir}|{mtime}".encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_semdedup_cent_{tag}"
    )
    versioned_write(spark, cent, path)
    versioned_vacuum(path, keep=2, orphan_grace_seconds=0)
    stored = read_version(spark, path)

    n = e.count()
    cuts = [0, n // 3, 2 * n // 3, n + 1]
    state, out = None, None
    for i in range(3):
        batch = e.filter(
            (F.col("vec_id") >= cuts[i]) & (F.col("vec_id") < cuts[i + 1])
        )
        labeled, state = incremental_semantic_dedup(
            state, batch, stored, "vec_id", "embedding",
            threshold=0.35, dim=64,
        )
        state = state.localCheckpoint(eager=True)
        out = labeled if out is None else out.unionByName(labeled)
    return out


_register(
    QuerySpec(
        "dedup_semantic_incremental",
        _semantic_incremental,
        oracle=f"""
        WITH {_kmeans_ctes()},
        {_NV_CTE.strip()},
        t AS (
          SELECT nv.vec_id AS vid, nv.nv, a2.c
          FROM nv JOIN a2 ON nv.vec_id = a2.vid),
        dup AS (
          SELECT DISTINCT b.vid
          FROM t a JOIN t b ON a.c = b.c AND a.vid < b.vid
          WHERE ROUND(list_dot_product(a.nv, b.nv), 6) >= 0.35)
        SELECT t.vid AS vec_id, CAST(t.c AS BIGINT) AS cluster,
               (dup.vid IS NULL) AS kept
        FROM t LEFT JOIN dup ON t.vid = dup.vid
        """,
        doc="amortized SemDeDup: versioned centroid artifact + per-batch stored-assign prune fold ≡ one-shot (shared oracle)",
    )
)


def _sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (the D4/DataComp-style
    curation move): k-means clusters over the embedding space are the
    DIVERSITY strata, and each cluster's share of a 300-vector budget
    is ∝ size^0.5 — dense/redundant regions are downsampled hard
    while small/rare clusters survive, the opposite failure mode of
    uniform sampling (which mirrors the corpus's redundancy).  Pure
    composition of two already-oracled primitives: the exact-Lloyd
    assignment (kmeans_embeddings / dedup_semantic's blocks) feeds
    temperature_mix over the CLUSTER LABEL with per-row weight 1, so
    consumption inherits budget_cap's deterministic md5-prefix order.
    The oracle recomputes both Lloyd iterations AND the full mixture
    recipe."""
    from square_etl_spark.operators.clustering import kmeans_fixed
    from square_etl_spark.operators.sampling import temperature_mix

    e = load_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans_fixed(e, "vec_id", "embedding", k=4, iters=2)
    tagged = assign.select(
        F.col("vid").alias("vec_id"),
        F.col("c").cast("long").alias("cluster"),
    ).withColumn("w", F.lit(1).cast("long"))
    kept = temperature_mix(
        tagged, "cluster", "w", ["vec_id"], total_budget=300, alpha=0.5
    )
    return kept.select("vec_id", "cluster")


_register(
    QuerySpec(
        "sample_cluster_balanced",
        _sample_cluster_balanced,
        oracle=f"""
        WITH {_kmeans_ctes()},
        sz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n FROM a2 GROUP BY c),
        pw AS (
          SELECT c,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT c,
                 CAST(floor(ROUND(
                   ROUND(CAST(p AS DOUBLE)
                         / /*nz: sum of positive cluster weights*/
                           CAST(sp AS DOUBLE), 9) * 300, 6))
                   AS BIGINT) AS b
          FROM pw CROSS JOIN tot),
        ord AS (
          SELECT vid, c,
                 SUM(1) OVER (
                   PARTITION BY c
                   ORDER BY md5(CAST(vid AS VARCHAR)), vid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1 AS cum_before
          FROM a2)
        SELECT o.vid AS vec_id, CAST(o.c AS BIGINT) AS cluster
        FROM ord o JOIN bud USING (c)
        WHERE cum_before < b
        """,
        doc="cluster-balanced diversity sampling: per-cluster budgets "
        "prop. to size^0.5 over exact-Lloyd strata, md5-prefix take",
    )
)


def _pagerank_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank, 3 power iterations
    (operators/graph.pagerank_fixed) over a deterministic 3-regular
    graph on the event users: nodes are dense indices of the distinct
    user ids, edges i → (2i+1), (i+7), (3i+11) mod N.  Every step is
    BIGINT arithmetic, so the oracle recomputes the IDENTICAL ranks —
    the iterative-graph sibling of dedup's connected components.

    Densification uses graph.dense_index's partitioned two-phase rank
    (256 md5 shards + broadcast offsets), never a global-order window;
    the edge set — and therefore the output — depends only on N, so
    the oracle's ROW_NUMBER densification is equivalent."""
    from square_etl_spark.operators.graph import (
        pagerank_fixed,
        regular_user_graph,
    )

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    edges = regular_user_graph(users)
    return pagerank_fixed(edges, iters=3).orderBy("node")


_register(
    QuerySpec(
        "pagerank_user_graph",
        _pagerank_users,
        oracle=f"""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        nr AS (SELECT COUNT(*) AS nn FROM u),
        idx AS (
          SELECT ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS i FROM u),
        e AS (
          SELECT i AS src, (2 * i + 1) % nn AS dst FROM idx, nr
          UNION ALL SELECT i, (i + 7) % nn FROM idx, nr
          UNION ALL SELECT i, (3 * i + 11) % nn FROM idx, nr),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e),
        p0 AS (
          SELECT node, CAST({10**12} AS BIGINT) // /*nz: node count >= 1*/ nn AS pr
          FROM nodes, nr),
        s1 AS (
          SELECT dst, SUM(pr // /*nz: grouped out-degree >= 1*/ outdeg) AS sin
          FROM e JOIN p0 ON src = node JOIN deg USING (src) GROUP BY dst),
        p1 AS (
          SELECT node, CAST(15 AS BIGINT) * {10**12} // /*nz: nn >= 1*/ (100 * nn)
                       + 85 * COALESCE(sin, 0) // 100 AS pr
          FROM nodes CROSS JOIN nr LEFT JOIN s1 ON node = dst),
        s2 AS (
          SELECT dst, SUM(pr // /*nz: grouped out-degree >= 1*/ outdeg) AS sin
          FROM e JOIN p1 ON src = node JOIN deg USING (src) GROUP BY dst),
        p2 AS (
          SELECT node, CAST(15 AS BIGINT) * {10**12} // /*nz: nn >= 1*/ (100 * nn)
                       + 85 * COALESCE(sin, 0) // 100 AS pr
          FROM nodes CROSS JOIN nr LEFT JOIN s2 ON node = dst),
        s3 AS (
          SELECT dst, SUM(pr // /*nz: grouped out-degree >= 1*/ outdeg) AS sin
          FROM e JOIN p2 ON src = node JOIN deg USING (src) GROUP BY dst),
        p3 AS (
          SELECT node, CAST(15 AS BIGINT) * {10**12} // /*nz: nn >= 1*/ (100 * nn)
                       + 85 * COALESCE(sin, 0) // 100 AS pr
          FROM nodes CROSS JOIN nr LEFT JOIN s3 ON node = dst)
        SELECT node, CAST(pr AS BIGINT) AS pr_scaled FROM p3 ORDER BY node
        """,
        doc="integer-exact PageRank, 3 iterations oracle-recomputed (BIGINT power steps)",
    )
)


def _inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting statistics per term: document frequency,
    total term frequency, and the top document (argmax tf,
    deterministic min-doc_id tiebreak) — the IR/retrieval build step
    over the corpus, one explode + one grouped shuffle on term +
    a term-partitioned argmax window (same partitioning, Exchange
    reused).  At 100 TB the postings relation is the shuffle — exactly
    the cost an index build pays anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    ranked = tf.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "top_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("tf")))
            .cast("long")
            .alias("top_tf"),
        )
    )


_register(
    QuerySpec(
        "inverted_index_terms",
        _inverted_index,
        oracle=r"""
        WITH toks AS (
          SELECT doc_id,
                 UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents WHERE trim(text) <> ''),
        tf AS (
          SELECT term, doc_id, COUNT(*) AS tf
          FROM toks WHERE term <> '' GROUP BY term, doc_id),
        ranked AS (
          SELECT term, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY term
                                    ORDER BY tf DESC, doc_id) AS rk
          FROM tf)
        SELECT term, COUNT(*) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               MAX(CASE WHEN rk = 1 THEN doc_id END) AS top_doc_id,
               CAST(MAX(CASE WHEN rk = 1 THEN tf END) AS BIGINT) AS top_tf
        FROM ranked GROUP BY term
        """,
        doc="inverted-index posting stats: df / total tf / deterministic top doc per term",
    )
)


def _outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment z-score outlier detection on order totals: segment
    mean/stddev from 6-decimal decimal sums over a segment-partitioned
    window (hash-stable — same discipline as corr_price_items), each
    order scored (x − μ)/σ in identical IEEE steps on both engines,
    |z| > 2.5 flagged.  Window + grouped rollup share the segment
    partitioning: one broadcast join + one Exchange end-to-end."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(c, o.o_custkey == c.c_custkey)
    d6 = lambda col: F.round(col, 6).cast("decimal(28,6)")  # noqa: E731
    w = Window.partitionBy("c_mktsegment")
    x = F.col("o_totalprice")
    scored = (
        j.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum(d6(x)).over(w).cast("double"))
        .withColumn("sxx", F.sum(d6(x * x)).over(w).cast("double"))
        .withColumn("mean", F.col("sx") / F.col("n"))
        .withColumn(
            "sd",
            F.sqrt(
                (F.col("sxx") - F.col("n") * F.col("mean") * F.col("mean"))
                / (F.col("n") - 1)
            ),
        )
        .withColumn("z", (x - F.col("mean")) / F.col("sd"))
    )
    return (
        scored.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.abs("z") > 2.5, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
    )


_register(
    QuerySpec(
        "outlier_zscore_orders",
        _outlier_zscore,
        oracle="""
        WITH j AS (
          SELECT c_mktsegment, o_totalprice AS x
          FROM orders JOIN customer ON o_custkey = c_custkey),
        s AS (
          SELECT c_mktsegment, x,
                 COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
                 CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6)))
                        OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6)))
                        OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS sxx
          FROM j),
        z AS (
          SELECT c_mktsegment, n,
                 (x - sx / /*nz: window count >= 1*/ n)
                   / /*nz: positive variance on priced segments*/ sqrt((sxx - n * (sx / /*nz: window count >= 1*/ n) * (sx / /*nz: window count >= 1*/ n)) / /*nz: segment sizes >> 1*/ (n - 1)) AS z
          FROM s)
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN abs(z) > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers,
               ROUND(MAX(abs(z)), 6) AS max_abs_z
        FROM z GROUP BY c_mktsegment
        """,
        doc="per-segment z-score outliers: decimal-sum moments, identical IEEE scoring",
    )
)


def _fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string join (operators/joins.fuzzy_join_blocked):
    every 17th customer name gets a deterministic one-char typo
    (position 12 → 'x'); the dirty names re-match their originals by
    blocking on the last-4-chars key (which the typo never touches)
    and verifying candidates with levenshtein ≤ 1.  The two-phase
    candidate-then-verify shape keeps this linear in block-pair count
    — never all-pairs — and the oracle recomputes blocks, distances,
    and survivors."""
    from square_etl_spark.operators.joins import fuzzy_join_blocked

    c = load_table(spark, sf_dir, "customer")
    dirty = c.filter(F.col("c_custkey") % 17 == 0).select(
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("x"),
            F.substring("c_name", 13, 6),
        ).alias("dirty_name")
    )
    clean = c.select(F.col("c_name").alias("clean_name"))
    out = fuzzy_join_blocked(
        dirty,
        clean,
        "dirty_name",
        "clean_name",
        block=lambda col: F.substring(col, 15, 4),
        max_dist=1,
    )
    return out.select(
        F.col("l_val").alias("dirty_name"),
        F.col("r_val").alias("clean_name"),
        F.col("dist").cast("long").alias("dist"),
    )


_register(
    QuerySpec(
        "fuzzy_join_names",
        _fuzzy_join_names,
        oracle="""
        WITH dirty AS (
          SELECT substr(c_name, 1, 11) || 'x' || substr(c_name, 13, 6)
                   AS dirty_name
          FROM customer WHERE c_custkey % 17 = 0),
        clean AS (SELECT c_name AS clean_name FROM customer),
        cand AS (
          SELECT dirty_name, clean_name
          FROM dirty JOIN clean
            ON substr(dirty_name, 15, 4) = substr(clean_name, 15, 4))
        SELECT dirty_name, clean_name,
               CAST(levenshtein(dirty_name, clean_name) AS BIGINT) AS dist
        FROM cand
        WHERE levenshtein(dirty_name, clean_name) <= 1
        """,
        doc="blocked fuzzy join: candidate block equi-join + levenshtein verify",
    )
)


def _quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch vs exact percentiles: one
    pass bins o_totalprice into 256 fixed-width cells (a monoid —
    per-shard histograms sum cell-wise, the 100 TB path to quantiles
    without a global sort), estimates p50/p90/p99 from the cumulative
    histogram at bin midpoints, and reports the exact interpolated
    percentile beside it so the row itself certifies the error bound
    (≤ half a bin width).  All arithmetic is identical IEEE steps on
    both engines; the cumulative counts are exact integers."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    b = o.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.percentile("x", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias(
            "exact"
        ),
    )
    # degenerate-input guard (selfcheck NaN policy): hi == lo (all
    # values equal, or a 1-row table) makes the bin expression 0/0 —
    # collapse to bin 0 so est == exact == lo instead of NaN bins
    # bcast-ok: b = 1-row lo/hi bounds aggregate
    binned = o.crossJoin(F.broadcast(b)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 256
                ),
            )
        )
        .cast("long")
        .alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    ps = b.select(
        F.posexplode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias(
            "idx", "p"
        ),
        "lo",
        "hi",
        "n",
        "exact",
    )
    picked = (
        # bcast-ok: cumulative histogram, one row per sketch bucket (bounded by bucket param)
        ps.join(F.broadcast(cum), F.col("cum") >= F.col("p") * F.col("n"))
        .groupBy("idx", "p", "lo", "hi", "exact")
        .agg(F.min("bin").alias("qbin"))
    )
    return picked.select(
        "p",
        F.round(
            F.col("lo")
            + (F.col("qbin") + 0.5) * (F.col("hi") - F.col("lo")) / 256.0,
            6,
        ).alias("est_value"),
        F.round(F.col("exact")[F.col("idx")], 6).alias("exact_value"),
        F.round(
            F.abs(
                F.col("lo")
                + (F.col("qbin") + 0.5) * (F.col("hi") - F.col("lo")) / 256.0
                - F.col("exact")[F.col("idx")]
            ),
            6,
        ).alias("abs_err"),
    )


_register(
    QuerySpec(
        "quantile_sketch_orders",
        _quantile_sketch,
        oracle="""
        WITH src AS (SELECT o_totalprice AS x FROM orders),
        b AS (
          SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n,
                 quantile_cont(x, 0.5) AS e50,
                 quantile_cont(x, 0.9) AS e90,
                 quantile_cont(x, 0.99) AS e99
          FROM src),
        binned AS (
          SELECT CASE WHEN hi = lo THEN 0
                      ELSE LEAST(255, CAST(FLOOR((x - lo) / /*nz: ELSE branch of the hi = lo guard*/ (hi - lo) * 256)
                                           AS BIGINT)) END AS bin
          FROM src, b),
        hist AS (SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
        cum AS (
          SELECT bin, SUM(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM hist),
        ps AS (
          SELECT 0.5 AS p, e50 AS exact, lo, hi, n FROM b
          UNION ALL SELECT 0.9, e90, lo, hi, n FROM b
          UNION ALL SELECT 0.99, e99, lo, hi, n FROM b),
        picked AS (
          SELECT p, exact, lo, hi, MIN(bin) AS qbin
          FROM ps JOIN cum ON cum >= p * n
          GROUP BY p, exact, lo, hi)
        SELECT p,
               ROUND(lo + (qbin + 0.5) * (hi - lo) / 256.0, 6) AS est_value,
               ROUND(exact, 6) AS exact_value,
               ROUND(abs(lo + (qbin + 0.5) * (hi - lo) / 256.0 - exact), 6)
                 AS abs_err
        FROM picked
        """,
        doc="mergeable 256-bin quantile sketch with in-row exact-percentile error bound",
        global_window_ok="cumulative sum over the 256-bin histogram (bounded by construction)",
    )
)


def _spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial proximity join
    (operators/joins.spatial_bin_join): suppliers and customers get
    deterministic integer coordinates on a 10000×10000 plane (affine
    hashes of their keys), and every pair within Euclidean distance
    800 is found via radius-sized grid cells + 3×3 neighbor
    replication + EXACT integer distance² verify — no float in the
    predicate, no all-pairs anywhere, and the oracle recomputes cells
    and distances verbatim."""
    from square_etl_spark.operators.joins import spatial_bin_join

    R = 800
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919) % 10000).alias("lx"),
        ((F.col("s_suppkey") * 104729) % 10000).alias("ly"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 10000).alias("rx"),
        ((F.col("c_custkey") * 104729) % 10000).alias("ry"),
    )
    out = spatial_bin_join(s, c, radius=R)
    return out.select("s_suppkey", "c_custkey", "dist2")


_register(
    QuerySpec(
        "spatial_join_proximity",
        _spatial_join,
        oracle="""
        WITH s AS (
          SELECT s_suppkey,
                 (s_suppkey * 7919) % 10000 AS lx,
                 (s_suppkey * 104729) % 10000 AS ly
          FROM supplier),
        c AS (
          SELECT c_custkey,
                 (c_custkey * 7919) % 10000 AS rx,
                 (c_custkey * 104729) % 10000 AS ry
          FROM customer),
        d AS (SELECT UNNEST([-1, 0, 1]) AS dx),
        e AS (SELECT UNNEST([-1, 0, 1]) AS dy),
        lc AS (
          SELECT s_suppkey, lx, ly,
                 CAST(FLOOR(lx / 800) AS BIGINT) + dx AS cx,
                 CAST(FLOOR(ly / 800) AS BIGINT) + dy AS cy
          FROM s, d, e),
        rc AS (
          SELECT c_custkey, rx, ry,
                 CAST(FLOOR(rx / 800) AS BIGINT) AS cx,
                 CAST(FLOOR(ry / 800) AS BIGINT) AS cy
          FROM c)
        SELECT s_suppkey, c_custkey,
               CAST((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)
                    AS BIGINT) AS dist2
        FROM lc JOIN rc USING (cx, cy)
        WHERE (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry) <= 640000
        """,
        doc="grid-blocked spatial join: 3x3 neighbor cells + exact integer distance verify",
    )
)


def _fuzzy_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_join_names with a PLANTED hot block and the block_cap
    guard live (operators/joins.fuzzy_join_blocked): every 5th
    customer contributes a constant short name on each side, all of
    which collapse into the empty-suffix blocking key — the classic
    stop-key whose candidate product (~300×300 at sf0.01) would
    dominate the join.  block_cap=500 drops (at every fixture scale — the sf0.001 plant is 30×30) that block via broadcast
    anti join, so the output is exactly the honest typo matches; the
    oracle recomputes the cap arithmetic and the same survivors.

    Plan note: Catalyst pushes the anti join below the planted UNION,
    and the constant-name branch's blocking key folds to a literal —
    that branch's anti join appears as a BroadcastNestedLoopJoin over
    the hot-block list FILTERED to that one key (≤1 broadcast row),
    which is bounded at any scale; the data-shaped branch keeps the
    hash anti join."""
    from square_etl_spark.operators.joins import fuzzy_join_blocked

    c = load_table(spark, sf_dir, "customer")
    dirty = c.filter(F.col("c_custkey") % 17 == 0).select(
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("x"),
            F.substring("c_name", 13, 6),
        ).alias("dirty_name")
    ).unionByName(
        c.filter(F.col("c_custkey") % 5 == 0).select(
            F.lit("HOT").alias("dirty_name")
        )
    )
    clean = c.select(F.col("c_name").alias("clean_name")).unionByName(
        c.filter(F.col("c_custkey") % 5 == 0).select(
            F.lit("HOTX").alias("clean_name")
        )
    )
    out = fuzzy_join_blocked(
        dirty,
        clean,
        "dirty_name",
        "clean_name",
        block=lambda col: F.substring(col, 15, 4),
        max_dist=1,
        block_cap=500,
    )
    return out.select(
        F.col("l_val").alias("dirty_name"),
        F.col("r_val").alias("clean_name"),
        F.col("dist").cast("long").alias("dist"),
    )


_register(
    QuerySpec(
        "fuzzy_join_capped_hot_block",
        _fuzzy_join_capped,
        oracle="""
        WITH dirty AS (
          SELECT substr(c_name, 1, 11) || 'x' || substr(c_name, 13, 6)
                   AS dirty_name
          FROM customer WHERE c_custkey % 17 = 0
          UNION ALL
          SELECT 'HOT' FROM customer WHERE c_custkey % 5 = 0),
        clean AS (
          SELECT c_name AS clean_name FROM customer
          UNION ALL
          SELECT 'HOTX' FROM customer WHERE c_custkey % 5 = 0),
        lb AS (SELECT dirty_name, substr(dirty_name, 15, 4) AS bk FROM dirty),
        rb AS (SELECT clean_name, substr(clean_name, 15, 4) AS bk FROM clean),
        hot AS (
          SELECT bk FROM
            (SELECT bk, COUNT(*) AS ln FROM lb GROUP BY bk)
            JOIN (SELECT bk, COUNT(*) AS rn FROM rb GROUP BY bk) USING (bk)
          WHERE ln * rn > 500),
        cand AS (
          SELECT dirty_name, clean_name
          FROM lb JOIN rb USING (bk)
          WHERE bk NOT IN (SELECT bk FROM hot))
        SELECT dirty_name, clean_name,
               CAST(levenshtein(dirty_name, clean_name) AS BIGINT) AS dist
        FROM cand
        WHERE levenshtein(dirty_name, clean_name) <= 1
        """,
        doc="fuzzy join under a planted hot block: block_cap anti-join guard, oracle-recomputed",
    )
)


def _spatial_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatial_join_proximity with a PLANTED hot cell and the cell_cap
    guard live (operators/joins.spatial_bin_join): every 3rd supplier
    and every 3rd customer pile onto one coordinate (urban-core skew),
    making one grid cell's candidate product (~33×500 at sf0.01)
    dwarf every other cell.  cell_cap=5000 drops that cell via
    broadcast anti join; the isolated pairs elsewhere keep matching
    and the oracle recomputes the per-cell counts, the cap, and the
    surviving pairs exactly.  (The cap engages at sf0.01 and sf0.1;
    at sf0.001 the plant is 4×50 < cap and the oracle mirrors that
    too — one fixed cap cannot single out the planted cell at every
    density, which is itself the documented sizing lesson: caps are
    per-deployment knobs, not constants.)"""
    from square_etl_spark.operators.joins import spatial_bin_join

    R = 800
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 3 == 0, F.lit(52))
        .otherwise((F.col("s_suppkey") * 7919) % 10000)
        .alias("lx"),
        F.when(F.col("s_suppkey") % 3 == 0, F.lit(52))
        .otherwise((F.col("s_suppkey") * 104729) % 10000)
        .alias("ly"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit(50))
        .otherwise((F.col("c_custkey") * 7919) % 10000)
        .alias("rx"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(50))
        .otherwise((F.col("c_custkey") * 104729) % 10000)
        .alias("ry"),
    )
    out = spatial_bin_join(s, c, radius=R, cell_cap=5000)
    return out.select("s_suppkey", "c_custkey", "dist2")


_register(
    QuerySpec(
        "spatial_join_capped_hot_cell",
        _spatial_join_capped,
        oracle="""
        WITH s AS (
          SELECT s_suppkey,
                 CASE WHEN s_suppkey % 3 = 0 THEN 52
                      ELSE (s_suppkey * 7919) % 10000 END AS lx,
                 CASE WHEN s_suppkey % 3 = 0 THEN 52
                      ELSE (s_suppkey * 104729) % 10000 END AS ly
          FROM supplier),
        c AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 3 = 0 THEN 50
                      ELSE (c_custkey * 7919) % 10000 END AS rx,
                 CASE WHEN c_custkey % 3 = 0 THEN 50
                      ELSE (c_custkey * 104729) % 10000 END AS ry
          FROM customer),
        d AS (SELECT UNNEST([-1, 0, 1]) AS dx),
        e AS (SELECT UNNEST([-1, 0, 1]) AS dy),
        lc AS (
          SELECT s_suppkey, lx, ly,
                 CAST(FLOOR(lx / 800) AS BIGINT) + dx AS cx,
                 CAST(FLOOR(ly / 800) AS BIGINT) + dy AS cy
          FROM s, d, e),
        rc AS (
          SELECT c_custkey, rx, ry,
                 CAST(FLOOR(rx / 800) AS BIGINT) AS cx,
                 CAST(FLOOR(ry / 800) AS BIGINT) AS cy
          FROM c),
        hot AS (
          SELECT cx, cy FROM
            (SELECT cx, cy, COUNT(*) AS ln FROM lc GROUP BY cx, cy)
            JOIN (SELECT cx, cy, COUNT(*) AS rn FROM rc GROUP BY cx, cy)
            USING (cx, cy)
          WHERE ln * rn > 5000),
        lck AS (
          SELECT * FROM lc
          WHERE NOT EXISTS (SELECT 1 FROM hot
                            WHERE hot.cx = lc.cx AND hot.cy = lc.cy))
        SELECT s_suppkey, c_custkey,
               CAST((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)
                    AS BIGINT) AS dist2
        FROM lck JOIN rc USING (cx, cy)
        WHERE (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry) <= 640000
        """,
        doc="spatial join under a planted hot cell: cell_cap anti-join guard, oracle-recomputed",
    )
)


def _scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) read against the SCD Type-2 history that
    scd2_customer_segment builds (operators/joins.interval_lookup):
    sampled orders get deterministic lookup timestamps in three
    cohorts — pre-history (Dec '23 → NULL segment, the left-join
    contract), v1 window (Jan 15) and v2 window (Feb 15, where every
    third customer shows MOVED).  The history is dimension-sized so it
    broadcasts; the fact side never shuffles.  The oracle rebuilds the
    history declaratively (LAG change points + LEAD close, as the
    scd2 oracle does) and applies the same half-open window join."""
    from square_etl_spark.operators.joins import interval_lookup
    from square_etl_spark.sinks.merge import scd2_merge

    c = load_table(spark, sf_dir, "customer")
    b1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    b2 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("ts"),
    )
    hist = scd2_merge(None, b1, ["c_custkey"], "ts", ["segment"])
    hist = scd2_merge(hist, b2, ["c_custkey"], "ts", ["segment"])

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    facts = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("2023-12-15 00:00:00"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("2024-01-15 00:00:00"))
        .otherwise(F.lit("2024-02-15 00:00:00"))
        .cast("timestamp")
        .alias("at_ts"),
    )
    out = interval_lookup(
        facts,
        hist.select("c_custkey", "segment", "valid_from", "valid_to"),
        ["c_custkey"],
        "at_ts",
    )
    return out.select("o_orderkey", "c_custkey", "at_ts", "segment")


_register(
    QuerySpec(
        "scd2_point_in_time",
        _scd2_point_in_time,
        oracle="""
        WITH b AS (
          SELECT c_custkey, c_mktsegment AS segment,
                 TIMESTAMP '2024-01-01 00:00:00' AS ts
          FROM customer
          UNION ALL
          SELECT c_custkey,
                 CASE WHEN c_custkey % 3 = 0 THEN 'MOVED'
                      ELSE c_mktsegment END,
                 TIMESTAMP '2024-02-01 00:00:00'
          FROM customer),
        v AS (
          SELECT c_custkey, segment, ts,
                 LAG(segment) OVER (PARTITION BY c_custkey ORDER BY ts) AS prev
          FROM b),
        starts AS (
          SELECT c_custkey, segment, ts FROM v
          WHERE prev IS NULL OR segment <> prev),
        hist AS (
          SELECT c_custkey, segment, ts AS valid_from,
                 LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS valid_to
          FROM starts),
        facts AS (
          SELECT o_orderkey, o_custkey AS c_custkey,
                 CASE WHEN o_orderkey % 3 = 0
                        THEN TIMESTAMP '2023-12-15 00:00:00'
                      WHEN o_orderkey % 3 = 1
                        THEN TIMESTAMP '2024-01-15 00:00:00'
                      ELSE TIMESTAMP '2024-02-15 00:00:00' END AS at_ts
          FROM orders WHERE o_orderkey % 10 = 0)
        SELECT o_orderkey, f.c_custkey, at_ts, h.segment
        FROM facts f
        LEFT JOIN hist h
          ON h.c_custkey = f.c_custkey
         AND f.at_ts >= h.valid_from
         AND (h.valid_to IS NULL OR f.at_ts < h.valid_to)
        """,
        bench=True,
        doc="SCD2 point-in-time lookup: broadcast half-open interval join against the versioned dim",
    )
)


def _hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening by pointer doubling
    (operators/graph.ancestor_closure): parts form a deterministic
    forest (parent = partkey div 7, partkeys < 7 are roots — depth ~4
    at these scales), each part resolves its root and exact depth in
    log-depth self-join rounds, then per-root BOM-style rollup: node
    count, max depth, decimal-exact retail value.  The oracle walks
    the same forest with a recursive CTE — the O(depth) formulation
    the doubling operator beats at scale."""
    from square_etl_spark.operators.graph import ancestor_closure

    p = load_table(spark, sf_dir, "part")
    parents = p.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") < 7, F.col("p_partkey"))
        .otherwise(F.expr("p_partkey div 7"))
        .alias("parent"),
    )
    closure = ancestor_closure(parents, doublings=4)
    val = p.select(
        F.col("p_partkey").alias("node"),
        F.col("p_retailprice").alias("v"),
    )
    return (
        closure.join(val, "node")
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("depth").alias("max_depth"),
            F.round(
                F.sum(F.col("v").cast("decimal(38,6)")).cast("double"), 2
            ).alias("total_value"),
        )
    )


_register(
    QuerySpec(
        "hierarchy_rollup_parts",
        _hierarchy_closure,
        oracle="""
        WITH RECURSIVE walk AS (
          SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth
          FROM part
          UNION ALL
          SELECT node, cur // /*nz: walk rows have cur >= 7*/ 7,
                 depth + 1
          FROM walk WHERE cur >= 7),
        closure AS (
          SELECT node, cur AS root, depth FROM walk WHERE cur < 7)
        SELECT root,
               COUNT(*) AS n_nodes,
               CAST(MAX(depth) AS BIGINT) AS max_depth,
               ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6)))
                          AS DOUBLE), 2) AS total_value
        FROM closure JOIN part ON node = p_partkey
        GROUP BY root
        """,
        bench=True,
        doc="forest closure by pointer doubling (log-depth) vs recursive-CTE oracle, BOM rollup",
    )
)


def _twap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user
    (operators/windows.time_weighted_avg): each observation holds
    until the user's next event, weighted by exact integer seconds —
    the TWAP metric a plain AVG misrepresents on irregular event
    streams.  event_id tiebreak makes the interval pairing a total
    order; decimal-sum accumulation makes the weighted mean
    hash-identical on both engines."""
    from square_etl_spark.operators.windows import time_weighted_avg

    e = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        e, "ts", ["user_id"], "value", tiebreak_cols=["event_id"]
    )


_register(
    QuerySpec(
        "twap_user_value",
        _twap_users,
        oracle="""
        WITH w AS (
          SELECT user_id, ROUND(value, 2) AS v,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
                 LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        i AS (
          SELECT user_id, v, nxt - sec AS dt FROM w WHERE nxt IS NOT NULL)
        SELECT user_id,
               ROUND(CAST(SUM(CAST(v * dt AS DECIMAL(38,6))) AS DOUBLE)
                     / NULLIF(SUM(dt), 0), 6) AS twap,
               CAST(SUM(dt) AS BIGINT) AS total_seconds,
               COUNT(*) AS n_intervals
        FROM i GROUP BY user_id
        """,
        bench=True,
        doc="time-weighted average per key: LEAD interval weights, decimal-exact weighted mean",
    )
)


def _exact_percentiles_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (p50/p90 interpolated) of customer
    account balance per market segment — the exact sibling of the
    mergeable histogram sketch (quantile_sketch_orders): F.percentile
    sorts within the aggregation buffer, so cost is per-GROUP memory,
    fine for dimension-cardinality groups; for billions-of-rows groups
    the sketch is the documented scale path.  Both engines interpolate
    lo + (hi − lo)·frac over the same 2-decimal doubles — identical
    IEEE steps, hash-equal after 6-decimal rounding."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("c_acctbal", F.lit(0.9)), 6).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_register(
    QuerySpec(
        "exact_percentiles_segment",
        _exact_percentiles_segment,
        oracle="""
        SELECT c_mktsegment,
               ROUND(quantile_cont(c_acctbal, 0.5), 6) AS p50,
               ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90,
               COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment
        """,
        doc="exact grouped interpolated percentiles (per-group sort agg; sketch is the scale path)",
    )
)


def _schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the ingestion boundary
    (operators/projections.conform_schema): two generations of an
    order feed — gen1 predates the status column (filled as typed
    NULL), gen2 carries a legacy column (dropped) and an INT total in
    cents (losslessly widened to LONG) — both conform to one target
    schema, union, and aggregate.  Pure projections, no extra
    shuffle; the oracle restates the conformance as explicit casts
    and NULL literals."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from square_etl_spark.operators.projections import conform_schema

    target = StructType([
        StructField("o_orderkey", LongType()),
        StructField("total_cents", LongType()),
        StructField("status", StringType()),
    ])
    o = load_table(spark, sf_dir, "orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("int").alias("total_cents"),
        F.col("o_orderstatus").alias("status"),
        F.lit("legacy").alias("deprecated_flag"),
    )
    unioned = conform_schema(gen1, target).unionByName(
        conform_schema(gen2, target)
    )
    return (
        unioned.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("total_cents").alias("sum_cents"),
        )
    )


_register(
    QuerySpec(
        "schema_evolution_union",
        _schema_evolution_union,
        oracle="""
        WITH gen1 AS (
          SELECT o_orderkey,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
                 CAST(NULL AS VARCHAR) AS status
          FROM orders WHERE o_orderkey % 2 = 0),
        gen2 AS (
          SELECT o_orderkey,
                 CAST(CAST(ROUND(o_totalprice * 100) AS INTEGER) AS BIGINT),
                 o_orderstatus
          FROM orders WHERE o_orderkey % 2 = 1),
        u AS (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2)
        SELECT status, COUNT(*) AS n,
               CAST(SUM(total_cents) AS BIGINT) AS sum_cents
        FROM u GROUP BY status
        """,
        doc="two-generation schema conformance (fill/drop/widen) then union + aggregate",
    )
)


def _expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite report (operators/quality.expectation_report)
    over a deterministically dirtied order relation: every 31st key
    gets a negated price, every 43rd a NULLed status, every 53rd an
    out-of-range date — four named expectations evaluated in ONE scan,
    violations counted exactly (NULL = violation), report is
    rule-count-sized."""
    from square_etl_spark.operators.quality import expectation_report

    o = load_table(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 31 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 43 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(
            F.col("o_orderkey") % 53 == 0,
            F.to_timestamp(F.lit("2031-01-01")),
        )
        .otherwise(F.col("o_orderdate"))
        .alias("odate"),
    )
    return expectation_report(
        dirty,
        [
            ("price_positive", F.col("price") > 0),
            ("status_known", F.col("status").isin("O", "F", "P")),
            (
                "date_in_range",
                (F.col("odate") >= F.to_timestamp(F.lit("1992-01-01")))
                & (F.col("odate") < F.to_timestamp(F.lit("2000-01-01"))),
            ),
            ("key_nonnull", F.col("o_orderkey").isNotNull()),
        ],
    )


_register(
    QuerySpec(
        "expectation_report_orders",
        _expectation_report,
        oracle="""
        WITH dirty AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 31 = 0 THEN -o_totalprice
                      ELSE o_totalprice END AS price,
                 CASE WHEN o_orderkey % 43 = 0 THEN NULL
                      ELSE o_orderstatus END AS status,
                 CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '2031-01-01'
                      ELSE o_orderdate END AS odate
          FROM orders),
        wide AS (
          SELECT COUNT(*) AS n,
                 SUM(CASE WHEN NOT (price > 0) OR price IS NULL
                          THEN 1 ELSE 0 END) AS v0,
                 SUM(CASE WHEN status IS NULL
                            OR status NOT IN ('O', 'F', 'P')
                          THEN 1 ELSE 0 END) AS v1,
                 SUM(CASE WHEN NOT (odate >= TIMESTAMP '1992-01-01'
                                    AND odate < TIMESTAMP '2000-01-01')
                            OR odate IS NULL
                          THEN 1 ELSE 0 END) AS v2,
                 SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v3
          FROM dirty),
        rep AS (
          SELECT 'price_positive' AS rule, n, v0 AS violations FROM wide
          UNION ALL SELECT 'status_known', n, v1 FROM wide
          UNION ALL SELECT 'date_in_range', n, v2 FROM wide
          UNION ALL SELECT 'key_nonnull', n, v3 FROM wide)
        SELECT rule, n AS n_rows, CAST(violations AS BIGINT) AS violations,
               ROUND(CAST(violations AS DOUBLE) / /*nz: COUNT(*) of populated order scan*/ n, 6) AS violation_rate
        FROM rep
        """,
        doc="expectation-suite audit: k named rules, one scan, exact violation counts",
    )
)


def _transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: per user, consecutive event pairs
    (LAG over the user timeline) counted into a from→to matrix with
    per-source probabilities — the Markov-chain view of user behavior
    that sits beside the funnel.  One Exchange (user window), then a
    25-cell aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


_register(
    QuerySpec(
        "transition_matrix_events",
        _transition_matrix,
        oracle="""
        WITH pairs AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                   AS prev_type,
                 event_type
          FROM events),
        cells AS (
          SELECT prev_type AS from_type, event_type AS to_type,
                 COUNT(*) AS n
          FROM pairs WHERE prev_type IS NOT NULL
          GROUP BY 1, 2)
        SELECT from_type, to_type, n,
               ROUND(CAST(n AS DOUBLE)
                     / /*nz: partition sum of positive counts*/ SUM(n) OVER (PARTITION BY from_type), 6) AS p
        FROM cells
        """,
        doc="Markov transition matrix over user event sequences (LAG + 25-cell agg)",
    )
)


def _sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound sequence detection (MATCH_RECOGNIZE-lite): for every
    ERROR event, the first PURCHASE by the same user within the next
    30 minutes — one RANGE-framed window over the user timeline (no
    self-join): the frame [0s, +1800s] computes min qualifying
    purchase ts per row in the same single user Exchange every other
    behavioral query uses.  Output: per-user counts of errors,
    recovered errors, and the mean recovery seconds (exact integer
    sums / rounded division)."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(0, 1800)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", sec)
    ).over(w)
    errors = (
        e.withColumn("sec", sec)
        .withColumn("next_purchase_sec", nxt)
        .filter(F.col("event_type") == "error")
        .withColumn(
            "recovery_s",
            F.when(
                F.col("next_purchase_sec").isNotNull(),
                F.col("next_purchase_sec") - F.col("sec"),
            ),
        )
    )
    return errors.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.count("recovery_s").alias("n_recovered"),
        F.round(
            F.sum("recovery_s") / F.count("recovery_s"), 6
        ).alias("mean_recovery_s"),
    )


_register(
    QuerySpec(
        "sequence_error_recovery",
        _sequence_detect,
        oracle="""
        WITH t AS (
          SELECT user_id, event_type,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
          FROM events),
        fr AS (
          SELECT user_id, event_type, sec,
                 MIN(CASE WHEN event_type = 'purchase' THEN sec END)
                   OVER (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN CURRENT ROW AND 1800 FOLLOWING)
                   AS next_purchase_sec
          FROM t),
        err AS (
          SELECT user_id, sec,
                 CASE WHEN next_purchase_sec IS NOT NULL
                      THEN next_purchase_sec - sec END AS recovery_s
          FROM fr WHERE event_type = 'error')
        SELECT user_id, COUNT(*) AS n_errors,
               COUNT(recovery_s) AS n_recovered,
               ROUND(CAST(SUM(recovery_s) AS DOUBLE)
                     / /*nz: NULL numerator when count is 0 -> NULL, never NaN*/ COUNT(recovery_s), 6) AS mean_recovery_s
        FROM err GROUP BY user_id
        """,
        doc="time-bound sequence detection: RANGE-framed window, no self-join",
    )
)


def _q9_profit_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 with the AUTHENTIC supply-cost term: since r05 the
    derived partsupp exists, so this variant joins lineitem to it on
    (partkey, suppkey) and computes
    ``l_extendedprice·(1−l_discount) − ps_supplycost·l_quantity``
    exactly as spec — closing the one asterisk the adapted
    `q9_product_profit` carried ("no partsupp in fixtures").  The
    fixture's lineitem suppkeys are independent of the derived
    assignment, so the inner join keeps the ~4/|S| matching slice;
    the SHAPE and arithmetic are the faithful part, and the oracle
    rebuilds the identical table and join."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ps = _derived_partsupp(spark, sf_dir)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.col("ps_supplycost_cents") / 100.0
    ) * F.col("l_quantity")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        # bcast-ok: nation = constant 25-row dim
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            decimal_sum(profit).alias("total_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_register(
    QuerySpec(
        "q9_profit_partsupp",
        _q9_profit_partsupp,
        oracle=f"""
        WITH {_PARTSUPP_CTE.strip()}
        SELECT supp_nation, o_year, {_dsum("profit")} AS total_profit,
               COUNT(*) AS n_lines
        FROM (
          SELECT n_name AS supp_nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - (ps_supplycost_cents / 100.0) * l_quantity AS profit
          FROM lineitem
          JOIN partsupp ON l_partkey = ps_partkey
                       AND l_suppkey = ps_suppkey
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%'
        ) GROUP BY supp_nation, o_year
        """,
        doc="TPC-H Q9 with the authentic partsupp supply-cost term (derived partsupp)",
    )
)


def _basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in ≥ 3
    orders, with confidence and lift — association-rule mining's
    support counting as one postings-style self-join (orders are the
    "documents", parts the "tokens"; pair cost is Σ basket², bounded
    by a basket-size cap exactly like the n-gram postings' df_cap —
    a 10 000-item pathological order would otherwise contribute 10⁸
    pairs).  Exact integer supports; ratios rounded identically on
    both engines."""
    CAP = 30
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sized = li.withColumn(
        "basket_n", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
    ).filter(F.col("basket_n") <= CAP)
    n_orders = sized.select("l_orderkey").distinct().count()
    part_supp = sized.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("part_orders")
    )
    a = sized.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a")
    )
    b = sized.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    sa = part_supp.select(
        F.col("l_partkey").alias("part_a"), F.col("part_orders").alias("na")
    )
    sb = part_supp.select(
        F.col("l_partkey").alias("part_b"), F.col("part_orders").alias("nb")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support") / F.col("na"), 6).alias("confidence_a"),
            F.round(
                F.col("support") * F.lit(float(n_orders))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


_register(
    QuerySpec(
        "basket_part_pairs",
        _basket_pairs,
        oracle="""
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        sized AS (
          SELECT l_orderkey, l_partkey,
                 COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_n
          FROM li),
        capped AS (
          SELECT l_orderkey, l_partkey FROM sized WHERE basket_n <= 30),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM capped),
        supp AS (
          SELECT l_partkey, COUNT(*) AS part_orders
          FROM capped GROUP BY l_partkey),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 COUNT(*) AS support
          FROM capped a JOIN capped b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(*) >= 3)
        SELECT part_a, part_b, support,
               ROUND(CAST(support AS DOUBLE) / /*nz: grouped order count >= 1*/ sa.part_orders, 6)
                 AS confidence_a,
               ROUND(support * CAST(n_orders AS DOUBLE)
                     / /*nz: grouped order counts >= 1*/ (sa.part_orders * CAST(sb.part_orders AS BIGINT)), 6)
                 AS lift
        FROM pairs
        JOIN supp sa ON sa.l_partkey = part_a
        JOIN supp sb ON sb.l_partkey = part_b
        CROSS JOIN n
        """,
        doc="market-basket pairs: capped postings self-join, support/confidence/lift",
    )
)


def _unpivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (``DataFrame.unpivot`` — the inverse of the
    covered pivot): per order, melt the numeric measures into
    (measure, value) rows.  A map-side 1-to-k expansion with no
    shuffle; the long form is what generic profiling/quality passes
    consume.  Values round to 2 decimals on both engines (they are
    stored 2-decimal currency/ordinal values anyway)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 50 == 0
    )
    wide = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["total_price", "cust_key"],
        variableColumnName="measure",
        valueColumnName="value",
    )


_register(
    QuerySpec(
        "unpivot_order_measures",
        _unpivot_orders,
        oracle="""
        WITH wide AS (
          SELECT o_orderkey,
                 ROUND(o_totalprice, 2) AS total_price,
                 CAST(o_custkey AS DOUBLE) AS cust_key
          FROM orders WHERE o_orderkey % 50 = 0)
        SELECT o_orderkey, 'total_price' AS measure, total_price AS value
        FROM wide
        UNION ALL
        SELECT o_orderkey, 'cust_key', cust_key FROM wide
        """,
        doc="wide-to-long unpivot/melt (inverse of pivot), map-side 1-to-k expansion",
    )
)


# ---------------------------------------------------------------------------
# Round-8 registrations: deterministic split assignment, char-entropy
# quality, incremental dedup (exact digest-state fold + minhash index
# probe) — the continuous-ingest posture of a training-data pipeline.
# ---------------------------------------------------------------------------


def _split_tvt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (operators/sampling.split_assign): disjoint 80/10/10 splits from
    cumulative md5 thresholds — every doc gets exactly one label,
    stable under re-partitioning and re-ingest (a test doc can never
    drift into train on a rebuild), scan + CASE only."""
    from square_etl_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents")
    return split_assign(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="tvt1"
    ).select("doc_id", "lang", "split")


_register(
    QuerySpec(
        "split_train_val_test",
        _split_tvt,
        oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_bucket_sql("doc_id", "tvt1")}
                         < '{rate_threshold(0.8)}' THEN 'train'
                    WHEN {_bucket_sql("doc_id", "tvt1")}
                         < '{rate_threshold(0.9)}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        """,
        doc="deterministic disjoint train/val/test splits, cumulative md5 thresholds",
    )
)


def _char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per doc
    (operators/text.char_entropy): the cheap gibberish/compression
    signal — repeated filler scores low, base64 junk scores high.
    One sequence+substring explode (identical code-point walk on both
    engines) + two aggregations sharing the doc partitioning;
    decimal-summed −p·ln p terms."""
    from square_etl_spark.operators.text import char_entropy

    d = load_table(spark, sf_dir, "documents")
    return char_entropy(d, "doc_id", "text")


_register(
    QuerySpec(
        "text_char_entropy",
        _char_entropy,
        oracle="""
        WITH ch AS (
          SELECT doc_id,
                 UNNEST(list_transform(generate_series(1, length(text)),
                        i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
          FROM documents WHERE length(text) > 0),
        c AS (
          SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        t AS (
          SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n
          FROM c)
        SELECT doc_id,
               CAST(MAX(n) AS BIGINT) AS n_chars,
               ROUND(CAST(SUM(CAST(ROUND(
                         -(c / /*nz: n = per-doc sum of counts >= 1*/ CAST(n AS DOUBLE))
                         * ln(c / /*nz: n = per-doc sum of counts >= 1*/ CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE)
                     / /*nz: ln(2) is a positive constant*/ ln(2), 6)
                 AS entropy_bits
        FROM t GROUP BY doc_id
        """,
        doc="per-doc char-distribution Shannon entropy, decimal-exact term sums",
    )
)


def _incr_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as an incremental digest-state fold
    (operators/dedup.incremental_exact_dedup): three ingest batches
    (doc_id mod 3) deduplicated each against everything kept before —
    the continuous-crawl posture, old corpus touched only through its
    64-byte digest state.  The folded kept-set must equal the
    one-shot window oracle with batch-then-id precedence EXACTLY."""
    from square_etl_spark.operators.dedup import incremental_exact_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = None
    kept_parts = []
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        kept, state = incremental_exact_dedup(state, batch)
        kept_parts.append(
            kept.withColumn("batch_no", F.lit(i).cast("int"))
        )
    out = kept_parts[0]
    for part in kept_parts[1:]:
        out = out.unionByName(part)
    return out.select("content_sha256", "doc_id", "batch_no")


_register(
    QuerySpec(
        "dedup_incremental_exact",
        _incr_exact_dedup,
        oracle="""
        WITH r AS (
          SELECT doc_id,
                 CAST(doc_id % 3 AS INTEGER) AS batch_no,
                 sha256(text) AS content_sha256,
                 ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                    ORDER BY doc_id % 3, doc_id) AS rk
          FROM documents)
        SELECT content_sha256, doc_id, batch_no FROM r WHERE rk = 1
        """,
        doc="incremental exact dedup: digest-state fold ≡ one-shot window, batch precedence",
    )
)


def _incr_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new ingest batch (doc_id mod 3 = 0)
    probed against the banded-MinHash LSH index of the already-
    ingested corpus (operators/dedup.minhash_index / minhash_probe) —
    the old corpus is touched only through its keys-sized index
    relations, never its text.  Same portable md5/affine arithmetic
    as dedup_minhash_lsh, so the oracle recomputes every stage for
    BOTH sides of the probe join."""
    from square_etl_spark.operators.dedup import minhash_index, minhash_probe

    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    sh, idx = minhash_index(old, "doc_id", "text", num_hashes=16, bands=8)
    return minhash_probe(
        sh, idx, new, "doc_id", "text",
        num_hashes=16, bands=8, threshold=0.5, bucket_cap=200,
    )


def _minhash_probe_oracle(
    old_pred: str = "doc_id % 3 <> 0",
    new_pred: str = "doc_id % 3 = 0",
    threshold: float = 0.5,
    final_select: str | None = None,
    shingle_n: int = 3,
) -> str:
    """DuckDB twin of the incremental probe: the same shingle/
    permutation/band pipeline as ``_minhash_oracle`` computed over
    ALL documents, split into OLD/index and NEW/probe sides by the
    given predicates, hot-capped on BOTH sides, then new×old bucket
    join + exact Jaccard verify.  ``final_select`` swaps the pair
    output for an aggregate (the fuzzy-decontamination use);
    ``shingle_n`` mirrors the operator's shingle granularity (3 =
    near-dup trigrams, 1 = the paraphrase-robust unigram setting)."""
    from square_etl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    if shingle_n not in (1, 3):
        raise ValueError(f"oracle supports shingle_n in (1, 3): {shingle_n}")
    a = "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in MINHASH_A) + "]"
    b = "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in MINHASH_B) + "]"
    mask = (1 << 57) - 1
    hex32 = (
        "list_sum(list_transform(generate_series(1, 8),"
        " p -> (CAST(strpos('0123456789abcdef',"
        " substr(md5(x), p, 1)) AS BIGINT) - 1)"
        " * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))"
    )
    if shingle_n == 1:
        # unigram: the shingle IS the 32-bit word hash, no 31-fold
        shingle_cte = f"""
        shl AS (
          SELECT doc_id,
                 list_distinct(list_transform(w, x -> {hex32})) AS sh
          FROM t WHERE len(w) >= 1),"""
    else:
        shingle_cte = f"""
        tw AS (
          SELECT doc_id,
                 list_transform(w, x -> {hex32}) AS hw
          FROM t WHERE len(w) >= 3),
        shl AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(hw) - 2),
                   i -> ((((hw[CAST(i AS INTEGER)] * 31
                            + hw[CAST(i + 1 AS INTEGER)]) & {mask}) * 31
                          + hw[CAST(i + 2 AS INTEGER)]) & {mask}))) AS sh
          FROM tw),"""
    return rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> '') AS w
          FROM documents),{shingle_cte}
        mh AS (
          SELECT doc_id, sh,
                 list_transform(generate_series(0, 15),
                   i -> list_min(list_transform(sh,
                     s -> ({a}[CAST(i + 1 AS INTEGER)] * (s & 4294967295)
                           + {b}[CAST(i + 1 AS INTEGER)])
                          % {MINHASH_P}))) AS mins
          FROM shl),
        buckets AS (
          SELECT doc_id, b,
                 (mins[CAST(2 * b + 1 AS INTEGER)] * 31
                  + mins[CAST(2 * b + 2 AS INTEGER)]) & {mask} AS bhash
          FROM mh, generate_series(0, 7) g(b)),
        old_b AS (SELECT * FROM buckets WHERE {old_pred}),
        new_b AS (SELECT * FROM buckets WHERE {new_pred}),
        cool AS (
          SELECT ob.doc_id, ob.b, ob.bhash
          FROM old_b ob
          ANTI JOIN (SELECT b, bhash FROM old_b
                     GROUP BY b, bhash HAVING COUNT(*) > 200) hot
          ON ob.b = hot.b AND ob.bhash = hot.bhash),
        new_cool AS (
          SELECT nb.doc_id, nb.b, nb.bhash
          FROM new_b nb
          ANTI JOIN (SELECT b, bhash FROM new_b
                     GROUP BY b, bhash HAVING COUNT(*) > 200) nhot
          ON nb.b = nhot.b AND nb.bhash = nhot.bhash),
        cand AS (
          SELECT DISTINCT nb.doc_id AS new_id, co.doc_id AS old_id
          FROM new_cool nb JOIN cool co
            ON nb.b = co.b AND nb.bhash = co.bhash),
        verified AS (
          SELECT new_id, old_id,
                 ROUND(len(list_intersect(sa.sh, sb.sh))
                       / /*nz: union of nonempty shingle sets*/ (len(sa.sh) + len(sb.sh)
                          - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
          FROM cand
          JOIN shl sa ON sa.doc_id = new_id
          JOIN shl sb ON sb.doc_id = old_id),
        thresholded AS (
          SELECT new_id, old_id, jaccard FROM verified
          WHERE jaccard >= {threshold})
        {final_select or "SELECT new_id, old_id, jaccard FROM thresholded"}
        """


_register(
    QuerySpec(
        "dedup_incremental_minhash",
        _incr_minhash_probe,
        oracle=_minhash_probe_oracle(),
        doc="incremental near-dup: new batch probes existing LSH index, oracle-recomputed both sides",
    )
)


def _decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup (paraphrase-level) decontamination: LSH-index the
    benchmark split (every 97th doc — the dedup_decontaminate eval
    suite), probe the rest of the corpus against it, and report each
    contaminated corpus doc with its match count and strongest match
    (operators/dedup.fuzzy_contamination_pairs; kill semantics =
    decontaminate_fuzzy's anti join on these ids).  Never quadratic:
    the corpus side is one linear scan + a bucket join against the
    benchmark-sized index, hot-capped on both sides.

    Unigram shingles at threshold 0.8 — the operator's paraphrase
    default, and (r10 verdict item 4) the setting that makes this
    driver row NON-vacuous: the fixture has no cross-split trigram
    near-dups, so the old 3-gram/0.5 config proved only the zero
    path; bag-of-words overlap ≥ 0.8 flags a positive contaminated
    set at every scale (57/32/106 docs at sf0.001/0.01/0.1)."""
    from square_etl_spark.operators.dedup import fuzzy_contamination_pairs

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return (
        fuzzy_contamination_pairs(
            corpus, bench, "doc_id", "text",
            num_hashes=16, bands=8, threshold=0.8, bucket_cap=200,
            shingle_n=1,
        )
        .groupBy(F.col("corpus_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


_register(
    QuerySpec(
        "dedup_decontaminate_fuzzy",
        _decontaminate_fuzzy,
        oracle=_minhash_probe_oracle(
            old_pred="doc_id % 97 = 0",
            new_pred="doc_id % 97 <> 0",
            threshold=0.8,
            final_select=(
                "SELECT new_id AS doc_id, "
                "CAST(COUNT(*) AS BIGINT) AS n_bench_matches, "
                "MAX(jaccard) AS max_jaccard "
                "FROM thresholded GROUP BY new_id"
            ),
            shingle_n=1,
        ),
        bench=True,
        doc="fuzzy decontamination: corpus probed against benchmark LSH index via unigram MinHash, oracle-recomputed end to end, positive at every scale",
    )
)


def _winsorized_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics (operators/aggregations.winsorize):
    per market segment, clip account balances to the exact
    interpolated [p5, p95] group fences and report bounds, clip
    counts, and the order-independent decimal sum of the clipped
    values — the outlier-robust normalization pass feature pipelines
    run before scaling.  One per-group percentile agg + one broadcast
    bounds join + one grouped rollup."""
    from square_etl_spark.operators.aggregations import winsorize

    c = load_table(spark, sf_dir, "customer")
    w = winsorize(c, "c_acctbal", ["c_mktsegment"], 0.05, 0.95)
    cv = F.round(F.col("c_acctbal_winsorized"), 6)
    return w.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("__wlo"), 6).alias("lo_bound"),
        F.round(F.min("__whi"), 6).alias("hi_bound"),
        F.sum(
            F.when(F.col("c_acctbal") < F.col("__wlo"), 1).otherwise(0)
        ).cast("long").alias("n_low"),
        F.sum(
            F.when(F.col("c_acctbal") > F.col("__whi"), 1).otherwise(0)
        ).cast("long").alias("n_high"),
        F.round(
            F.sum(cv.cast("decimal(38,6)")).cast("double"), 4
        ).alias("sum_winsorized"),
    )


_register(
    QuerySpec(
        "winsorize_acctbal_segment",
        _winsorized_acctbal,
        oracle="""
        WITH b AS (
          SELECT c_mktsegment,
                 quantile_cont(c_acctbal, 0.05) AS wlo,
                 quantile_cont(c_acctbal, 0.95) AS whi
          FROM customer GROUP BY c_mktsegment),
        j AS (
          SELECT c.c_mktsegment, c.c_acctbal, b.wlo, b.whi,
                 LEAST(GREATEST(c.c_acctbal, b.wlo), b.whi) AS cv
          FROM customer c JOIN b USING (c_mktsegment))
        SELECT c_mktsegment,
               COUNT(*) AS n,
               ROUND(MIN(wlo), 6) AS lo_bound,
               ROUND(MIN(whi), 6) AS hi_bound,
               CAST(SUM(CASE WHEN c_acctbal < wlo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN c_acctbal > whi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high,
               ROUND(CAST(SUM(CAST(ROUND(cv, 6) AS DECIMAL(38,6)))
                          AS DOUBLE), 4) AS sum_winsorized
        FROM j GROUP BY c_mktsegment
        """,
        doc="per-group winsorization at exact [p5,p95] fences: bounds, clip counts, decimal sum",
    )
)


def _drift_psi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/quality.drift_psi):
    Population Stability Index of order totals, 1996-and-earlier
    reference vs 1997+ current — 10 equal-width bins on the REFERENCE
    grid (1-row broadcast bounds), exact integer bin counts, eps-
    guarded log-ratio terms decimal-summed into the windowed
    psi_total.  The between-ingest check that catches a source
    silently changing its value distribution."""
    from square_etl_spark.operators.quality import drift_psi

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    ref = o.filter(F.col("o_orderdate") < cut)
    cur = o.filter(F.col("o_orderdate") >= cut)
    return drift_psi(ref, cur, "o_totalprice", bins=10)


_register(
    QuerySpec(
        "drift_psi_orders",
        _drift_psi_orders,
        oracle="""
        WITH b AS (
          SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
                 CAST(MAX(o_totalprice) AS DOUBLE) AS hi
          FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        rb AS (
          SELECT GREATEST(0, LEAST(9, CAST(FLOOR(
                   (CAST(o_totalprice AS DOUBLE) - lo) * 10
                   / /*nz: reference min < max on this data*/ (hi - lo))
                 AS BIGINT))) AS bin
          FROM orders, b WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        cb AS (
          SELECT GREATEST(0, LEAST(9, CAST(FLOOR(
                   (CAST(o_totalprice AS DOUBLE) - lo) * 10
                   / /*nz: reference min < max on this data*/ (hi - lo))
                 AS BIGINT))) AS bin
          FROM orders, b WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        grid AS (
          SELECT CAST(i AS INTEGER) AS bin FROM generate_series(0, 9) g(i)),
        counts AS (
          SELECT g.bin,
                 COALESCE(r.n, 0) AS n_ref,
                 COALESCE(c.n, 0) AS n_cur
          FROM grid g
          LEFT JOIN (SELECT bin, COUNT(*) AS n FROM rb GROUP BY bin) r
            ON g.bin = r.bin
          LEFT JOIN (SELECT bin, COUNT(*) AS n FROM cb GROUP BY bin) c
            ON g.bin = c.bin),
        p AS (
          SELECT bin, n_ref, n_cur,
                 GREATEST(n_ref / /*nz: window sum of counts >= 1*/
                          CAST(SUM(n_ref) OVER () AS DOUBLE),
                          0.000001) AS pr,
                 GREATEST(n_cur / /*nz: window sum of counts >= 1*/
                          CAST(SUM(n_cur) OVER () AS DOUBLE),
                          0.000001) AS pc
          FROM counts),
        t AS (
          SELECT bin, n_ref, n_cur,
                 ROUND(pr, 6) AS p_ref, ROUND(pc, 6) AS p_cur,
                 CAST(CAST(ROUND((pc - pr) * ln(pc / /*nz: pr >= eps*/ pr), 9)
                      AS DECIMAL(28,9)) AS DOUBLE) AS term
          FROM p)
        SELECT bin, n_ref, n_cur, p_ref, p_cur, term,
               ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) OVER ()
                          AS DOUBLE), 6) AS psi_total
        FROM t
        """,
        doc="PSI distribution drift between snapshots: reference-grid bins, eps-guarded log ratios",
        global_window_ok=(
            "proportion/psi_total windows run over the bin-grid "
            "relation — exactly `bins` (10) rows by construction"
        ),
    )
)


def _robust_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier sweep
    (operators/aggregations.robust_zscore): per order priority, count
    order totals with |rz| > 3.5 — the 50%-breakdown-point sibling of
    the mean/std `outlier_zscore_orders` (whose baseline the outliers
    themselves inflate).  Two grouped percentile aggs + two
    group-count-sized broadcast joins; summary output rounds to 6."""
    from square_etl_spark.operators.aggregations import robust_zscore

    o = load_table(spark, sf_dir, "orders")
    r = robust_zscore(o, "o_totalprice", ["o_orderpriority"])
    return r.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("__med"), 6).alias("med"),
        F.round(F.min("__mad"), 6).alias("mad"),
        F.sum(
            F.when(F.abs(F.col("rz")) > 3.5, 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


_register(
    QuerySpec(
        "robust_outliers_orders",
        _robust_outliers_orders,
        oracle="""
        WITH med AS (
          SELECT o_orderpriority,
                 quantile_cont(o_totalprice, 0.5) AS m
          FROM orders GROUP BY o_orderpriority),
        mad AS (
          SELECT o.o_orderpriority,
                 quantile_cont(ABS(o.o_totalprice - med.m), 0.5) AS d
          FROM orders o JOIN med USING (o_orderpriority)
          GROUP BY o.o_orderpriority),
        j AS (
          SELECT o.o_orderpriority, o.o_totalprice, med.m, mad.d,
                 (o.o_totalprice - med.m)
                 / NULLIF(1.4826 * mad.d, 0) AS rz
          FROM orders o
          JOIN med ON o.o_orderpriority = med.o_orderpriority
          JOIN mad ON o.o_orderpriority = mad.o_orderpriority)
        SELECT o_orderpriority,
               COUNT(*) AS n,
               ROUND(MIN(m), 6) AS med,
               ROUND(MIN(d), 6) AS mad,
               CAST(SUM(CASE WHEN ABS(rz) > 3.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM j GROUP BY o_orderpriority
        """,
        doc="robust median/MAD outlier counts per group (50% breakdown point vs mean/std)",
    )
)


def _join_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key overlap profile — the pre-join diagnostic a pipeline
    runs before trusting a new feed: distinct-key counts on each side
    of orders⋈customer, the overlap, and containment ratios (orphan
    fact keys = referential break; low dim containment = dead dim
    rows).  One distinct per side + one full outer join on the
    deduped key sets — key-cardinality-sized, never fact-sized."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .withColumn("l", F.lit(1))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
        .withColumn("r", F.lit(1))
    )
    j = o.join(c, "k", "full")
    return j.agg(
        F.count("l").alias("n_fact_keys"),
        F.count("r").alias("n_dim_keys"),
        F.count(F.when(F.col("l").isNotNull() & F.col("r").isNotNull(), 1))
        .alias("n_common"),
        F.count(F.when(F.col("r").isNull(), 1)).alias("n_orphan_fact"),
        F.count(F.when(F.col("l").isNull(), 1)).alias("n_unused_dim"),
        F.round(
            F.count(
                F.when(F.col("l").isNotNull() & F.col("r").isNotNull(), 1)
            )
            / F.count("l"),
            6,
        ).alias("fact_containment"),
        F.round(
            F.count(
                F.when(F.col("l").isNotNull() & F.col("r").isNotNull(), 1)
            )
            / F.count("r"),
            6,
        ).alias("dim_containment"),
    )


_register(
    QuerySpec(
        "join_key_overlap_profile",
        _join_key_overlap,
        oracle="""
        WITH lk AS (SELECT DISTINCT o_custkey AS k FROM orders),
        rk AS (SELECT DISTINCT c_custkey AS k FROM customer),
        j AS (
          SELECT lk.k AS l, rk.k AS r
          FROM lk FULL OUTER JOIN rk ON lk.k = rk.k)
        SELECT COUNT(l) AS n_fact_keys,
               COUNT(r) AS n_dim_keys,
               COUNT(CASE WHEN l IS NOT NULL AND r IS NOT NULL
                          THEN 1 END) AS n_common,
               COUNT(CASE WHEN r IS NULL THEN 1 END) AS n_orphan_fact,
               COUNT(CASE WHEN l IS NULL THEN 1 END) AS n_unused_dim,
               ROUND(COUNT(CASE WHEN l IS NOT NULL AND r IS NOT NULL
                                THEN 1 END)
                     / /*nz: fact side has >= 1 distinct key*/
                       CAST(COUNT(l) AS DOUBLE), 6) AS fact_containment,
               ROUND(COUNT(CASE WHEN l IS NOT NULL AND r IS NOT NULL
                                THEN 1 END)
                     / /*nz: dim side has >= 1 distinct key*/
                       CAST(COUNT(r) AS DOUBLE), 6) AS dim_containment
        FROM j
        """,
        doc="pre-join referential profile: distinct keys, overlap, containment, orphans",
    )
)


def _span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document C4-style span dedup (operators/dedup.span_dedup):
    10-word spans, first corpus-wide occurrence wins (doc id then
    position), documents reassembled from surviving spans — the
    boilerplate-paragraph stripper doc-level dedup cannot express.
    Span explode + one span-keyed window rank + one doc-keyed
    reassembly."""
    from square_etl_spark.operators.dedup import span_dedup

    d = load_table(spark, sf_dir, "documents")
    return span_dedup(d, "doc_id", "text", span_words=10)


_register(
    QuerySpec(
        "dedup_spans_c4",
        _span_dedup_docs,
        oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS wl
          FROM documents),
        s AS (
          SELECT doc_id,
                 UNNEST(list_transform(
                   generate_series(1, CAST(CEIL(len(wl) / 10.0) AS BIGINT)),
                   i -> struct_pack(
                     idx := i - 1,
                     span := array_to_string(
                       wl[CAST((i - 1) * 10 + 1 AS INTEGER)
                          : CAST((i - 1) * 10 + 10 AS INTEGER)], ' '))))
                   AS pr
          FROM w WHERE len(wl) > 0),
        r AS (
          SELECT doc_id,
                 CAST(pr.idx AS INTEGER) AS idx,
                 pr.span AS span,
                 ROW_NUMBER() OVER (PARTITION BY pr.span
                                    ORDER BY doc_id, pr.idx) AS rk
          FROM s)
        SELECT doc_id,
               COUNT(*) AS n_spans_kept,
               array_to_string(
                 list_transform(
                   list_sort(list(struct_pack(idx := idx, span := span))),
                   x -> x.span), ' ') AS cleaned_text
        FROM r WHERE rk = 1 GROUP BY doc_id
        """,
        doc="C4-style sub-document span dedup: first corpus occurrence wins, docs reassembled",
    )
)


def _incr_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup as an incremental span-digest fold
    (operators/dedup.incremental_span_dedup): three ingest batches
    (doc_id mod 3), each honoring first-occurrence-wins against every
    span kept by earlier batches — old corpus touched only through
    its 32-byte span digests, mirroring dedup_incremental_exact's
    state pattern at SUB-document granularity.  The folded output
    must equal the one-shot span window with batch-then-(doc, pos)
    precedence EXACTLY."""
    from square_etl_spark.operators.dedup import incremental_span_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = None
    parts = []
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        kept, state = incremental_span_dedup(state, batch, span_words=10)
        parts.append(kept.withColumn("batch_no", F.lit(i).cast("int")))
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.select("doc_id", "batch_no", "n_spans_kept", "cleaned_text")


_register(
    QuerySpec(
        "dedup_incremental_spans",
        _incr_span_dedup,
        oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS wl
          FROM documents),
        s AS (
          SELECT doc_id,
                 UNNEST(list_transform(
                   generate_series(1, CAST(CEIL(len(wl) / 10.0) AS BIGINT)),
                   i -> struct_pack(
                     idx := i - 1,
                     span := array_to_string(
                       wl[CAST((i - 1) * 10 + 1 AS INTEGER)
                          : CAST((i - 1) * 10 + 10 AS INTEGER)], ' '))))
                   AS pr
          FROM w WHERE len(wl) > 0),
        r AS (
          SELECT doc_id,
                 CAST(doc_id % 3 AS INTEGER) AS batch_no,
                 CAST(pr.idx AS INTEGER) AS idx,
                 pr.span AS span,
                 ROW_NUMBER() OVER (PARTITION BY pr.span
                                    ORDER BY doc_id % 3, doc_id, pr.idx)
                   AS rk
          FROM s)
        SELECT doc_id, batch_no,
               COUNT(*) AS n_spans_kept,
               array_to_string(
                 list_transform(
                   list_sort(list(struct_pack(idx := idx, span := span))),
                   x -> x.span), ' ') AS cleaned_text
        FROM r WHERE rk = 1 GROUP BY doc_id, batch_no
        """,
        doc="incremental span dedup: span-digest fold ≡ one-shot window, batch precedence",
    )
)


def _split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit — the composition the r08 split +
    decontamination machinery exists for: assign the corpus to
    train/val/test (deterministic md5 splits), then count word-3-gram
    overlap of every TEST doc against the TRAIN shingle set
    (operators/dedup.contamination_hits).  The TRAIN side is ~80% of
    the corpus — corpus-linear, NOT a fixed eval suite — so the probe
    runs with ``broadcast_benchmark=False``: a plain shuffle equi-join
    on the shingle hash instead of contamination_hits's forced
    broadcast (which is an OOM at the scale this audit advertises;
    r08 ADVICE item).  One summary row: overlap-doc count, total/max
    shared shingles, docs past the ≥5-hit leak threshold.  The audit
    every eval split needs before a benchmark number is believed."""
    from square_etl_spark.operators.dedup import contamination_hits
    from square_etl_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents")
    s = split_assign(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="tvt1"
    )
    train = s.filter(F.col("split") == "train")
    test = s.filter(F.col("split") == "test")
    hits = contamination_hits(test, train, broadcast_benchmark=False)
    return hits.agg(
        F.count(F.lit(1)).alias("n_overlap_docs"),
        F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias("total_hits"),
        F.coalesce(F.max("n_hits"), F.lit(0)).cast("long").alias("max_hits"),
        F.coalesce(
            F.sum(F.when(F.col("n_hits") >= 5, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_leaked"),
    )


_register(
    QuerySpec(
        "split_leakage_audit",
        _split_leakage_audit,
        oracle=f"""
        WITH s AS (
          SELECT doc_id, text,
                 CASE WHEN {_bucket_sql("doc_id", "tvt1")}
                           < '{rate_threshold(0.8)}' THEN 'train'
                      WHEN {_bucket_sql("doc_id", "tvt1")}
                           < '{rate_threshold(0.9)}' THEN 'val'
                      ELSE 'test' END AS split
          FROM documents),
        tsh AS (
          SELECT DISTINCT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
                      FROM s WHERE split = 'train')
                WHERE len(w) >= 3)),
        csh AS (
          SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\\s+') AS w
                      FROM s WHERE split = 'test')
                WHERE len(w) >= 3)),
        hits AS (
          SELECT doc_id, COUNT(*) AS n_hits
          FROM csh JOIN tsh USING (sh) GROUP BY doc_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_docs,
               CAST(COALESCE(SUM(n_hits), 0) AS BIGINT) AS total_hits,
               CAST(COALESCE(MAX(n_hits), 0) AS BIGINT) AS max_hits,
               CAST(COALESCE(SUM(CASE WHEN n_hits >= 5 THEN 1 ELSE 0 END),
                             0) AS BIGINT) AS n_leaked
        FROM hits
        """,
        doc="train/test leakage audit: split assignment + shingle-overlap decontamination",
    )
)


def _decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: per event type, the
    exponentially-decayed sum of event values with a 7-day half-life
    anchored at a fixed as-of instant — the recency-weighted metric
    behind freshness-aware source weighting (yesterday's signal counts
    ~2× last week's).  One scan + one grouped aggregation; per-event
    weights round to 9 decimals into DECIMAL(38,9) sums so
    accumulation order cannot change the hash; exp/ln are the same
    IEEE doubles on both engines (the LM scorers already pin this)."""
    e = load_table(spark, sf_dir, "events")
    asof = F.lit("2024-03-01 00:00:00").cast("timestamp")
    # exact integer MICROSECOND age on both engines (unix_timestamp
    # floors to seconds while DuckDB epoch() keeps fractions — µs is
    # the common exact currency, same trick as the TWAP operator)
    age_us = F.unix_micros(asof) - F.unix_micros(F.col("ts"))
    # half-life 7 days: weight = exp(-ln(2) * age / 604800e6 µs)
    w = F.exp(-F.lit(0.6931471805599453) * age_us / F.lit(604800000000.0))
    term = F.round(F.col("value") * w, 9).cast("decimal(38,9)")
    return (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(term).cast("double"), 4).alias("decayed_value"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("raw_value"),
        )
    )


_register(
    QuerySpec(
        "decayed_engagement_events",
        _decayed_engagement,
        oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(ROUND(
                   value * exp(-0.6931471805599453
                               * (epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                                  - epoch_us(ts))
                               / 604800000000.0), 9) AS DECIMAL(38,9)))
                 AS DOUBLE), 4) AS decayed_value,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
                 AS raw_value
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
        """,
        doc="exponential time-decay aggregation (7-day half-life, fixed as-of anchor)",
    )
)


def _prefix_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join
    (operators/dedup.ngram_jaccard_prefix, PPJoin-style): LOSSLESS
    candidate pruning for Jaccard ≥ 0.5 — the oracle is the
    EXHAUSTIVE pair join over the full shingle space, so any pair the
    prefix filter drops incorrectly is a hash mismatch.  Frequency
    order puts hot shingles last, so they never enter a prefix: the
    skew guard the df-capped variant needs a knob for falls out of
    the math here."""
    from square_etl_spark.operators.dedup import ngram_jaccard_prefix

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_prefix(d, "doc_id", "text", n=3, threshold=0.5)


_register(
    QuerySpec(
        "dedup_jaccard_prefix",
        _prefix_jaccard_docs,
        oracle=r"""
        WITH sh AS (
          SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT doc_id,
                             list_filter(
                               regexp_split_to_array(trim(text), '\s+'),
                               x -> x <> '') AS w
                      FROM documents)
                WHERE len(w) >= 3)),
        sized AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
               ROUND(inter / /*nz: union of nonempty shingle sets*/
                     CAST(na.n_sh + nb.n_sh - inter AS DOUBLE), 6)
                 AS jaccard
        FROM inter
        JOIN sized na ON na.doc_id = id_a
        JOIN sized nb ON nb.doc_id = id_b
        WHERE ROUND(inter / /*nz: union of nonempty shingle sets*/
                    CAST(na.n_sh + nb.n_sh - inter AS DOUBLE), 6)
              >= 0.5
        """,
        bench=True,  # r09: promoted to the DEFAULT near-dup path — earns a recorded number
        doc="lossless prefix-filtering similarity join: oracle = the exhaustive pair join",
    )
)


def _oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-256 token vocabulary (frequency-ranked, deterministic
    count-then-token tie-break) — the tokenizer-fit proxy: docs full
    of tokens a fixed vocabulary cannot cover tokenize into rare-piece
    soup and train badly.  One token explode + one vocab-sized top-256
    (orderBy().limit() → TakeOrderedAndProject DIRECTLY — not a global
    window rank that is only scale-safe because Catalyst's
    limit-pushdown rewrites it; r08 verdict hardening) + a broadcast
    semi-join back onto the tokens; per-doc aggregation shares the
    explode's doc key."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda w: w != F.lit(""),
            )
        ).alias("w"),
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(256)
        .select("w")
    )
    # bcast-ok: top-256 vocabulary, bounded by the rank cutoff
    tagged = toks.join(
        F.broadcast(vocab).withColumn("__in", F.lit(1)), "w", "left"
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


_register(
    QuerySpec(
        "text_oov_rate",
        _oov_rate_docs,
        oracle=r"""
        WITH toks AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS w
          FROM documents),
        vocab AS (
          SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
            FROM toks GROUP BY w)
          WHERE rk <= 256)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                     / /*nz: every doc here has >= 1 token*/
                       CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY doc_id
        """,
        doc="per-doc OOV rate vs the corpus top-256 vocabulary (tokenizer-fit proxy)",
        global_window_ok=(
            "vocabulary rank window runs over the distinct-token "
            "relation (vocab-sized, sub-linear in corpus)"
        ),
    )
)


def _source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-overlap matrix: for every source pair,
    how many distinct word 13-gram shingles appear in both — the
    diagnostic that catches two 'independent' feeds scraping the same
    upstream (weighting both then double-counts the shared mass).
    Re-keyed in r12 from whole-content sha256 digests to the canonical
    13-gram decontamination window (Lee et al. 2107.06499 / GPT-3's
    overlap unit): exact full-document duplication across feeds is a
    razor-edge event the sf0.01 fixture doesn't even contain (the r11
    driver row was 0 == 0), while shared PASSAGES are the signal a
    real overlap audit needs — and are positive at every scale here
    (22 source pairs / 1006 shared shingles at sf0.01).  Diagonal =
    shingles repeated across ≥2 documents WITHIN a source (the
    boilerplate/self-syndication measure).

    Plan shape: contents collapse to 64-bit shingle hashes at the
    scan (dedup.hashed_word_shingles — strings never shuffle), one
    distinct on (source, shingle) bounds the join input by vocabulary
    not corpus, the self-equi-join on the 8-byte hash fans out at most
    |sources| per key, and the matrix aggregate is map-side
    combinable.  A 64-bit collision could phantom-share one shingle
    (≈1e-11) — the split_leakage_audit precedent."""
    from square_etl_spark.operators.dedup import (
        shingles_from_word_hashes,
        word_hashes,
    )

    d = load_table(spark, sf_dir, "documents")
    # word hashes materialized once — the 13-gram fold references the
    # array 13 times (r12 HOF-capture rule)
    sh = d.withColumn("__hw", word_hashes("text")).select(
        "source",
        "doc_id",
        F.explode(shingles_from_word_hashes("__hw", 13)).alias("sh"),
    )
    src_sh = sh.select("source", "sh").distinct()
    a = src_sh.select(F.col("source").alias("source_a"), "sh")
    b = src_sh.select(F.col("source").alias("source_b"), "sh")
    cross = (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )
    # diagonal: shingles appearing in ≥ 2 distinct docs of ONE source
    diag = (
        sh.groupBy("source", "sh")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
        .select(
            F.col("source").alias("source_a"),
            F.col("source").alias("source_b"),
            "n_shared_shingles",
        )
    )
    return cross.unionByName(diag)


_register(
    QuerySpec(
        "source_overlap_matrix",
        _source_overlap_matrix,
        oracle=r"""
        WITH sh AS (
          SELECT DISTINCT source, doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                 w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                 w[i+6] || ' ' || w[i+7] || ' ' || w[i+8] || ' ' ||
                 w[i+9] || ' ' || w[i+10] || ' ' || w[i+11] || ' ' ||
                 w[i+12] AS sh
          FROM (SELECT source, doc_id, w,
                       UNNEST(range(1, len(w) - 11)) AS i
                FROM (SELECT source, doc_id,
                             string_split_regex(trim(text), '\s+') AS w
                      FROM documents)
                WHERE len(w) >= 13)),
        ssh AS (SELECT DISTINCT source, sh FROM sh)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
        FROM ssh a JOIN ssh b
          ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
        UNION ALL
        SELECT source, source, CAST(COUNT(*) AS BIGINT)
        FROM (SELECT source, sh FROM sh
              GROUP BY source, sh HAVING COUNT(DISTINCT doc_id) >= 2)
        GROUP BY source
        """,
        doc="cross-source 13-gram overlap matrix (shared-passage audit; "
        "shingle-hash keyed, contents never shuffle; positive at every scale)",
    )
)


def _rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    COUNT DISTINCT that a plain window frame cannot express (distinct
    is not a frame aggregate).  Spark-first shape: collapse events to
    distinct (day, user) ONCE, then each contributes to its 7
    following target days via one explode — the distinct-then-fanout
    order makes the fanout per-USER-DAY, not per-event, so a hot user
    with 10⁶ events still fans out exactly 7 rows.  One final
    distinct-count per target day; days beyond the last observed day
    are trimmed."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "user_id",
        )
        .distinct()
    )
    fan = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("tday"),
        "user_id",
    )
    # bcast-ok: mx = 1-row max-day aggregate
    mx = du.agg(F.max("day").alias("mxd"))
    return (
        fan.join(F.broadcast(mx))
        .filter(F.col("tday") <= F.col("mxd"))
        .groupBy("tday")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


def _mix_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-budget corpus cap — "take at most 5 000
    chars from each source" — via sampling.budget_cap's per-group
    two-phase prefix sum (md5-of-doc_id consumption order, no
    single-partition window).  Summarized per source so the check
    row count stays bounded; the kept doc set itself is what the
    operator returns."""
    from square_etl_spark.operators.sampling import budget_cap

    d = load_table(spark, sf_dir, "documents")
    kept = budget_cap(
        d, group_col="source", weight_col="n_chars",
        key_cols=["doc_id"], budget=5000,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("kept_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


_register(
    QuerySpec(
        "mix_budget_cap_sources",
        _mix_budget_cap,
        oracle="""
        WITH ord AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT source,
               COUNT(*) AS kept_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
        FROM ord
        WHERE cum_before < 5000
        GROUP BY source
        """,
        doc="per-source token/char budget cap: grouped two-phase prefix sum",
    )
)


def _mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing
    (operators/sampling.temperature_mix): per-lang char budgets
    ∝ size^0.5 of a 60k-char total (α = 0.5 → sqrt, exactly-rounded
    IEEE on every engine) — small languages up-weighted relative to
    their natural share, then consumed in the deterministic md5
    prefix order of budget_cap.  The oracle recomputes sizes, the
    decimal-summed power weights, the floor'd budgets, AND the
    per-row exclusive-prefix take — the full mixture recipe."""
    from square_etl_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    kept = temperature_mix(
        d, "lang", "n_chars", ["doc_id"], total_budget=60000, alpha=0.5
    )
    return kept.select("doc_id", "lang", "n_chars")


#: shared by the one-shot and incremental temperature-mix queries —
#: the folded size state IS the one-shot size aggregate (sum monoid)
_MIX_TEMPERATURE_ORACLE = """
        WITH sz AS (
          SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n
          FROM documents GROUP BY lang),
        pw AS (
          SELECT lang,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT lang,
                 CAST(floor(ROUND(
                   ROUND(CAST(p AS DOUBLE)
                         / /*nz: sum of positive group weights*/
                           CAST(sp AS DOUBLE), 9) * 60000, 6))
                   AS BIGINT) AS b
          FROM pw CROSS JOIN tot),
        ord AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.doc_id, o.lang, CAST(o.n_chars AS BIGINT) AS n_chars
        FROM ord o JOIN bud USING (lang)
        WHERE cum_before < b
        """

_register(
    QuerySpec(
        "mix_temperature_langs",
        _mix_temperature,
        oracle=_MIX_TEMPERATURE_ORACLE,
        doc="temperature-scaled mixture (size^0.5 shares): derived per-group "
        "budgets + deterministic md5-order consumption, full recipe in the oracle",
    )
)


def _mix_temperature_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL temperature mix
    (operators/sampling.group_weight_sizes / fold_group_sizes): the
    per-language char totals that drive the budget derivation are
    accumulated as a language-sized state folded over three ingest
    batches (doc_id % 3) — sum monoid, so the folded sizes ARE the
    one-shot aggregate and this query shares the one-shot oracle
    verbatim.  A continuous-ingest mix re-derives its budgets from
    the bounded state without re-aggregating history."""
    from square_etl_spark.operators.sampling import (
        fold_group_sizes,
        group_weight_sizes,
        temperature_mix,
    )

    d = load_table(spark, sf_dir, "documents")
    state = None
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        sz = group_weight_sizes(batch, "lang", "n_chars")
        state = sz if state is None else fold_group_sizes(state, sz)
    kept = temperature_mix(
        d, "lang", "n_chars", ["doc_id"], total_budget=60000, alpha=0.5,
        sizes=state,
    )
    return kept.select("doc_id", "lang", "n_chars")


_register(
    QuerySpec(
        "mix_temperature_incremental",
        _mix_temperature_incremental,
        oracle=_MIX_TEMPERATURE_ORACLE,
        doc="incremental temperature mix: batch-folded language sizes derive "
        "identical budgets to the one-shot aggregate (shared oracle)",
    )
)


def _mix_epoch_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixing (arXiv:2305.16264 via
    sampling.temperature_mix(max_epochs=1)): temperature shares of a
    120k-char budget, but each language's budget clips at its OWN
    corpus size — a small language whose sqrt share over-promises
    keeps everything it has and no more (no repetition), instead of
    the selection silently pretending the weight exists.  Per-language
    report joins the natural supply against what the capped take kept,
    so capped languages show kept_chars == natural_chars."""
    from square_etl_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    kept = temperature_mix(
        d, "lang", "n_chars", ["doc_id"],
        total_budget=120000, alpha=0.5, max_epochs=1.0,
    )
    natural = d.groupBy("lang").agg(
        F.sum("n_chars").cast("bigint").alias("natural_chars")
    )
    summary = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )
    return natural.join(summary, "lang", "left").select(
        "lang",
        "natural_chars",
        F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias("kept_docs"),
        F.coalesce(F.col("kept_chars"), F.lit(0)).cast("bigint").alias("kept_chars"),
    )


_register(
    QuerySpec(
        "mix_epoch_capped_langs",
        _mix_epoch_capped,
        oracle="""
        WITH sz AS (
          SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n
          FROM documents GROUP BY lang),
        pw AS (
          SELECT lang, n,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT lang,
                 LEAST(
                   CAST(floor(ROUND(
                     ROUND(CAST(p AS DOUBLE)
                           / /*nz: sum of positive group weights*/
                             CAST(sp AS DOUBLE), 9) * 120000, 6))
                     AS BIGINT),
                   CAST(floor(ROUND(CAST(n AS DOUBLE) * 1.0, 6))
                     AS BIGINT)) AS b
          FROM pw CROSS JOIN tot),
        ord AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents),
        kept AS (
          SELECT o.lang, COUNT(*) AS kd, SUM(o.n_chars) AS kc
          FROM ord o JOIN bud USING (lang)
          WHERE cum_before < b GROUP BY o.lang)
        SELECT s.lang,
               s.n AS natural_chars,
               CAST(COALESCE(k.kd, 0) AS BIGINT) AS kept_docs,
               CAST(COALESCE(k.kc, 0) AS BIGINT) AS kept_chars
        FROM sz s LEFT JOIN kept k USING (lang)
        """,
        doc="data-constrained temperature mix: per-language budget clipped at "
        "its own supply (max_epochs=1), capped langs keep exactly everything",
    )
)


def _waterfill_fixpoint_ctes(
    total: int, items_cte: str, group_alias: str = "lang",
    prefix: str = "",
) -> str:
    """The water-filling fixpoint as a DuckDB recursive CTE chain
    ending in ``bud(lang, b)``, GENERIC over the share-weight source:
    ``items_cte`` must provide ``(g, x, cap)`` with x/cap castable to
    HUGEINT (temperature: x = round(n^α·1e9); DoReMi: x =
    round(λ·1e9)).  Single-row state over group structs, exact
    HUGEINT floor-division shares, largest-remainder bonus — the
    bit-for-bit twin of sampling.waterfill_budgets."""
    sql = f"""init AS (
          SELECT list(struct_pack(
                   g := g,
                   x := CAST(x AS HUGEINT),
                   cap := CAST(cap AS HUGEINT),
                   budget := CAST(0 AS HUGEINT),
                   capped := false) ORDER BY g) AS gs
          FROM {items_cte}),
        wf_tr AS (
          SELECT 0 AS step, false AS done, gs FROM init
          UNION ALL
          SELECT step + 1,
                 CASE WHEN nfree = 0 OR residual <= 0 OR sw <= 0
                      THEN true
                      WHEN nnew > 0 THEN false ELSE true END,
                 CASE
                   WHEN nfree = 0 THEN gs
                   WHEN residual <= 0 OR sw <= 0 THEN
                     list_transform(gs, t -> CASE WHEN t.capped THEN t
                       ELSE struct_pack(g := t.g, x := t.x,
                                        cap := t.cap,
                                        budget := CAST(0 AS HUGEINT),
                                        capped := true) END)
                   WHEN nnew > 0 THEN
                     list_transform(gs, t -> CASE
                       WHEN NOT t.capped
                            AND (t.x * residual) // /*nz: CASE branch holds sw > 0*/ sw >= t.cap THEN
                         struct_pack(g := t.g, x := t.x, cap := t.cap,
                                     budget := t.cap, capped := true)
                       ELSE t END)
                   ELSE
                     list_transform(gs, t -> CASE WHEN t.capped THEN t
                       ELSE struct_pack(g := t.g, x := t.x,
                         cap := t.cap,
                         budget := (t.x * residual) // /*nz: CASE branch holds sw > 0*/ sw +
                           CASE WHEN len(list_filter(freex, u ->
                                  (u.x * residual) % sw
                                    > (t.x * residual) % sw
                                  OR ((u.x * residual) % sw
                                        = (t.x * residual) % sw
                                      AND u.g < t.g))) < leftover
                                THEN 1 ELSE 0 END,
                         capped := true) END)
                 END
          FROM (
            SELECT step, done, gs, freex, residual, sw,
                   len(freex) AS nfree,
                   CASE WHEN sw > 0 THEN len(list_filter(freex,
                        t -> (t.x * residual) // /*nz: CASE branch holds sw > 0*/ sw >= t.cap))
                        ELSE 0 END AS nnew,
                   CASE WHEN sw > 0 THEN residual - COALESCE(list_sum(
                        list_transform(freex,
                          t -> (t.x * residual) // /*nz: CASE branch holds sw > 0*/ sw)), 0)
                        ELSE 0 END AS leftover
            FROM (
              SELECT step, done, gs,
                     list_filter(gs, t -> NOT t.capped) AS freex,
                     CAST({total} AS HUGEINT) - COALESCE(list_sum(
                       list_transform(list_filter(gs, t -> t.capped),
                                      t -> t.budget)), 0) AS residual,
                     COALESCE(list_sum(list_transform(
                       list_filter(gs, t -> NOT t.capped),
                       t -> t.x)), 0) AS sw
              FROM wf_tr WHERE NOT done
                -- each live step caps >=1 group or finishes, so
                -- steps <= |groups|+2; bound sized to the
                -- mixture-dims contract (<=10^3 groups), NOT the
                -- old 50 that silently truncated larger domains
                AND step < 2048) a) b),
        fin AS (
          SELECT unnest(gs) AS s FROM wf_tr
          WHERE step = (SELECT MAX(step) FROM wf_tr)),
        bud AS (
          SELECT s.g AS {group_alias}, CAST(s.budget AS BIGINT) AS b
          FROM fin)"""
    if prefix:
        # whole-word rename of the chain's four CTE names so several
        # independent fixpoints can share one WITH RECURSIVE statement
        # (the temperature-sweep oracle); empty prefix = byte-identical
        # SQL to every pre-existing oracle.
        import re as _re

        sql = _re.sub(r"\b(init|wf_tr|fin|bud)\b", prefix + r"\1", sql)
    return sql


def _waterfill_bud_ctes(
    total: int, max_epochs: float, src: str = "documents"
) -> str:
    """Temperature-flavored items (x = round(n^α·1e9), cap =
    ⌊round(max_epochs·n, 6)⌋ over per-lang char sums) feeding the
    generic fixpoint — shared by the selection, epoch-expansion, and
    incremental queries."""
    items = f"""sz AS (
          SELECT lang AS g, CAST(SUM(n_chars) AS BIGINT) AS n
          FROM {src} GROUP BY lang),
        witems AS (
          SELECT g,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5) * 1e9, 0)
                      AS HUGEINT) AS x,
                 CAST(CAST(FLOOR(ROUND(CAST(n AS DOUBLE) * {max_epochs},
                             6)) AS BIGINT) AS HUGEINT) AS cap
          FROM sz),
        """
    return items + _waterfill_fixpoint_ctes(total, "witems")


def _mix_temperature_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filled data-constrained temperature mix
    (operators/sampling.temperature_mix_waterfill, r10 verdict item
    2): per-lang sqrt-temperature budgets against a 140k-char total
    with every budget clipped at the language's own supply
    (max_epochs = 1) and the clipped DEFICITS RE-SPENT over the
    uncapped languages by the exact-integer fixpoint — at sf0.01
    four of the five languages cap at their full supply and `en`
    absorbs the entire residual, so the driver row certifies a real
    multi-round fixpoint, not the trivial single-allocation path.
    The oracle recomputes the fixpoint bit-for-bit in a recursive
    CTE (single-row state, HUGEINT floor-division shares,
    largest-remainder bonus) and the md5-order consumption."""
    from square_etl_spark.operators.sampling import temperature_mix_waterfill

    d = load_table(spark, sf_dir, "documents")
    kept = temperature_mix_waterfill(
        d, "lang", "n_chars", ["doc_id"],
        total_budget=140000, alpha=0.5, max_epochs=1.0,
    )
    return kept.select("doc_id", "lang", "n_chars")


_register(
    QuerySpec(
        "mix_temperature_waterfill",
        _mix_temperature_waterfill,
        oracle=f"""
        WITH RECURSIVE {_waterfill_bud_ctes(140000, 1.0)},
        ordx AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.doc_id, o.lang, CAST(o.n_chars AS BIGINT) AS n_chars
        FROM ordx o JOIN bud USING (lang)
        WHERE cum_before < b
        """,
        doc="water-filled data-constrained mix: capped deficits re-spent over "
        "uncapped groups, fixpoint recomputed bit-for-bit by a recursive CTE",
    )
)


def _mix_waterfill_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEATED-EPOCH training stream (operators/sampling.epoch_repeat
    + temperature_waterfill_budgets): a 400k-char budget water-filled
    at max_epochs = 3 gives four languages budgets of exactly
    3× their supply (capped) and `en` a residual worth ~2.26 epochs —
    and the operator EMITS that stream: every capped language's docs
    appear exactly 3 times (epoch 1..3), `en` docs twice plus the
    deterministic md5-order prefix a third time.  This is the
    Muennighoff data-constrained consumer: the budget is not a
    promise, it is the actual repeated token stream the trainer
    reads.  The oracle recomputes the fixpoint AND the epoch
    expansion (integer div/mod against the per-group supply)."""
    from square_etl_spark.operators.sampling import (
        epoch_repeat,
        temperature_waterfill_budgets,
    )

    d = load_table(spark, sf_dir, "documents")
    bud = temperature_waterfill_budgets(
        d, "lang", "n_chars", total_budget=400000, alpha=0.5,
        max_epochs=3.0,
    )
    out = epoch_repeat(d, "lang", "n_chars", ["doc_id"], bud)
    return out.select("doc_id", "lang", "n_chars", "epoch")


_register(
    QuerySpec(
        "mix_waterfill_epochs",
        _mix_waterfill_epochs,
        oracle=f"""
        WITH RECURSIVE {_waterfill_bud_ctes(400000, 3.0)},
        ordx AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.doc_id, o.lang, CAST(o.n_chars AS BIGINT) AS n_chars,
               CAST(u.e AS BIGINT) AS epoch
        FROM ordx o
        JOIN bud USING (lang)
        JOIN sz s ON s.g = o.lang
        CROSS JOIN UNNEST(range(1, b // /*nz: groups with rows have
          positive char supply*/ s.n + 2)) u(e)
        WHERE u.e <= b // /*nz: see above*/ s.n
           OR (u.e = b // /*nz: see above*/ s.n + 1
               AND cum_before < b % s.n)
        """,
        doc="data-constrained repeated-epoch stream: waterfill budgets div/mod supply, every epoch materialized, fixpoint + expansion both recomputed",
    )
)


def _mix_waterfill_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL water-filled mix: the sizes feeding the fixpoint
    come from the batch-folded language-sized state
    (group_weight_sizes / fold_group_sizes — sum monoid, fold ≡
    one-shot), so the derived budgets and the selection equal
    mix_temperature_waterfill's exactly and the query SHARES its
    recursive-CTE oracle.  Continuous ingest re-runs the bounded
    fixpoint per release without re-aggregating history."""
    from square_etl_spark.operators.sampling import (
        fold_group_sizes,
        group_weight_sizes,
        temperature_mix_waterfill,
    )

    d = load_table(spark, sf_dir, "documents")
    state = None
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        sz = group_weight_sizes(batch, "lang", "n_chars")
        state = sz if state is None else fold_group_sizes(state, sz)
    kept = temperature_mix_waterfill(
        d, "lang", "n_chars", ["doc_id"], total_budget=140000, alpha=0.5,
        sizes=state, max_epochs=1.0,
    )
    return kept.select("doc_id", "lang", "n_chars")


_register(
    QuerySpec(
        "mix_waterfill_incremental",
        _mix_waterfill_incremental,
        oracle=f"""
        WITH RECURSIVE {_waterfill_bud_ctes(140000, 1.0)},
        ordx AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.doc_id, o.lang, CAST(o.n_chars AS BIGINT) AS n_chars
        FROM ordx o JOIN bud USING (lang)
        WHERE cum_before < b
        """,
        doc="incremental water-filled mix: batch-folded sizes drive the identical fixpoint (shared-oracle arithmetic)",
    )
)


def _pipeline_epoch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA-CONSTRAINED training-data build end to end: quality
    gate (n_chars ≥ 50) → water-filled per-language budgets at
    max_epochs = 1.5 over a 220k-char total (four languages cap at
    1.5× their supply; `en` takes the re-spent residual ≈ 1.44
    epochs) → epoch_repeat materializes the repeated stream (capped
    languages: every doc in epoch 1 plus the md5-prefix half in
    epoch 2) → pack_sequences lays the (doc, epoch) stream into
    2048-char training sequences in global md5 order.  One query =
    the whole Muennighoff recipe as it would actually feed a
    trainer; the oracle recomputes the gate, the fixpoint, the
    epoch div/mod expansion, AND the packing prefix sum."""
    from square_etl_spark.operators.sampling import (
        epoch_repeat,
        pack_sequences,
        temperature_waterfill_budgets,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("n_chars") >= 50)
    bud = temperature_waterfill_budgets(
        corpus, "lang", "n_chars", total_budget=220000, alpha=0.5,
        max_epochs=1.5,
    )
    stream = epoch_repeat(corpus, "lang", "n_chars", ["doc_id"], bud)
    packed = pack_sequences(
        stream, token_col="n_chars", key_cols=("doc_id", "epoch"),
        budget=2048,
    )
    return packed.select(
        "doc_id", "lang", "epoch",
        F.col("n_chars").cast("long").alias("n_chars"),
        "seq_id", "seq_offset",
    )


_register(
    QuerySpec(
        "pipeline_epoch_build",
        _pipeline_epoch_build,
        oracle=f"""
        WITH RECURSIVE corpus AS (
          SELECT * FROM documents WHERE n_chars >= 50),
        {_waterfill_bud_ctes(220000, 1.5, src="corpus")},
        ordx AS (
          SELECT doc_id, lang, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM corpus),
        estream AS (
          SELECT o.doc_id, o.lang, o.n_chars, CAST(u.e AS BIGINT) AS epoch
          FROM ordx o
          JOIN bud USING (lang)
          JOIN sz s ON s.g = o.lang
          CROSS JOIN UNNEST(range(1, b // /*nz: gated groups have
            positive char supply*/ s.n + 2)) u(e)
          WHERE u.e <= b // /*nz: see above*/ s.n
             OR (u.e = b // /*nz: see above*/ s.n + 1
                 AND cum_before < b % s.n)),
        pord AS (
          SELECT doc_id, lang, epoch, n_chars,
                 SUM(n_chars) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':'
                              || CAST(epoch AS VARCHAR)),
                            doc_id, epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum
          FROM estream)
        SELECT doc_id, lang, epoch, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(cum // 2048 AS BIGINT) AS seq_id,
               CAST(cum % 2048 AS BIGINT) AS seq_offset
        FROM pord
        """,
        bench=True,
        doc="the data-constrained build end to end: quality gate -> waterfill -> repeated epochs -> packed sequences, all recomputed",
    )
)


def _doremi_from_nll(
    d: DataFrame,
    nll: DataFrame,
    total_budget: int = 60000,
    max_epochs: float | None = None,
    waterfill: bool = False,
) -> DataFrame:
    """Shared tail of the one-shot and incremental DoReMi queries:
    per-source excess NLL → one MW step → budget-capped take →
    per-source summary."""
    from square_etl_spark.operators.sampling import doremi_mix

    j = nll.join(d.select("doc_id", "source"), "doc_id")
    dec = F.col("avg_nll").cast("decimal(18,6)")
    # ONE aggregation pass derives BOTH means (r16): per-source exact
    # decimal (sum, count) — k rows, checkpointed so the tokenize→LM→
    # NLL chain runs once — then the corpus mean folds from the
    # per-source sums (decimal addition is exact and associative, so
    # Σ_d s_d ≡ the old direct corpus SUM bit-for-bit, and the counts
    # likewise; the old shape re-ran the whole NLL lineage once per
    # mean).  Values identical; the shared oracle is unchanged.
    agg = (
        j.groupBy("source")
        .agg(F.sum(dec).alias("__s"), F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    dm = agg.select(
        "source",
        F.round(
            F.col("__s").cast("double") / F.col("__n"), 6
        ).alias("m_d"),
    )
    cm = agg.agg(
        F.round(
            F.sum("__s").cast("double") / F.sum("__n"), 6
        ).alias("m")
    )
    # bcast-ok: 1-row corpus-mean aggregate
    excess = dm.crossJoin(F.broadcast(cm)).select(
        "source",
        F.greatest(
            F.lit(0.0), F.round(F.col("m_d") - F.col("m"), 6)
        ).alias("excess"),
    )
    kept = doremi_mix(
        d, "source", "n_chars", ["doc_id"],
        total_budget=total_budget, excess=excess, eta=1.0, eps=0.1,
        max_epochs=max_epochs, waterfill=waterfill,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


def _mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite domain reweighting (operators/sampling.doremi_mix,
    arXiv:2305.10429): per-source mean unigram-LM NLL minus the corpus
    doc-mean is the excess-loss signal; one exponential
    multiplicative-weights step (η = 1) smoothed 10% toward uniform
    derives the per-source character budgets, consumed in budget_cap's
    deterministic md5-prefix order.  The oracle recomputes the WHOLE
    recipe — tokenization, LM frequencies, per-doc decimal-summed NLL,
    domain/corpus means, exp weights, smoothed shares, floor'd
    budgets, and the per-row exclusive-prefix take."""
    d = load_table(spark, sf_dir, "documents")
    return _doremi_from_nll(d, tx.unigram_logprob(d, "doc_id", "text"))


def _mix_doremi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DoReMi (operators/text.unigram_counts /
    fold_unigram_counts): the unigram LM that scores the excess loss
    is maintained as a (w, c) count state folded over three ingest
    batches (doc_id % 3) — count-sum monoid, so the folded model IS
    the one-shot corpus LM element-for-element and this query shares
    the one-shot oracle verbatim.  A continuous-ingest reweighting
    re-derives its domain budgets without re-tokenizing history; only
    the vocab-sized state moves — the DSIR raw_counts pattern applied
    to the LM-based selection signal."""
    d = load_table(spark, sf_dir, "documents")
    state = None
    for i in range(3):
        batch_counts = tx.unigram_counts(
            d.filter(F.col("doc_id") % 3 == i), "text"
        )
        state = (
            batch_counts
            if state is None
            else tx.fold_unigram_counts(state, batch_counts)
        )
    nll = tx.unigram_logprob(d, "doc_id", "text", model_counts=state)
    return _doremi_from_nll(d, nll)


#: shared by the one-shot and incremental DoReMi queries — the folded
#: unigram-count state IS the one-shot LM (sum monoid), so budgets match
_DOREMI_LAMBDA_CTES = r"""
        WITH t AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
        tot AS (SELECT SUM(c) AS t_total FROM freq),
        scored AS (
          SELECT doc_id,
                 CAST(ROUND(-ln(c / /*nz: corpus token total >= 1 for any token row*/ t_total), 6) AS DECIMAL(18,6)) AS nll
          FROM t JOIN freq USING (w) CROSS JOIN tot),
        perdoc AS (
          SELECT doc_id,
                 CAST(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6)
                      AS DECIMAL(18,6)) AS avg_nll
          FROM scored GROUP BY doc_id),
        j AS (
          SELECT d.source, p.avg_nll
          FROM perdoc p JOIN documents d USING (doc_id)),
        dm AS (
          SELECT source,
                 ROUND(CAST(SUM(avg_nll) AS DOUBLE) / COUNT(*), 6) AS m_d
          FROM j GROUP BY source),
        cm AS (
          SELECT ROUND(CAST(SUM(avg_nll) AS DOUBLE) / COUNT(*), 6) AS m
          FROM j),
        ex AS (
          SELECT source,
                 GREATEST(0.0, ROUND(m_d - m, 6)) AS excess
          FROM dm CROSS JOIN cm),
        uni AS (SELECT DISTINCT source FROM documents),
        w AS (
          -- domain universe from the corpus itself: a source whose
          -- docs all scored empty has no ex row and gets weight
          -- exp(0) = 1 (the operator's no-evidence rule), never a
          -- silent drop
          SELECT u.source,
                 CAST(ROUND(exp(1.0 * COALESCE(e.excess, 0.0)), 9)
                      AS DECIMAL(38,9)) AS wt
          FROM uni u LEFT JOIN ex e ON e.source = u.source),
        wtot AS (SELECT SUM(wt) AS sw, COUNT(*) AS k FROM w)"""

_MIX_DOREMI_ORACLE = (
    _DOREMI_LAMBDA_CTES
    + r""",
        bud AS (
          SELECT source,
                 CAST(floor(ROUND(
                   ROUND(0.9 * (CAST(wt AS DOUBLE)
                                / /*nz: sum of exp weights >= 1 per domain*/
                                  CAST(sw AS DOUBLE))
                         + 0.1 / /*nz: k counts domains; >= 1 because w is non-empty whenever bud joins a row*/ k, 9) * 60000, 6)) AS BIGINT) AS b
          FROM w CROSS JOIN wtot),
        ord AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.source,
               COUNT(*) AS kept_docs,
               CAST(SUM(o.n_chars) AS BIGINT) AS kept_chars,
               CAST(MIN(o.doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(o.doc_id) AS BIGINT) AS max_doc_id
        FROM ord o JOIN bud USING (source)
        WHERE cum_before < b
        GROUP BY o.source
        """
)


_register(
    QuerySpec(
        "mix_doremi_sources",
        _mix_doremi,
        # exp() carries the documented last-ulp caveat
        # (sampling.doremi_mix docstring); the 9-decimal rounding after
        # a small-argument exp makes divergence astronomically
        # unlikely and data-fixed, verified tri-scale
        oracle=_MIX_DOREMI_ORACLE,
        bench=True,
        doc="DoReMi-lite domain reweighting: excess unigram-NLL drives one "
        "exp multiplicative-weights step, uniform-smoothed, budget-cap take",
        global_window_ok="vocab-sized total fold (bounded vocabulary, see unigram_logprob)",
    )
)


def _mix_doremi_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained DoReMi (sampling.doremi_mix(waterfill=True),
    r10 verdict item 2's doremi wiring, now FULLY oracle-checked):
    the MW-step λ shares of a 140k-char total clip at each source's
    own supply (max_epochs = 1 — at sf0.01 four of the twenty
    sources cap) and the deficits re-spend over the uncapped sources
    via the exact-integer fixpoint on λ·1e9 weights.  The oracle
    replays the ENTIRE recipe: unigram LM, excess NLL, exp weights,
    smoothed λ, the recursive waterfill fixpoint, and the md5-order
    consumption."""
    d = load_table(spark, sf_dir, "documents")
    return _doremi_from_nll(
        d, tx.unigram_logprob(d, "doc_id", "text"),
        total_budget=140000, max_epochs=1.0, waterfill=True,
    )


_register(
    QuerySpec(
        "mix_doremi_waterfill",
        _mix_doremi_waterfill,
        oracle=(
            _DOREMI_LAMBDA_CTES.replace("WITH t AS", "WITH RECURSIVE t AS")
            + r""",
        sup AS (
          SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s
          FROM documents GROUP BY source),
        witems AS (
          SELECT w.source AS g,
                 CAST(ROUND(ROUND(0.9 * (CAST(wt AS DOUBLE)
                              / /*nz: sum of exp weights >= 1 per domain*/
                                CAST(sw AS DOUBLE))
                        + 0.1 / /*nz: k >= 1, domain universe non-empty*/ k,
                        9) * 1e9, 0) AS HUGEINT) AS x,
                 CAST(CAST(FLOOR(ROUND(CAST(sup.s AS DOUBLE) * 1.0, 6))
                      AS BIGINT) AS HUGEINT) AS cap
          FROM w CROSS JOIN wtot
          JOIN sup ON sup.source = w.source),
        """
            + _waterfill_fixpoint_ctes(140000, "witems", "source")
            + r""",
        ordx AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM documents)
        SELECT o.source,
               COUNT(*) AS kept_docs,
               CAST(SUM(o.n_chars) AS BIGINT) AS kept_chars,
               CAST(MIN(o.doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(o.doc_id) AS BIGINT) AS max_doc_id
        FROM ordx o JOIN bud USING (source)
        WHERE cum_before < b
        GROUP BY o.source
        """
        ),
        bench=True,
        doc="data-constrained DoReMi: MW shares waterfilled at supply caps, the full recipe (LM, excess, fixpoint, take) recomputed",
        global_window_ok="vocab-sized total fold (bounded vocabulary, see unigram_logprob)",
    )
)


_register(
    QuerySpec(
        "mix_doremi_incremental",
        _mix_doremi_incremental,
        oracle=_MIX_DOREMI_ORACLE,
        doc="incremental DoReMi: batch-folded unigram-count LM state scores "
        "identically to the one-shot corpus model (shared oracle)",
        global_window_ok="vocab-sized total fold (bounded vocabulary, see unigram_logprob)",
    )
)


def _dsir_target_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.dsir_logweights):
    score every document by hashed-bigram log-likelihood ratio
    against the German subcorpus as the target domain — the
    distribution-matching data-selection recipe (arXiv:2302.03169).
    4096 buckets, Laplace smoothing 1.0; the oracle recomputes the
    md5-portable bigram hashing, both smoothed distributions, and
    the decimal-summed per-doc ratio end to end."""
    from square_etl_spark.operators.sampling import dsir_logweights

    d = load_table(spark, sf_dir, "documents")
    return dsir_logweights(
        d, d.filter(F.col("lang") == "de"), "doc_id", "text",
        n=2, buckets=4096, smoothing=1.0,
    )


def _dsir_oracle() -> str:
    mask = (1 << 57) - 1
    hex32 = (
        "list_sum(list_transform(generate_series(1, 8),"
        " p -> (CAST(strpos('0123456789abcdef',"
        " substr(md5(x), p, 1)) AS BIGINT) - 1)"
        " * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))"
    )
    return rf"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> '') AS w
          FROM documents),
        tw AS (
          SELECT doc_id, lang, list_transform(w, x -> {hex32}) AS hw
          FROM t WHERE len(w) >= 2),
        feats AS (
          SELECT doc_id, lang,
                 UNNEST(list_transform(generate_series(1, len(hw) - 1),
                   i -> ((hw[CAST(i AS INTEGER)] * 31
                          + hw[CAST(i + 1 AS INTEGER)]) & {mask}) % 4096))
                   AS b
          FROM tw),
        tcnt AS (SELECT b, COUNT(*) AS ct FROM feats
                 WHERE lang = 'de' GROUP BY b),
        tt AS (SELECT SUM(ct) AS nt FROM tcnt),
        rcnt AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY b),
        rt AS (SELECT SUM(cr) AS nr FROM rcnt),
        terms AS (
          SELECT f.doc_id,
                 ROUND(ln((COALESCE(tc.ct, 0) + 1.0)
                          / /*nz: Laplace-smoothed denominator*/
                            (CAST(tt.nt AS DOUBLE) + 4096.0))
                     - ln((rc.cr + 1.0)
                          / /*nz: Laplace-smoothed denominator*/
                            (CAST(rt.nr AS DOUBLE) + 4096.0)), 9) AS term
          FROM feats f
          LEFT JOIN tcnt tc ON f.b = tc.b
          JOIN rcnt rc ON f.b = rc.b
          CROSS JOIN tt CROSS JOIN rt)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
                 AS dsir_logw
        FROM terms GROUP BY doc_id
        """


_register(
    QuerySpec(
        "dsir_weights_target_de",
        _dsir_target_lang,
        oracle=_dsir_oracle(),
        doc="DSIR importance weights vs a target subcorpus: hashed-bigram "
        "smoothed log-likelihood ratios, both distributions oracle-recomputed",
        bench=True,
    )
)


def _dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DSIR (operators/sampling.dsir_feature_counts /
    dsir_fold_counts): the raw-corpus feature distribution is
    accumulated as a ≤4096-row (bucket, count) state folded over
    three ingest batches (doc_id % 3) — count-sum monoid, so the
    folded state IS the one-shot distribution and this query shares
    the one-shot oracle verbatim (the continuous-ingest posture:
    scoring never rescans old text, only the bounded state moves).
    A green row pins fold ≡ one-shot end to end on real data."""
    from square_etl_spark.operators.sampling import (
        dsir_feature_counts,
        dsir_fold_counts,
        dsir_logweights,
    )

    d = load_table(spark, sf_dir, "documents")
    state = None
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        counts = dsir_feature_counts(batch, "text", n=2, buckets=4096)
        state = counts if state is None else dsir_fold_counts(state, counts)
    return dsir_logweights(
        d, d.filter(F.col("lang") == "de"), "doc_id", "text",
        n=2, buckets=4096, smoothing=1.0, raw_counts=state,
    )


_register(
    QuerySpec(
        "dsir_incremental_counts",
        _dsir_incremental,
        oracle=_dsir_oracle(),
        doc="incremental DSIR: batch-folded (bucket,count) state scores "
        "identically to the one-shot distribution (shared oracle)",
    )
)


def _curation_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 selection operators composed into the pipeline a
    target-domain corpus build actually runs: DSIR-score every doc
    against the German subcorpus, keep the top-300 most target-like
    (deterministic (score desc, id) cutoff — TakeOrdered, no global
    window), then temperature-mix the SELECTION by language
    (α = 0.5 char budgets of a 30k total) so no language dominates
    the curated set.  Per-lang footprint out; the oracle recomputes
    DSIR → top-k → derived budgets → md5-order consumption end to
    end."""
    from square_etl_spark.operators.sampling import (
        dsir_logweights,
        temperature_mix,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = dsir_logweights(d, d.filter(F.col("lang") == "de"))
    sel = (
        scored.join(d.select("doc_id", "lang", "n_chars"), "doc_id")
        .orderBy(F.col("dsir_logw").desc(), F.col("doc_id"))
        .limit(300)
    )
    mixed = temperature_mix(
        sel, "lang", "n_chars", ["doc_id"], total_budget=30000, alpha=0.5
    )
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.round(
            F.sum(F.col("dsir_logw").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_logw"),
    )


_register(
    QuerySpec(
        "pipeline_curation_mix",
        _curation_mix,
        oracle=f"""
        WITH scored AS (SELECT * FROM ({_dsir_oracle()}) s),
        sel AS (
          SELECT s.doc_id, d.lang, d.n_chars, s.dsir_logw
          FROM scored s JOIN documents d USING (doc_id)
          ORDER BY s.dsir_logw DESC, s.doc_id LIMIT 300),
        sz AS (
          SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n
          FROM sel GROUP BY lang),
        pw AS (
          SELECT lang,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT lang,
                 CAST(floor(ROUND(
                   ROUND(CAST(p AS DOUBLE)
                         / /*nz: sum of positive group weights*/
                           CAST(sp AS DOUBLE), 9) * 30000, 6))
                   AS BIGINT) AS b
          FROM pw CROSS JOIN tot),
        ordx AS (
          SELECT doc_id, lang, n_chars, dsir_logw,
                 SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM sel)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               ROUND(CAST(SUM(CAST(dsir_logw AS DECIMAL(18,6))) AS DOUBLE)
                     / /*nz: grouped row count >= 1*/ COUNT(*), 6)
                 AS mean_logw
        FROM ordx o JOIN bud USING (lang)
        WHERE cum_before < b
        GROUP BY lang
        """,
        doc="curation pipeline: DSIR top-k selection -> temperature-scaled "
        "language mix, full composition oracle-recomputed",
    )
)


_register(
    QuerySpec(
        "rolling_active_users",
        _rolling_active_users,
        oracle="""
        WITH du AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                 user_id
          FROM events),
        fan AS (
          SELECT day + CAST(i AS INTEGER) AS tday, user_id
          FROM du, generate_series(0, 6) g(i))
        SELECT tday,
               COUNT(DISTINCT user_id) AS active_users_7d
        FROM fan
        WHERE tday <= (SELECT MAX(day) FROM du)
        GROUP BY tday
        """,
        doc="rolling 7-day distinct active users: distinct-then-fanout, hot-user-safe",
    )
)


def _bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/text.bm25_scores): top-20
    docs for a fixed 4-term query, Lucene-variant IDF + tf
    saturation/length normalization — the keyword side of
    retrieval-based corpus curation.  Postings are filtered to the
    query terms at the scan (bounded IN-list), corpus stats are a
    1-row broadcast, per-term df a ≤4-row broadcast; decimal-summed
    rounded contributions make the score order-independent, and the
    top-k orders by (rounded score, doc_id) so the cutoff is
    deterministic cross-engine."""
    from square_etl_spark.operators.text import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    s = bm25_scores(d, ["vector", "join", "spark", "merge"])
    return s.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(20)


_register(
    QuerySpec(
        "text_bm25_topk",
        _bm25_topk_docs,
        oracle=r"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             w -> w <> '') AS ws
          FROM documents),
        dl AS (SELECT doc_id, len(ws) AS dl FROM base),
        stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
        tf AS (
          SELECT doc_id, w, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(ws) AS w FROM base)
          WHERE w IN ('vector', 'join', 'spark', 'merge')
          GROUP BY doc_id, w),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        contrib AS (
          SELECT tf.doc_id,
                 ROUND(ln(1 + (s.n - f.df + 0.5)
                          / /*nz: df + 0.5 > 0 always*/ (f.df + 0.5))
                       * tf.tf * 2.2
                       / /*nz: tf >= 1 and the k1 term is positive*/
                         (tf.tf + 1.2 * (0.25 + 0.75 * d.dl
                          / /*nz: avgdl > 0 when any doc has tokens*/
                            (CAST(s.sumdl AS DOUBLE)
                             / /*nz: n = COUNT(*) >= 1 (tf row exists)*/
                               s.n))), 9) AS c
          FROM tf
          JOIN dl d USING (doc_id)
          CROSS JOIN stats s
          JOIN dfreq f ON tf.w = f.w)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
               ROUND(CAST(SUM(CAST(c AS DECIMAL(28,9))) AS DOUBLE), 6)
                 AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 20
        """,
        doc="BM25 top-k keyword retrieval: bounded-postings scan, decimal-exact scores",
    )
)


def _stratified_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-STRATUM split fractions
    (operators/sampling.split_assign_stratified): the "hold out 50% of
    code but 10% of web" recipe — here per language: en gets a full
    80/10/10, zh an aggressive 50/50 train/test, de all-train, es
    60/20 with 20% held back unallocated, and fr is absent from the
    spec → dropped (the mix spec is the allow-list).  One scan +
    nested CASE over the shared md5 variate; no shuffle."""
    from square_etl_spark.operators.sampling import split_assign_stratified

    d = load_table(spark, sf_dir, "documents")
    out = split_assign_stratified(
        d,
        "doc_id",
        {
            "en": {"train": 0.8, "val": 0.1, "test": 0.1},
            "zh": {"train": 0.5, "test": 0.5},
            "de": {"train": 1.0},
            "es": {"train": 0.6, "val": 0.2},
        },
        stratum_col="lang",
        salt="strat1",
    )
    return out.select("doc_id", "lang", "split")


_register(
    QuerySpec(
        "split_stratified_by_lang",
        _stratified_split_docs,
        oracle=f"""
        WITH b AS (
          SELECT doc_id, lang,
                 {_bucket_sql("doc_id", "strat1")} AS hb
          FROM documents),
        s AS (
          SELECT doc_id, lang,
            CASE
              WHEN lang = 'en' THEN
                CASE WHEN hb < '{rate_threshold(0.8)}' THEN 'train'
                     WHEN hb < '{rate_threshold(0.9)}' THEN 'val'
                     WHEN hb < '{rate_threshold(1.0)}' THEN 'test'
                     ELSE NULL END
              WHEN lang = 'zh' THEN
                CASE WHEN hb < '{rate_threshold(0.5)}' THEN 'train'
                     WHEN hb < '{rate_threshold(1.0)}' THEN 'test'
                     ELSE NULL END
              WHEN lang = 'de' THEN
                CASE WHEN hb < '{rate_threshold(1.0)}' THEN 'train'
                     ELSE NULL END
              WHEN lang = 'es' THEN
                CASE WHEN hb < '{rate_threshold(0.6)}' THEN 'train'
                     WHEN hb < '{rate_threshold(0.8)}' THEN 'val'
                     ELSE NULL END
              ELSE NULL END AS split
          FROM b)
        SELECT doc_id, lang, split FROM s WHERE split IS NOT NULL
        """,
        doc="per-stratum split fractions: nested-CASE thresholds, shared md5 variate, no shuffle",
    )
)


def _incr_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as an incremental label fold
    (operators/dedup.incremental_components): the near-dup pair set
    of dedup_cluster_assignment arrives in three batches (split by
    (id_a + id_b) mod 3 — batches freely interleave and merge
    clusters across folds), each folded into the previous labeling
    instead of re-running CC over every pair ever seen.  The folded
    labels must equal the one-shot recursive-CTE components EXACTLY —
    equivalence-relation union is associative, so the split is
    immaterial; the state is node-sized and 1-deep, so each fold
    converges in O(log batch-diameter) rounds however deep history
    was."""
    from square_etl_spark.operators.dedup import incremental_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.1, df_cap=100
    ).localCheckpoint(eager=True)
    labels = None
    for i in range(3):
        # pmod, not %: sign-keeping % would drop negative-id pairs
        batch = pairs.filter(
            F.pmod(F.col("id_a") + F.col("id_b"), F.lit(3)) == i
        )
        labels = incremental_components(labels, batch)
    return labels


_register(
    QuerySpec(
        "dedup_incremental_components",
        _incr_components,
        oracle=f"""
        WITH RECURSIVE {_ngram_pairs_ctes()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        """,
        doc="incremental connected components: label fold ≡ one-shot CC, batches merge clusters",
    )
)


def _strip_repeated_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate removal
    (operators/dedup.strip_repeated_spans): spans appearing in MORE
    THAN ONE distinct document are removed from EVERY document
    including the first — the kill-all complement of dedup_spans_c4's
    keep-first policy (C4 removed repeated spans outright; cookie
    banners carry no training signal even once).  One span explode +
    one span-keyed distinct-doc count + one anti join + grouped
    reassembly."""
    from square_etl_spark.operators.dedup import strip_repeated_spans

    d = load_table(spark, sf_dir, "documents")
    return strip_repeated_spans(d, span_words=10, max_docs=1)


_register(
    QuerySpec(
        "dedup_strip_repeated_spans",
        _strip_repeated_spans_docs,
        oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS wl
          FROM documents),
        s AS (
          SELECT doc_id,
                 UNNEST(list_transform(
                   generate_series(1, CAST(CEIL(len(wl) / 10.0) AS BIGINT)),
                   i -> struct_pack(
                     idx := i - 1,
                     span := array_to_string(
                       wl[CAST((i - 1) * 10 + 1 AS INTEGER)
                          : CAST((i - 1) * 10 + 10 AS INTEGER)], ' '))))
                   AS pr
          FROM w WHERE len(wl) > 0),
        occ AS (
          SELECT doc_id, CAST(pr.idx AS INTEGER) AS idx, pr.span AS span
          FROM s),
        hot AS (
          SELECT span FROM occ
          GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1),
        kept AS (
          SELECT o.doc_id, o.idx, o.span FROM occ o
          ANTI JOIN hot h ON o.span = h.span)
        SELECT doc_id,
               COUNT(*) AS n_spans_kept,
               array_to_string(
                 list_transform(
                   list_sort(list(struct_pack(idx := idx, span := span))),
                   x -> x.span), ' ') AS cleaned_text
        FROM kept GROUP BY doc_id
        """,
        doc="kill-all boilerplate spans (df > 1 distinct docs) — the C4 removal policy",
    )
)


def _novelty_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY contribution: the fraction of each doc's
    distinct word 3-grams whose FIRST corpus occurrence (min doc_id)
    is this document — the marginal-diversity signal data-mixing
    uses to rank sources (a doc that only restates earlier shingles
    adds nothing even if it is no near-dup of any single doc).  One
    shingle explode + one shingle-keyed min + one join back sharing
    the shingle key; the first-occurrence relation is
    shingle-vocabulary-sized, never corpus-sized."""
    from square_etl_spark.operators.dedup import word_shingles_from_words

    d = load_table(spark, sf_dir, "documents")
    # split hoisted to a real column — the shingle transform slices it
    # per position (r12 HOF-capture rule)
    sh = d.withColumn(
        "__w", F.split(F.trim(F.col("text")), r"\s+")
    ).select(
        "doc_id",
        F.explode(word_shingles_from_words("__w", 3)).alias("sh"),
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("__first"))
    novel = F.sum(
        F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(novel / F.count(F.lit(1)), 6).alias("novelty_rate"),
        )
    )


_register(
    QuerySpec(
        "text_novelty_contribution",
        _novelty_contribution,
        oracle=r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM t WHERE len(w) >= 3)),
        f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0
                               END) AS DOUBLE)
                     / /*nz: group exists only with >=1 shingle row*/
                       COUNT(*), 6) AS novelty_rate
        FROM sh JOIN f USING (sh) GROUP BY doc_id
        """,
        doc="per-doc first-occurrence shingle novelty: marginal corpus-diversity signal",
    )
)


def _corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus DATASHEET: the summary card a training-data
    release ships with — doc/language counts, exact distinct-content
    count and dup rate, total whitespace tokens, decimal-exact mean
    quality score, and length extrema.  Every statistic is a
    mergeable monoid or an exact distinct over 64-byte digests (one
    agg pass; no global sorts, no percentile buffers — the global
    exact-percentile anti-pattern is deliberately absent; use the
    histogram sketch for distribution shape)."""
    from square_etl_spark.operators.text import quality_score, token_count

    d = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    nd = F.countDistinct(F.sha2(F.col("text"), 256))
    return d.agg(
        n.alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        nd.cast("long").alias("n_distinct_contents"),
        F.round(F.lit(1.0) - nd / n, 6).alias("exact_dup_rate"),
        F.sum(token_count("text")).cast("long").alias("total_tokens"),
        F.round(
            F.sum(quality_score("text").cast("decimal(38,6)")).cast("double")
            / n,
            6,
        ).alias("avg_quality"),
        F.min(F.length("text")).cast("long").alias("min_chars"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )


_register(
    QuerySpec(
        "corpus_datasheet",
        _corpus_datasheet,
        oracle="""
        WITH q AS (
          SELECT doc_id, text, lang,
            ROUND(
              0.5 * LEAST(ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.8, 1.0)
            + 0.3 * LEAST(ROUND(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    w -> list_contains(['the','and','of','to','is','in','that','it'], w))) /
                    (CASE WHEN trim(text) = '' THEN 1.0
                          WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                          THEN CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                          ELSE 1.0 END), 6) / 0.4, 1.0)
            + 0.2 * (1.0 - LEAST(ROUND(len(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) /
                    (CASE WHEN len(text) > 0 THEN CAST(len(text) AS DOUBLE) ELSE 1.0 END), 6) / 0.2, 1.0)),
            6) AS qs
          FROM documents)
        SELECT COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT sha256(text)) AS BIGINT)
                 AS n_distinct_contents,
               ROUND(1.0 - COUNT(DISTINCT sha256(text))
                     / /*nz: COUNT(*) >= 1 whenever the row exists*/
                       CAST(COUNT(*) AS DOUBLE), 6) AS exact_dup_rate,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END)
                    AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(CAST(qs AS DECIMAL(38,6))) AS DOUBLE)
                     / /*nz: COUNT(*) >= 1 whenever the row exists*/
                       COUNT(*), 6) AS avg_quality,
               CAST(MIN(len(text)) AS BIGINT) AS min_chars,
               CAST(MAX(len(text)) AS BIGINT) AS max_chars
        FROM q
        """,
        doc="one-row corpus datasheet: monoid stats only (no global sorts/percentiles)",
    )
)


# ---------------------------------------------------------------------------
# Check-priority ordering
# ---------------------------------------------------------------------------
# The driver's correctness harness checks queries in `queries()` dict order
# and caps at 50 entries per round, so with 150+ registered queries the
# ordering decides which get a hard oracle signal.  Rotation policy: each
# round front-loads (a) red rows needing re-check after a fix, then (b)
# queries never yet checked, then (c) new registrations, then (d) the
# cohort whose last green row is oldest, so every query's green evidence
# stays within the freshness window.  The window is ARITHMETIC-DERIVED,
# not aspirational (r06 lesson: a fixed "≤2 rounds" promise became
# impossible the moment the registry outgrew 2×50 and turned the
# auditor into a wolf-crier): with N registered queries, a 50/round cap
# and one slot reserved for the flagship anchor, a full refresh takes
# ⌈(N−1)/49⌉ rounds, so the enforceable ceiling on any green row's age
# is ⌈(N−1)/49⌉ + 1 rounds.  tools/rotation.py computes the window from
# the LIVE registry size — registering queries widens it automatically,
# and the tool's exit code means something again.
#
# Round 9 = exactly the head `python tools/rotation.py` prints against
# the LIVE registry (refreshed late-r09 when the round's own 18
# registrations outgrew the early-r09 freeze): all 35 never-driver-
# checked registrations — the 17 from r08 (split assignment, char
# entropy, incremental exact/MinHash-index dedup, PNG codec,
# winsorization, PSI drift, robust MAD outliers, join-key overlap, C4
def _substring_oracle(w: int) -> str:
    """DuckDB twin of exact-substring dedup: identical md5 word
    hashes, the same masked 31-polynomial window fold (list_reduce ≡
    the Spark aggregate), first-occurrence rank, kill-explode,
    reassembly."""
    from square_etl_spark.operators.dedup import _PORTABLE_MASK

    hex32 = (
        "list_sum(list_transform(generate_series(1, 8),"
        " p -> (CAST(strpos('0123456789abcdef',"
        " substr(md5(x), p, 1)) AS BIGINT) - 1)"
        " * (CAST(1 AS BIGINT) << (4 * (8 - CAST(p AS INTEGER))))))"
    )
    return rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> '') AS w
          FROM documents),
        tw AS (
          SELECT doc_id, w,
                 list_transform(w, x -> {hex32}) AS hw
          FROM t),
        wi AS (
          SELECT doc_id, hw,
                 UNNEST(range(1, len(hw) - {w - 1} + 1)) AS pos
          FROM tw WHERE len(hw) >= {w}),
        wins AS (
          SELECT doc_id, pos,
                 list_reduce(list_slice(hw, CAST(pos AS INTEGER),
                                        CAST(pos AS INTEGER) + {w - 1}),
                             (x, y) -> (x * 31 + y) & {_PORTABLE_MASK})
                   AS wh
          FROM wi),
        ranked AS (
          SELECT doc_id, pos,
                 ROW_NUMBER() OVER (PARTITION BY wh
                                    ORDER BY doc_id, pos) AS rk
          FROM wins),
        kills AS (
          SELECT DISTINCT doc_id, tt FROM (
            SELECT doc_id, UNNEST(range(pos, pos + {w})) AS tt
            FROM ranked WHERE rk > 1)),
        toks AS (
          SELECT doc_id, UNNEST(w) AS word,
                 generate_subscripts(w, 1) AS tt
          FROM t),
        kept AS (
          SELECT toks.doc_id, toks.word, toks.tt
          FROM toks ANTI JOIN kills
            ON toks.doc_id = kills.doc_id AND toks.tt = kills.tt),
        re AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(word, ' ' ORDER BY tt) AS cleaned_text
          FROM kept GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
               CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(re.cleaned_text, '') AS cleaned_text
        FROM t LEFT JOIN re ON t.doc_id = re.doc_id
        """


def _substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at fixed granularity
    (operators/dedup.substring_dedup): every 20-token run already
    seen verbatim earlier in the corpus is stripped at EVERY token
    position — the Lee-et-al. exact-substring pass that sliding
    windows catch and fixed non-overlapping spans (dedup_span_c4)
    straddle.  Window=20 here so the fixture actually exercises
    kills (the operator default is the paper's 50)."""
    from square_etl_spark.operators.dedup import substring_dedup

    d = load_table(spark, sf_dir, "documents")
    return substring_dedup(d, "doc_id", "text", window_tokens=20)


_register(
    QuerySpec(
        "dedup_substring_exact",
        _substring_dedup_q,
        oracle=_substring_oracle(20),
        bench=True,  # r12: the window-hash hoist (8x) earns a recorded number
        doc="exact-substring dedup: sliding 20-token windows, first-occurrence survives, covered tokens stripped; full hash-chain recomputed by the oracle",
    )
)


def _incr_substring_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup: three ascending-id ingest
    batches fold through the (whash, id, pos) first-occurrence state
    (operators/dedup.incremental_substring_dedup) — old corpus
    touched as 8-byte hashes only — and the unioned batch outputs
    equal the one-shot dedup_substring_exact EXACTLY (shared
    oracle)."""
    from square_etl_spark.operators.dedup import (
        _substring_base,
        incremental_substring_dedup,
    )

    d = load_table(spark, sf_dir, "documents")
    # r17 (guide §2.4/§5, the embedding_incremental_pairs_split
    # pattern): the three batches are doc_id-range SPLITS of one
    # relation and _substring_base is row-wise, so the corpus is
    # tokenized+window-hashed ONCE (one eager checkpoint instead of
    # three) and each fold receives its filtered slice — filter∘base
    # ≡ base∘filter, output identical row-for-row (pinned in
    # tests/test_dedup_text.py).  The corpus row count rides the
    # already-materialized base (same count — base keeps every row)
    # instead of a separate parquet scan job.
    base_all = _substring_base(d, "doc_id", "text", 20)
    n = base_all.count()
    cuts = [0, n // 3, 2 * n // 3, n + 1]
    state, out = None, None
    for i in range(3):
        pred = (F.col("doc_id") >= cuts[i]) & (
            F.col("doc_id") < cuts[i + 1]
        )
        cleaned, state = incremental_substring_dedup(
            state, None, "doc_id", "text",
            window_tokens=20, base=base_all.filter(pred),
        )
        if i < 2:
            # the fold after this one consumes state twice (seen
            # anti-join + union) — materialize; the LAST state is
            # never consumed (the query returns cleaned batches
            # only), so its checkpoint was a dead eager job
            state = state.localCheckpoint(eager=True)
        out = cleaned if out is None else out.unionByName(cleaned)
    return out


_register(
    QuerySpec(
        "dedup_incremental_substring",
        _incr_substring_q,
        oracle=_substring_oracle(20),
        bench=True,
        doc="incremental exact-substring dedup: id-ordered batch fold over the window-hash state ≡ one-shot (shared oracle)",
    )
)


def _duck_sql_str(s: str) -> str:
    """Escape for a DuckDB single-quoted standard string (quotes
    double; backslashes are literal — no escape processing)."""
    return s.replace("'", "''")


_BPE_BYTE_LIST_SQL = (
    "["
    + ", ".join(f"'{_duck_sql_str(a + ' ' + b)}'" for a, b in tx.BPE_BYTE_MERGES)
    + "]"
)

#: 256-entry byte→symbol table as a DuckDB array literal (indexed by
#: byte value + 1) — the oracle's half of text.BYTE_UNICODE
_BYTE_UNICODE_SQL = (
    "[" + ", ".join(f"'{_duck_sql_str(c)}'" for c in tx.BYTE_UNICODE) + "]"
)

#: DuckDB twin of text.byte_symbols_sql over a column named w: UTF-8
#: encode → hex → one GPT-2 byte symbol per hex pair.  Same digits,
#: same table, so both engines produce identical symbol arrays.
_BYTE_SYM_SQL = (
    "list_transform(range(1, CAST(length(hex(encode(w))) AS BIGINT) // "
    "/*nz: hex length is even and >= 2 for nonempty w*/ 2 + 1), "
    "i -> " + _BYTE_UNICODE_SQL + "["
    "(strpos('0123456789ABCDEF', substr(hex(encode(w)), "
    "CAST(2 * i - 1 AS INTEGER), 1)) - 1) * 16 "
    "+ strpos('0123456789ABCDEF', substr(hex(encode(w)), "
    "CAST(2 * i AS INTEGER), 1))])"
)

#: DuckDB-side byte pre-tokenizer (RE2 runs the same regex Java does
#: on the Spark side — the lookahead-free GPT-2-style variant)
_BYTE_PRETOKEN_SQL = (
    "regexp_extract_all(text, '"
    + _duck_sql_str(tx.BPE_BYTE_PRETOKEN_RE)
    + "')"
)

def _bpe_train_ctes(
    num_merges: int,
    pretoken_sql: str | None = None,
    sym_sql: str = "string_split(w, '')",
) -> str:
    """DuckDB twin of in-engine BPE TRAINING (text.bpe_train): a
    single-row recursive state (step, rank, current-pair, learned
    merges, per-word symbol lists) alternates between APPLY steps
    (merge the current pair's first occurrence in every word that
    still has one — exhausting all occurrences per word equals the
    Spark side's all-at-once fold before the next count) and COUNT
    steps (weighted overlap-naive pair counts via struct-list
    lambdas, argmax by count desc / pair asc through a printf sort
    key).  Counting happens only at states where the previous pair is
    fully applied, so both engines count identical corpora and learn
    the IDENTICAL merge sequence.  Parameterized on the
    pre-tokenizer / symbol split so the byte-level trainer shares
    the chain (same swap points as ``_bpe_counts_cte``)."""
    pt = pretoken_sql or (
        "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')"
    )

    def pairl(s: str) -> str:
        return (
            f"list_transform(range(1, len({s}.sym)), "
            f"i -> {s}.sym[CAST(i AS INTEGER)] || ' ' "
            f"|| {s}.sym[CAST(i AS INTEGER)+1])"
        )

    return rf"""
        toks AS (
          SELECT unnest({pt}) AS w
          FROM documents),
        wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
               FROM toks GROUP BY w),
        init AS (
          SELECT list(struct_pack(sym := {sym_sql}, n := n)
                      ORDER BY w) AS words
          FROM wc),
        tr AS (
          SELECT 0 AS step, 0 AS r, CAST(NULL AS VARCHAR) AS cur,
                 CAST([] AS VARCHAR[]) AS merges, words
          FROM init
          UNION ALL
          SELECT step + 1,
                 CASE WHEN has_occ THEN r ELSE r + 1 END,
                 CASE WHEN has_occ THEN cur ELSE best END,
                 CASE WHEN has_occ THEN merges
                      ELSE list_append(merges, best) END,
                 CASE WHEN has_occ THEN
                   list_transform(words, s ->
                     CASE WHEN list_position({pairl('s')}, cur) > 0 THEN
                       struct_pack(sym := list_concat(list_concat(
                         list_slice(s.sym, 1,
                           list_position({pairl('s')}, cur) - 1),
                         [s.sym[list_position({pairl('s')}, cur)] ||
                          s.sym[list_position({pairl('s')}, cur) + 1]]),
                         list_slice(s.sym,
                           list_position({pairl('s')}, cur) + 2,
                           len(s.sym))), n := s.n)
                     ELSE s END)
                 ELSE words END
          FROM (
            SELECT step, r, cur, merges, words,
                   COALESCE(list_max(list_transform(words, s ->
                     CASE WHEN cur IS NOT NULL
                          AND list_position({pairl('s')}, cur) > 0
                          THEN true ELSE false END)), false) AS has_occ,
                   CASE WHEN len(cs) > 0 THEN
                        (list_min(list_transform(cs, s ->
                           printf('%010d',
                                  CAST(9999999999 - s.c AS BIGINT))
                           || s.p)))[11:]
                        ELSE NULL END AS best
            FROM (
              SELECT t2.*, list_filter(list_transform(
                       list_distinct(list_transform(pairs, x -> x.p)),
                       p -> struct_pack(p := p, c := CAST(list_sum(
                              list_transform(
                                list_filter(pairs, x -> x.p = p),
                                x -> x.n)) AS BIGINT))),
                       s -> s.c >= 2) AS cs
              FROM (
                SELECT tr.*, flatten(list_transform(words, s ->
                         list_transform(range(1, len(s.sym)),
                           i -> struct_pack(
                                  p := s.sym[CAST(i AS INTEGER)] || ' '
                                       || s.sym[CAST(i AS INTEGER)+1],
                                  n := s.n)))) AS pairs
                FROM tr) t2) t3
            ) t
          WHERE has_occ OR (r < {num_merges} AND best IS NOT NULL)
        ),
        final AS (SELECT merges FROM tr ORDER BY step DESC LIMIT 1)"""


def _bpe_train_oracle(num_merges: int) -> str:
    return f"""
        WITH RECURSIVE {_bpe_train_ctes(num_merges)}
        SELECT CAST(i AS BIGINT) AS rank,
               string_split(merges[CAST(i AS INTEGER)], ' ')[1] AS lhs,
               string_split(merges[CAST(i AS INTEGER)], ' ')[2] AS rhs
        FROM final, UNNEST(range(1, len(merges) + 1)) u(i)
        """


def _bpe_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE TRAINING (text.bpe_train, Sennrich et al. 2016):
    learn 12 merges from the corpus — weighted overlap-naive pair
    counts over the DISTINCT-pre-token vocabulary, argmax with the
    deterministic (count desc, pair asc) tie-break, all-occurrence
    merge apply, repeat.  The oracle replays the ENTIRE training loop
    as a recursive CTE and must produce the identical ranked merges
    relation — the train half of the tokenizer story joining the
    apply half (text_bpe_tokens)."""
    from square_etl_spark.operators.text import bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", num_merges=12, min_count=2)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank bigint, lhs string, rhs string")


_register(
    QuerySpec(
        "text_bpe_train",
        _bpe_train_q,
        oracle=_bpe_train_oracle(12),
        doc="BPE training in-engine: 12 learned merges, the whole loop replayed by a recursive-CTE oracle",
    )
)


def _bpe_train_bytes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE training (r10 verdict item 6): the same
    in-engine loop as text_bpe_train but on the GPT-2 byte alphabet
    with the case-preserving byte pre-tokenizer — the learned merges
    come out in merges.txt's own symbol space ('Ġ'-prefixed space
    carriers), i.e. artifacts this trainer emits and artifacts real
    tokenizers ship are interchangeable inputs to
    text.bpe_apply_vocab(alphabet='byte').  The oracle replays the
    whole loop: byte mapping from hex digits, pair counts, argmax,
    merge apply."""
    from square_etl_spark.operators.text import bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", num_merges=12, min_count=2,
                       alphabet="byte")
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank bigint, lhs string, rhs string")


_register(
    QuerySpec(
        "text_bpe_train_bytes",
        _bpe_train_bytes_q,
        oracle=f"""
        WITH RECURSIVE {_bpe_train_ctes(
            12,
            pretoken_sql=_BYTE_PRETOKEN_SQL,
            sym_sql=_BYTE_SYM_SQL,
        )}
        SELECT CAST(i AS BIGINT) AS rank,
               string_split(merges[CAST(i AS INTEGER)], ' ')[1] AS lhs,
               string_split(merges[CAST(i AS INTEGER)], ' ')[2] AS rhs
        FROM final, UNNEST(range(1, len(merges) + 1)) u(i)
        """,
        doc="byte-level BPE training on the GPT-2 alphabet: learned merges land in merges.txt's symbol space, loop replayed by the oracle",
    )
)


def _bpe_train_incr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BPE training: the pre-token counts that seed the
    training loop are accumulated as a vocabulary-sized (w, n) state
    folded over three ingest batches (text.bpe_pretoken_counts /
    fold_bpe_pretoken_counts — exact count-sum monoid), and
    text.bpe_train_from_counts trains from the state.  Folded counts
    ARE the one-shot counts row-for-row, so the learned merges equal
    text_bpe_train's exactly and this query SHARES its recursive-CTE
    oracle — retraining after new data never rescans old text."""
    from square_etl_spark.operators.text import (
        bpe_pretoken_counts,
        bpe_train_from_counts,
        fold_bpe_pretoken_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    state = None
    for i in range(3):
        batch = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        state = fold_bpe_pretoken_counts(
            state, bpe_pretoken_counts(batch)
        ).localCheckpoint(eager=True)
    merges = bpe_train_from_counts(state, num_merges=12, min_count=2)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank bigint, lhs string, rhs string")


_register(
    QuerySpec(
        "text_bpe_train_incremental",
        _bpe_train_incr_q,
        oracle=_bpe_train_oracle(12),
        doc="incremental BPE training: folded pre-token count state drives the identical learned merges (shared oracle)",
    )
)


def _bpe_train_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TOKENIZER LIFECYCLE in one query: TRAIN 12 merges on the
    corpus (text.bpe_train), then count every document with the
    LEARNED merges (text.bpe_token_counts(merges=...)) — the learned
    list crosses the stages as a num_merges-row artifact (bounded
    driver collect, in production a versioned_write parquet).  The
    oracle replays BOTH halves: the recursive training state machine
    produces the merges list, and a second recursive fold applies
    THAT LIST (carried as a column through the recursion — data, not
    a literal) to the vocabulary, then sums per doc.  A green row
    certifies train → persist → apply end to end."""
    from square_etl_spark.operators.text import bpe_token_counts, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", num_merges=12, min_count=2)
    return bpe_token_counts(d, merges=merges)


_register(
    QuerySpec(
        "text_bpe_train_apply",
        _bpe_train_apply_q,
        oracle=f"""
        WITH RECURSIVE {_bpe_train_ctes(12)},
        pre AS (
          SELECT doc_id,
                 regexp_extract_all(lower(text),
                     '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ws
          FROM documents),
        dtoks AS (SELECT doc_id, unnest(ws) AS w FROM pre),
        dwc AS (SELECT doc_id, w, COUNT(*) AS n
                FROM dtoks GROUP BY doc_id, w),
        vocab AS (SELECT DISTINCT w FROM dwc),
        bpe2 AS (
          SELECT w, string_split(w, '') AS sym, f.merges AS ml
          FROM vocab CROSS JOIN final f
          UNION ALL
          SELECT w, list_concat(list_concat(
                   list_slice(sym, 1, pos - 1),
                   [sym[pos] || sym[pos + 1]]),
                   list_slice(sym, pos + 2, len(sym))) AS sym, ml
          FROM (
            SELECT w, sym, ml, list_position(ranks, best) AS pos
            FROM (
              SELECT w, sym, ml, ranks,
                     list_aggregate(list_filter(ranks, r -> r > 0),
                                    'min') AS best
              FROM (
                SELECT w, sym, ml,
                       list_transform(range(1, len(sym)),
                         i -> list_position(ml,
                                sym[CAST(i AS INTEGER)] || ' '
                                || sym[CAST(i AS INTEGER)+1])) AS ranks
                FROM bpe2) a2x) b2x
            WHERE best IS NOT NULL) c2x),
        fixed2 AS (
          SELECT w, CAST(len(sym) AS BIGINT) AS n_tok
          FROM bpe2
          WHERE list_aggregate(list_filter(
                  list_transform(range(1, len(sym)),
                    i -> list_position(ml,
                           sym[CAST(i AS INTEGER)] || ' '
                           || sym[CAST(i AS INTEGER)+1])),
                  r -> r > 0), 'min') IS NULL),
        agg2 AS (
          SELECT dwc.doc_id,
                 CAST(SUM(dwc.n) AS BIGINT) AS n_pretokens,
                 CAST(SUM(dwc.n * f2.n_tok) AS BIGINT) AS bpe_tokens
          FROM dwc JOIN fixed2 f2 ON dwc.w = f2.w
          GROUP BY dwc.doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_pretokens, 0) AS n_pretokens,
               COALESCE(a.bpe_tokens, 0) AS bpe_tokens
        FROM documents d LEFT JOIN agg2 a ON d.doc_id = a.doc_id
        """,
        doc="tokenizer lifecycle: train 12 merges then count the corpus with the LEARNED list — both recursions replayed, the list crossing stages as data",
    )
)


#: The fixed BPE merges list as a DuckDB list literal — rank = list
#: position, same relation the Spark side inlines (text.BPE_MERGES),
#: so both engines fold the IDENTICAL merges table.
_BPE_LIST_SQL = "[" + ", ".join(f"'{a} {b}'" for a, b in tx.BPE_MERGES) + "]"


def _bpe_counts_cte(
    src: str = "documents",
    pretoken_sql: str | None = None,
    sym_sql: str = "string_split(w, '')",
    merges_sql: str | None = None,
) -> str:
    """Shared DuckDB CTE chain over the ``src`` relation (needs
    doc_id + text): pre-tokenize → distinct vocab → recursive
    one-merge-at-a-time BPE fold to fixpoint → per-doc token sums.
    The recursive step merges the FIRST occurrence of the
    minimum-rank pair; the Spark side merges ALL occurrences of that
    rank per round (text.bpe_apply_vocab) — provably the same
    fixpoint for a valid merges list (see text.BPE_MERGES), pinned by
    the oracle comparison itself and by test_dedup_text's
    reference-fold check.  Parameterized on ``src`` so pipeline
    compositions can run the fold over a FILTERED corpus (e.g. the
    dedup survivors), and on the pre-tokenizer / symbol-split /
    merges literal so the BYTE-level tokenizer (text.BYTE_UNICODE
    alphabet, GPT-2-style pre-tokens) shares the whole chain."""
    pt = pretoken_sql or (
        "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')"
    )
    ml = merges_sql or _BPE_LIST_SQL
    return f"""
        pre AS (
          SELECT doc_id,
                 {pt} AS ws
          FROM {src}),
        toks AS (SELECT doc_id, unnest(ws) AS w FROM pre),
        wc AS (SELECT doc_id, w, COUNT(*) AS n FROM toks GROUP BY doc_id, w),
        vocab AS (SELECT DISTINCT w FROM wc),
        bpe AS (
          SELECT w, {sym_sql} AS sym FROM vocab
          UNION ALL
          SELECT w, list_concat(
                   list_concat(list_slice(sym, 1, pos - 1),
                               [sym[pos] || sym[pos + 1]]),
                   list_slice(sym, pos + 2, len(sym))) AS sym
          FROM (
            SELECT w, sym, list_position(ranks, best) AS pos
            FROM (
              SELECT w, sym, ranks,
                     list_aggregate(list_filter(ranks, r -> r > 0),
                                    'min') AS best
              FROM (
                SELECT w, sym,
                       list_transform(range(1, len(sym)),
                           i -> list_position({ml},
                                    sym[i] || ' ' || sym[i + 1])) AS ranks
                FROM bpe) t1) t2
            WHERE best IS NOT NULL) t3),
        fixed_sym AS (
          SELECT w, sym
          FROM bpe
          WHERE list_aggregate(list_filter(
                  list_transform(range(1, len(sym)),
                      i -> list_position({ml},
                               sym[i] || ' ' || sym[i + 1])),
                  r -> r > 0), 'min') IS NULL),
        fixed AS (
          SELECT w, CAST(len(sym) AS BIGINT) AS n_tok FROM fixed_sym),
        bpe_agg AS (
          SELECT wc.doc_id,
                 CAST(SUM(wc.n) AS BIGINT) AS n_pretokens,
                 CAST(SUM(wc.n * f.n_tok) AS BIGINT) AS bpe_tokens
          FROM wc JOIN fixed f ON wc.w = f.w
          GROUP BY wc.doc_id),
        bpe_counts AS (
          SELECT d.doc_id,
                 COALESCE(a.n_pretokens, 0) AS n_pretokens,
                 COALESCE(a.bpe_tokens, 0) AS bpe_tokens
          FROM {src} d LEFT JOIN bpe_agg a ON d.doc_id = a.doc_id)"""


_BPE_COUNTS_CTE = _bpe_counts_cte()


def _bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-faithful token counts over the corpus: BPE merge
    application as iterate-to-fixpoint DataFrame projections on the
    DISTINCT-pre-token vocabulary (text.bpe_apply_vocab), then one
    corpus-sized explode + join + sum (text.bpe_token_counts).  The
    whole budget/mix suite's whitespace-token gap, closed — counts
    here are what a merges.txt tokenizer would emit."""
    d = load_table(spark, sf_dir, "documents")
    return tx.bpe_token_counts(d)


_register(
    QuerySpec(
        "text_bpe_tokens",
        _bpe_tokens,
        oracle=f"""
        WITH RECURSIVE {_BPE_COUNTS_CTE}
        SELECT doc_id, n_pretokens, bpe_tokens FROM bpe_counts
        """,
        doc="BPE merge fold to fixpoint on the vocab relation; DuckDB recomputes via recursive CTE over the same merges list",
        bench=True,
    )
)


def _bpe_bytes_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level tokenizer-faithful token counts (r10 verdict item
    6): GPT-2-style pre-tokenizer (contractions, space-prefixed runs,
    case-preserving — the lookahead-free RE2∩Java variant) over
    UTF-8 bytes mapped to the GPT-2 byte alphabet
    (text.BYTE_UNICODE, space = 'Ġ'), then the same
    iterate-to-fixpoint merge fold on the distinct-pre-token
    vocabulary with a merges.txt-format artifact
    (text.BPE_BYTE_MERGES; real artifacts load via
    text.load_merges_lines).  The oracle recomputes the byte mapping
    from the same hex digits and the same recursive fold."""
    d = load_table(spark, sf_dir, "documents")
    return tx.bpe_token_counts(
        d, alphabet="byte", merges=tx.BPE_BYTE_MERGES
    )


_register(
    QuerySpec(
        "text_bpe_bytes_tokens",
        _bpe_bytes_tokens,
        oracle=f"""
        WITH RECURSIVE {_bpe_counts_cte(
            pretoken_sql=_BYTE_PRETOKEN_SQL,
            sym_sql=_BYTE_SYM_SQL,
            merges_sql=_BPE_BYTE_LIST_SQL,
        )}
        SELECT doc_id, n_pretokens, bpe_tokens FROM bpe_counts
        """,
        bench=True,
        doc="byte-level BPE counts on the GPT-2 alphabet (merges.txt-compatible); DuckDB recomputes bytes, pre-tokens, and the merge fold",
    )
)


def _bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus to TOKEN IDS (text.bpe_encode_ids): the
    tokenizer loop closed end to end — pre-tokenize, fold the fixed
    merges to fixpoint on the vocabulary, flatten to each document's
    ordered token stream, and map every token into the deterministic
    id space (observed chars sorted = 1..B, merge results = B+rank,
    lowest-rank producer wins on string collisions).  DuckDB
    recomputes the whole thing: the recursive fold, the char table,
    the id arithmetic, and the per-document stream order."""
    from square_etl_spark.operators.text import bpe_encode_ids

    d = load_table(spark, sf_dir, "documents")
    return bpe_encode_ids(d)


_register(
    QuerySpec(
        "text_bpe_encode_ids",
        _bpe_encode_q,
        oracle=f"""
        WITH RECURSIVE {_BPE_COUNTS_CTE},
        ptoks AS (
          SELECT doc_id, generate_subscripts(ws, 1) AS widx,
                 unnest(ws) AS w
          FROM pre),
        dtoks AS (
          SELECT p.doc_id, p.widx,
                 generate_subscripts(f.sym, 1) AS tidx,
                 unnest(f.sym) AS token
          FROM ptoks p JOIN fixed_sym f ON p.w = f.w),
        chars AS (
          SELECT ch, CAST(ROW_NUMBER() OVER (ORDER BY ch) AS BIGINT) AS cid
          FROM (SELECT DISTINCT unnest(string_split(w, '')) AS ch
                FROM vocab)),
        nb AS (SELECT COUNT(*) AS b FROM chars),
        mranks AS (
          SELECT replace(({_BPE_LIST_SQL})[CAST(i AS INTEGER)], ' ', '')
                   AS mtoken,
                 MIN(i) AS rank
          FROM (SELECT UNNEST(range(1, {len(tx.BPE_MERGES) + 1})) AS i)
          GROUP BY 1),
        mids AS (
          SELECT mtoken, CAST(nb.b + rank AS BIGINT) AS mid
          FROM mranks CROSS JOIN nb)
        SELECT d.doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.doc_id
                    ORDER BY d.widx, d.tidx) AS BIGINT) AS pos,
               d.token,
               COALESCE(c.cid, m.mid) AS token_id
        FROM dtoks d
        LEFT JOIN chars c ON d.token = c.ch
        LEFT JOIN mids m ON d.token = m.mtoken
        """,
        bench=True,
        doc="corpus encoded to BPE token ids: fold + char/merge id space + per-doc stream order, all recomputed",
        global_window_ok="alphabet-sized char-id rank: the global window orders the distinct-character relation, bounded by the observed alphabet (~40 rows here, ≤ a few hundred for any text corpus)",
    )
)


def _bpe_bytes_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level token-id encoding — the byte tokenizer loop closed
    end to end (train → apply → ids on the GPT-2 alphabet): same
    deterministic id space as text_bpe_encode_ids but over observed
    BYTE symbols (1..B sorted asc; merge results B+rank, lowest-rank
    producer wins), driven by the merges.txt-compatible
    text.BPE_BYTE_MERGES artifact."""
    from square_etl_spark.operators.text import bpe_encode_ids

    d = load_table(spark, sf_dir, "documents")
    return bpe_encode_ids(d, alphabet="byte")


_register(
    QuerySpec(
        "text_bpe_bytes_encode_ids",
        _bpe_bytes_encode_q,
        oracle=f"""
        WITH RECURSIVE {_bpe_counts_cte(
            pretoken_sql=_BYTE_PRETOKEN_SQL,
            sym_sql=_BYTE_SYM_SQL,
            merges_sql=_BPE_BYTE_LIST_SQL,
        )},
        ptoks AS (
          SELECT doc_id, generate_subscripts(ws, 1) AS widx,
                 unnest(ws) AS w
          FROM pre),
        dtoks AS (
          SELECT p.doc_id, p.widx,
                 generate_subscripts(f.sym, 1) AS tidx,
                 unnest(f.sym) AS token
          FROM ptoks p JOIN fixed_sym f ON p.w = f.w),
        chars AS (
          SELECT ch, CAST(ROW_NUMBER() OVER (ORDER BY ch) AS BIGINT) AS cid
          FROM (SELECT DISTINCT unnest({_BYTE_SYM_SQL}) AS ch
                FROM vocab)),
        nb AS (SELECT COUNT(*) AS b FROM chars),
        mranks AS (
          SELECT replace(({_BPE_BYTE_LIST_SQL})[CAST(i AS INTEGER)],
                         ' ', '') AS mtoken,
                 MIN(i) AS rank
          FROM (SELECT UNNEST(range(1, {len(tx.BPE_BYTE_MERGES) + 1})) AS i)
          GROUP BY 1),
        mids AS (
          SELECT mtoken, CAST(nb.b + rank AS BIGINT) AS mid
          FROM mranks CROSS JOIN nb)
        SELECT d.doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.doc_id
                    ORDER BY d.widx, d.tidx) AS BIGINT) AS pos,
               d.token,
               COALESCE(c.cid, m.mid) AS token_id
        FROM dtoks d
        LEFT JOIN chars c ON d.token = c.ch
        LEFT JOIN mids m ON d.token = m.mtoken
        """,
        doc="byte-level token-id encoding on the GPT-2 alphabet: byte fold + symbol/merge id space + stream order, all recomputed",
        global_window_ok="alphabet-sized symbol-id rank: the global window orders the distinct observed byte symbols, ≤ 256 rows by construction",
    )
)


def _pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_training_sequences with TOKENIZER-FAITHFUL budgets: pack
    whole documents into 512-BPE-token training sequences via the
    same two-phase distributed prefix sum — the `bpe_tokens` column
    dropping into a budget operator exactly where whitespace
    `n_tokens` used to go."""
    d = load_table(spark, sf_dir, "documents")
    counts = tx.bpe_token_counts(d).select(
        "doc_id", F.col("bpe_tokens").alias("n_tokens")
    )
    return pack_sequences(
        counts, token_col="n_tokens", key_cols=("doc_id",), budget=512
    ).select("doc_id", "n_tokens", "seq_id", "seq_offset")


_register(
    QuerySpec(
        "pack_training_sequences_bpe",
        _pack_bpe,
        oracle=f"""
        WITH RECURSIVE {_BPE_COUNTS_CTE},
        ord AS (
          SELECT doc_id, bpe_tokens AS n_tokens,
                 SUM(bpe_tokens) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bpe_tokens AS cum
          FROM bpe_counts)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum // 512 AS BIGINT) AS seq_id,
               CAST(cum % 512 AS BIGINT) AS seq_offset
        FROM ord
        """,
        doc="sequence packing on BPE token budgets (two-phase prefix sum, hash order)",
    )
)

def _mix_temperature_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mix on TOKENIZER-FAITHFUL budgets: the same
    GPT-3/PaLM recipe as mix_temperature_langs but with per-language
    sizes and consumption measured in BPE TOKENS
    (text.bpe_token_counts) instead of characters — the r09 verdict's
    north-star point made concrete: every budget-bearing operator
    takes the bpe_tokens column wherever a char/whitespace weight
    went, and the mixture it produces is the one a trainer's token
    accountant would certify.  The oracle recomputes the BPE fold AND
    the full mixture recipe end to end."""
    from square_etl_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    counts = tx.bpe_token_counts(d).select("doc_id", "bpe_tokens")
    docs = d.select("doc_id", "lang").join(counts, "doc_id")
    kept = temperature_mix(
        docs, "lang", "bpe_tokens", ["doc_id"],
        total_budget=30000, alpha=0.5,
    )
    return kept.select("doc_id", "lang", "bpe_tokens")


_register(
    QuerySpec(
        "mix_temperature_bpe",
        _mix_temperature_bpe,
        oracle=f"""
        WITH RECURSIVE {_BPE_COUNTS_CTE},
        dl AS (
          SELECT d.doc_id, d.lang, bc.bpe_tokens
          FROM documents d JOIN bpe_counts bc ON d.doc_id = bc.doc_id),
        sz AS (
          SELECT lang, CAST(SUM(bpe_tokens) AS BIGINT) AS n
          FROM dl GROUP BY lang),
        pw AS (
          SELECT lang,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT lang,
                 CAST(floor(ROUND(
                   ROUND(CAST(p AS DOUBLE)
                         / /*nz: sum of positive group weights*/
                           CAST(sp AS DOUBLE), 9) * 30000, 6))
                   AS BIGINT) AS b
          FROM pw CROSS JOIN tot),
        ordx AS (
          SELECT doc_id, lang, bpe_tokens,
                 SUM(bpe_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bpe_tokens AS cum_before
          FROM dl)
        SELECT o.doc_id, o.lang, CAST(o.bpe_tokens AS BIGINT) AS bpe_tokens
        FROM ordx o JOIN bud USING (lang)
        WHERE cum_before < b
        """,
        doc="temperature mix consuming BPE-token budgets: the BPE fold + the full mixture recipe recomputed end to end",
    )
)


def _pipeline_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TRAINING-DATA BUILD, end to end in one oracled query: raw
    corpus → exact dedup (min-id survivor per sha256 digest) →
    tokenizer-faithful BPE token counts on the survivors →
    temperature-scaled per-language mixture over a 20k-BPE-token
    budget → packed 512-token training sequences via the two-phase
    distributed prefix sum.  Every stage is an operator from this
    library composed the way a user runs them; DuckDB recomputes the
    WHOLE composition — dedup precedence, the recursive merge fold
    over the survivor vocabulary, the mixture recipe, and the packing
    prefix sums."""
    from square_etl_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    digest_w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(
        F.col("doc_id").asc()
    )
    survivors = (
        d.withColumn("__rn", F.row_number().over(digest_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    counts = tx.bpe_token_counts(survivors).select("doc_id", "bpe_tokens")
    docs = survivors.select("doc_id", "lang").join(counts, "doc_id")
    kept = temperature_mix(
        docs, "lang", "bpe_tokens", ["doc_id"],
        total_budget=20000, alpha=0.5,
    )
    packed = pack_sequences(
        kept.select(
            "doc_id", "lang", F.col("bpe_tokens").alias("n_tokens")
        ),
        token_col="n_tokens",
        key_cols=("doc_id",),
        budget=512,
    )
    return packed.select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")


_register(
    QuerySpec(
        "pipeline_tokenize_pack",
        _pipeline_tokenize_pack,
        oracle=f"""
        WITH RECURSIVE
        surv AS (
          SELECT doc_id, text, lang FROM (
            SELECT doc_id, text, lang,
                   ROW_NUMBER() OVER (PARTITION BY text
                                      ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
        {_bpe_counts_cte("surv")},
        dl AS (
          SELECT s.doc_id, s.lang, bc.bpe_tokens
          FROM surv s JOIN bpe_counts bc ON s.doc_id = bc.doc_id),
        sz AS (
          SELECT lang, CAST(SUM(bpe_tokens) AS BIGINT) AS n
          FROM dl GROUP BY lang),
        pw AS (
          SELECT lang,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5), 9)
                      AS DECIMAL(38,9)) AS p
          FROM sz),
        tot AS (SELECT SUM(p) AS sp FROM pw),
        bud AS (
          SELECT lang,
                 CAST(floor(ROUND(
                   ROUND(CAST(p AS DOUBLE)
                         / /*nz: sum of positive group weights*/
                           CAST(sp AS DOUBLE), 9) * 20000, 6))
                   AS BIGINT) AS b
          FROM pw CROSS JOIN tot),
        ordx AS (
          SELECT doc_id, lang, bpe_tokens,
                 SUM(bpe_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bpe_tokens AS cum_before
          FROM dl),
        kept AS (
          SELECT o.doc_id, o.lang, o.bpe_tokens
          FROM ordx o JOIN bud USING (lang)
          WHERE cum_before < b),
        pord AS (
          SELECT doc_id, lang, bpe_tokens,
                 SUM(bpe_tokens) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bpe_tokens AS cum
          FROM kept)
        SELECT doc_id, lang, CAST(bpe_tokens AS BIGINT) AS n_tokens,
               CAST(cum // 512 AS BIGINT) AS seq_id,
               CAST(cum % 512 AS BIGINT) AS seq_offset
        FROM pord
        """,
        doc="the training-data build end to end: dedup -> BPE counts -> temperature mix -> packed sequences, all recomputed",
    )
)




def _text_compression_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer compression rate — UTF-8 bytes per
    byte-level BPE token.  THE metric a vocabulary allocation /
    mixture decision reads per domain (a source that tokenizes at 2.1
    bytes/token costs ~1.6x the training steps per byte of one at
    3.4): the byte-BPE counts the budget suite already certifies
    (text.bpe_token_counts, GPT-2 alphabet), aggregated per source
    against exact byte lengths.  One vocabulary-relation fold + one
    corpus-sized join-aggregate; decimal-free exact sums, rate
    rounded to 6."""
    d = load_table(spark, sf_dir, "documents")
    counts = tx.bpe_token_counts(d, alphabet="byte", merges=tx.BPE_BYTE_MERGES)
    j = d.select("doc_id", "source", F.octet_length("text").alias("__bytes")).join(
        counts, "doc_id"
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__bytes").cast("long").alias("total_bytes"),
        F.sum("bpe_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.when(
                F.sum("bpe_tokens") > 0,
                F.sum("__bytes") / F.sum("bpe_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("bytes_per_token"),
    )


_register(
    QuerySpec(
        "text_compression_rate",
        _text_compression_rate,
        oracle=f"""
        WITH RECURSIVE {_bpe_counts_cte(
            pretoken_sql=_BYTE_PRETOKEN_SQL,
            sym_sql=_BYTE_SYM_SQL,
            merges_sql=_BPE_BYTE_LIST_SQL,
        )}
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(strlen(d.text)) AS BIGINT) AS total_bytes,
               CAST(SUM(bc.bpe_tokens) AS BIGINT) AS total_tokens,
               ROUND(CASE WHEN SUM(bc.bpe_tokens) > 0
                          THEN SUM(strlen(d.text))
                               / /*nz: CASE pins the token sum positive*/
                                 CAST(SUM(bc.bpe_tokens) AS DOUBLE)
                          ELSE 0.0 END, 6) AS bytes_per_token
        FROM documents d JOIN bpe_counts bc ON d.doc_id = bc.doc_id
        GROUP BY d.source
        """,
        doc="per-source UTF-8-bytes-per-BPE-token compression rate on the "
        "byte tokenizer (vocabulary-allocation metric), fold recomputed",
    )
)


def _contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCHMARK-side contamination report — the reverse direction of
    the decontamination ladder: for every EVAL document (the
    doc_id % 97 = 0 carve-out), how many distinct corpus documents
    share >= 1 word 3-gram with it, and how many distinct shingles
    leak.  Decontamination drops corpus docs; THIS is the audit that
    tells you which eval items are already compromised and by how
    much (the "dirty eval" table every benchmark paper now reports).

    Plan shape: both sides collapse to 64-bit shingle hashes at the
    scan (dedup.hashed_word_shingles, per-doc distinct), the
    benchmark side is a fixed eval suite << corpus so its (bench_id,
    shingle) relation broadcasts, and the corpus is touched by ONE
    linear scan-explode-probe with a map-side-combinable aggregate —
    the contamination_hits contract with the grouping flipped to the
    bench side."""
    from square_etl_spark.operators.dedup import (
        shingles_from_word_hashes,
        word_hashes,
    )

    d = load_table(spark, sf_dir, "documents")
    bsh = (
        d.filter(F.col("doc_id") % 97 == 0)
        .withColumn("__hw", word_hashes("text"))
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(shingles_from_word_hashes("__hw", 3)).alias("sh"),
        )
    )
    csh = (
        d.filter(F.col("doc_id") % 97 != 0)
        .withColumn("__hw", word_hashes("text"))
        .select(
            F.col("doc_id").alias("corpus_id"),
            F.explode(shingles_from_word_hashes("__hw", 3)).alias("sh"),
        )
    )
    # bcast-ok: benchmark-suite shingle relation (fixed eval suite
    # << corpus, the contamination_hits contract)
    j = csh.join(F.broadcast(bsh), "sh")
    return j.groupBy(F.col("bench_id").alias("doc_id")).agg(
        F.countDistinct("corpus_id").cast("long").alias("n_corpus_docs"),
        F.countDistinct("sh").cast("long").alias("n_shared_shingles"),
    )


_register(
    QuerySpec(
        "contamination_report",
        _contamination_report,
        oracle=r"""
        WITH sh AS (
          SELECT DISTINCT doc_id, doc_id % 97 = 0 AS is_bench,
                 w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
          FROM (SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\s+') AS w
                      FROM documents)
                WHERE len(w) >= 3))
        SELECT b.doc_id,
               CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs,
               CAST(COUNT(DISTINCT b.g) AS BIGINT) AS n_shared_shingles
        FROM sh b JOIN sh c ON b.g = c.g AND c.is_bench = FALSE
        WHERE b.is_bench
        GROUP BY b.doc_id
        """,
        doc="benchmark-side contamination audit: per eval doc, distinct "
        "corpus docs and shingles leaking into it (which evals are dirty)",
    )
)


# ---------------------------------------------------------------------------
# Trainable corpus classifier (operators/classify.py): multinomial NB
# trained in-engine on the labeled split, applied to the holdout — the
# CCNet/WebText learned-quality-filter stage (Wenzek 1911.00359).  All
# four queries share one deterministic protocol: train on
# doc_id % 3 <> 0 with lang as the class, score doc_id % 3 = 0.
# ---------------------------------------------------------------------------


def _nb_train_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    return cls.nb_counts(d.filter(F.col("doc_id") % 3 != 0))


def _classify_nb_model_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label model card of the trained NB corpus classifier:
    document count, token mass, in-label vocabulary, top-3 tokens —
    the registry artifact stored next to the sufficient statistics.
    Exact integers/strings end to end (ranking by count desc, token
    asc), so the oracle replays training bit-for-bit."""
    from square_etl_spark.operators import classify as cls

    return cls.nb_train_summary(_nb_train_counts(spark, sf_dir), top_k=3)


# Shared oracle prefix: NB training + scoring, the exact decimal
# recipe of operators/classify.nb_model/nb_predictions (leaf-rounded
# ln → DECIMAL(18,6), exact composition after).  ``score_pred``
# selects the scored slice (holdout for the eval queries, TRUE for
# whole-corpus gates like pipeline_classified_mix).
def _nb_oracle_ctes(score_pred: str = "doc_id % 3 = 0") -> str:
    return r"""
        WITH tr AS (SELECT doc_id, lang, text FROM documents
                    WHERE doc_id % 3 <> 0),
        te AS (SELECT doc_id, lang, text FROM documents
               WHERE __SCORE_PRED__),
        ttr AS (
          SELECT lang AS label,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM tr),
        cnt AS (SELECT label, w, COUNT(*) AS c FROM ttr GROUP BY 1, 2),
        vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM cnt),
        nd AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM tr GROUP BY 1),
        ntot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM nd),
        tot AS (SELECT label, CAST(SUM(c) AS BIGINT) AS t
                FROM cnt GROUP BY 1),
        consts AS (
          SELECT nd.label,
                 CAST(ROUND(ln(CAST(nd.n_docs AS DOUBLE)
                      / /*nz: training split non-empty*/ n_total), 6)
                   AS DECIMAL(18,6)) AS lprior,
                 CAST(ROUND(ln(1.0), 6) AS DECIMAL(18,6))
                   - CAST(ROUND(ln(t + 1.0 * v), 6)
                       AS DECIMAL(18,6)) AS lrate
          FROM nd CROSS JOIN ntot
          JOIN tot ON tot.label = nd.label
          CROSS JOIN vocab),
        adj AS (
          SELECT w, label,
                 CAST(ROUND(ln(c + 1.0), 6) AS DECIMAL(18,6))
                   - CAST(ROUND(ln(1.0), 6) AS DECIMAL(18,6)) AS adj
          FROM cnt),
        tte AS (
          SELECT doc_id,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM te),
        lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
                 FROM tte GROUP BY 1),
        matched AS (SELECT doc_id, label, SUM(adj) AS madj
                    FROM tte JOIN adj USING (w) GROUP BY 1, 2),
        scores AS (
          SELECT lens.doc_id, n_tokens, consts.label,
                 lprior + n_tokens * lrate
                   + COALESCE(madj, CAST(0 AS DECIMAL(18,6))) AS score
          FROM lens CROSS JOIN consts
          LEFT JOIN matched ON matched.doc_id = lens.doc_id
                           AND matched.label = consts.label),
        ranked AS (
          SELECT doc_id, n_tokens, label, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, label ASC) AS rk,
                 LEAD(score) OVER (PARTITION BY doc_id
                   ORDER BY score DESC, label ASC) AS nxt
          FROM scores),
        preds AS (
          SELECT doc_id, n_tokens, label AS pred_label,
                 CAST(score AS DOUBLE) AS score,
                 CAST(score - nxt AS DOUBLE) AS margin
          FROM ranked WHERE rk = 1)
""".replace("__SCORE_PRED__", score_pred)


_NB_ORACLE_CTES = _nb_oracle_ctes()


def _classify_nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout predictions of the in-engine-trained NB classifier:
    (doc_id, n_tokens, pred_label, score, margin).  The oracle replays
    training AND inference — the whole learned-filter stage is
    hash-checked, not just its aggregates."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    te = d.filter(F.col("doc_id") % 3 == 0)
    return cls.nb_predictions(te, _nb_train_counts(spark, sf_dir))


def _classify_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trained classifier on the holdout:
    (true label, predicted label, n, margin mass) — the calibration
    artifact that decides the gate threshold before a corpus-scale
    apply.  |labels|²-bounded output; margin sums as exact decimal."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    te = d.filter(F.col("doc_id") % 3 == 0)
    preds = cls.nb_predictions(te, _nb_train_counts(spark, sf_dir))
    return (
        preds.join(te.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("true_label"), "pred_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("margin").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("sum_margin"),
        )
    )


def _classify_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus gate itself: keep holdout documents the classifier
    assigns to 'en' with margin ≥ 0.5, report survivors per source —
    the CCNet 'keep what scores like the target domain' pass wired
    end to end (train → score → gate → survivors)."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    te = d.filter(F.col("doc_id") % 3 == 0)
    kept = cls.nb_gate(
        te, _nb_train_counts(spark, sf_dir), "en", min_margin=0.5
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


def _classify_nb_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-training twin: the training split arrives as two
    batches (doc_id % 2), per-batch sufficient statistics folded via
    the sum monoid — predictions must equal the one-shot model's
    bit-for-bit, so this query shares the one-shot oracle (the
    fold ≡ one-shot law every ingest family here pins)."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    tr = d.filter(F.col("doc_id") % 3 != 0)
    te = d.filter(F.col("doc_id") % 3 == 0)
    counts = cls.nb_counts_batched(
        tr.withColumn("__b", F.col("doc_id") % 2), "__b", [0, 1]
    )
    return cls.nb_predictions(te, counts)


_register(
    QuerySpec(
        "classify_nb_model_card",
        _classify_nb_model_card,
        oracle=r"""
        WITH tr AS (SELECT doc_id, lang, text FROM documents
                    WHERE doc_id % 3 <> 0),
        ttr AS (
          SELECT lang AS label,
                 UNNEST(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM tr),
        cnt AS (SELECT label, w, COUNT(*) AS c FROM ttr GROUP BY 1, 2),
        nd AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM tr GROUP BY 1),
        top AS (
          SELECT label, string_agg(w, ' ' ORDER BY rk) AS top_tokens
          FROM (SELECT label, w,
                       ROW_NUMBER() OVER (PARTITION BY label
                         ORDER BY c DESC, w ASC) AS rk
                FROM cnt)
          WHERE rk <= 3 GROUP BY label),
        stats AS (
          SELECT label,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab_size
          FROM cnt GROUP BY label)
        SELECT label, n_docs, n_tokens, vocab_size, top_tokens
        FROM nd JOIN stats USING (label) JOIN top USING (label)
        """,
        doc="NB classifier model card: per-label docs/tokens/vocab/top-3 "
        "tokens, exact-integer training replayed by the oracle",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


_register(
    QuerySpec(
        "classify_nb_predictions",
        _classify_nb_predictions,
        oracle=_NB_ORACLE_CTES + "SELECT * FROM preds",
        doc="trained-NB holdout predictions: in-engine training + exact "
        "decimal inference, oracle replays the full learned filter",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


_register(
    QuerySpec(
        "classify_nb_confusion",
        _classify_nb_confusion,
        oracle=_NB_ORACLE_CTES
        + r""",
        final AS (
          SELECT te.lang AS true_label, pred_label,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 ROUND(CAST(SUM(CAST(margin AS DECIMAL(18,6)))
                   AS DOUBLE), 6) AS sum_margin
          FROM preds JOIN te ON te.doc_id = preds.doc_id
          GROUP BY 1, 2)
        SELECT * FROM final
        """,
        bench=True,
        doc="NB classifier confusion matrix on the holdout: the gate-"
        "threshold calibration artifact, |labels|^2-bounded",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


_register(
    QuerySpec(
        "classify_nb_gate_en",
        _classify_nb_gate,
        oracle=_NB_ORACLE_CTES
        + r"""
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS kept_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        FROM preds JOIN documents d ON d.doc_id = preds.doc_id
        -- margin IS NULL = single-label model (no runner-up): nb_gate
        -- passes it, so the oracle must too (r12 ADVICE; the fixture
        -- always trains >1 label, but the contracts must agree)
        WHERE pred_label = 'en' AND (margin >= 0.5 OR margin IS NULL)
        GROUP BY d.source
        """,
        doc="learned corpus gate: keep holdout docs classified 'en' with "
        "margin >= 0.5, survivors per source (train->score->gate e2e)",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


def _classify_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-threshold calibration: bucket holdout predictions by
    margin (width 0.25, top-capped at bin 19 — 20 bins bounded BY
    CONSTRUCTION, no corpus-sized NTILE window) and report accuracy
    per bin — the curve that picks nb_gate's min_margin.  Monotone-ish
    accuracy-vs-margin is the sanity signal; the artifact is
    |bins|-bounded whatever the corpus size."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    te = d.filter(F.col("doc_id") % 3 == 0)
    preds = cls.nb_predictions(te, _nb_train_counts(spark, sf_dir))
    j = preds.join(te.select("doc_id", "lang"), "doc_id")
    return (
        j.select(
            F.least(
                F.floor(F.col("margin") / F.lit(0.25)), F.lit(19)
            )
            .cast("long")
            .alias("margin_bin"),
            (F.col("pred_label") == F.col("lang"))
            .cast("long")
            .alias("ok"),
        )
        .groupBy("margin_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_correct"),
            F.round(
                F.sum("ok").cast("double") / F.count(F.lit(1)), 6
            ).alias("accuracy"),
        )
    )


_register(
    QuerySpec(
        "classify_nb_calibration",
        _classify_nb_calibration,
        oracle=_NB_ORACLE_CTES
        + r"""
        SELECT CAST(LEAST(FLOOR(margin / 0.25), 19) AS BIGINT)
                 AS margin_bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN pred_label = te.lang THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               ROUND(SUM(CASE WHEN pred_label = te.lang THEN 1 ELSE 0 END)
                 / /*nz: bin non-empty by construction*/
                 CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        FROM preds JOIN te ON te.doc_id = preds.doc_id
        GROUP BY 1
        """,
        doc="classifier calibration curve: accuracy per bounded margin "
        "bin (picks the nb_gate threshold); 20-bin output by construction",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


_register(
    QuerySpec(
        "classify_nb_incremental",
        _classify_nb_incremental,
        oracle=_NB_ORACLE_CTES + "SELECT * FROM preds",
        bench=True,
        doc="incrementally-trained NB (two folded batches) scores the "
        "holdout identically to the one-shot model (shared oracle)",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


def _packing_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length policy audit: for each candidate sequence budget
    (512/1024/2048 tokens), what ONE-DOC-PER-SEQUENCE packing would
    cost — docs truncated, token mass lost to truncation, and pad
    waste — vs what concat-and-split (pack_sequences) avoids by
    construction.  The 3-row artifact that picks the trainer's context
    length / packing policy before a corpus-scale tokenize run.

    One token-count scan, a 3-constant budget fan-out (explode of a
    parameter array — corpus × 3, not corpus²), map-side-combinable
    sums; fractions are exact-integer sums divided in double and
    rounded to 6 (the parity contract)."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != F.lit(""),
        )
    ).cast("long")
    budgets = F.array(F.lit(512), F.lit(1024), F.lit(2048))
    e = d.select(nt.alias("__nt")).select(
        "__nt", F.explode(budgets).alias("budget")
    )
    kept = F.least(F.col("__nt"), F.col("budget").cast("long"))
    return (
        e.groupBy("budget")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("__nt") > F.col("budget")).cast("long")
            ).cast("long").alias("n_truncated"),
            F.round(
                F.sum(F.col("__nt") - kept).cast("double")
                / F.sum("__nt"),
                6,
            ).alias("truncated_token_frac"),
            F.round(
                F.sum(F.col("budget").cast("long") - kept).cast("double")
                / F.sum(F.col("budget").cast("long")),
                6,
            ).alias("pad_waste_frac"),
        )
        .withColumn("budget", F.col("budget").cast("long"))
    )


_register(
    QuerySpec(
        "packing_policy_audit",
        _packing_policy_audit,
        oracle=r"""
        WITH nt AS (
          SELECT CAST(len(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS BIGINT) AS n
          FROM documents),
        e AS (
          SELECT n, CAST(UNNEST([512, 1024, 2048]) AS BIGINT) AS budget
          FROM nt)
        SELECT budget,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n > budget THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_truncated,
               ROUND(SUM(n - LEAST(n, budget))
                 / /*nz: corpus token mass positive*/
                 CAST(SUM(n) AS DOUBLE), 6) AS truncated_token_frac,
               ROUND(SUM(budget - LEAST(n, budget))
                 / /*nz: budgets positive*/
                 CAST(SUM(budget) AS DOUBLE), 6) AS pad_waste_frac
        FROM e GROUP BY budget
        """,
        doc="context-length policy audit: truncation + pad waste per "
        "candidate budget under one-doc-per-sequence packing; 3-row artifact",
    )
)


def _corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datacard — the Datasheets-for-Datasets audit
    row a curation pipeline publishes with every snapshot: volume
    (docs/chars/tokens), language spread (distinct langs + dominant
    lang by doc count, ties on lang asc), exact-duplicate mass (docs
    whose full-content digest repeats WITHIN the source), and mean
    document length.  One token-counting scan + one digest groupBy —
    both map-side combinable; the digest relation is
    distinct-content-sized.  All counts exact integers; the one
    ratio rounds the long/long division to 6 (the engine-parity
    contract)."""
    from square_etl_spark.operators.dedup import content_digest

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != F.lit(""),
        )
    ).cast("long")
    base = d.select(
        "source",
        "lang",
        "n_chars",
        toks.alias("__nt"),
        content_digest("text").alias("__dg"),
    )
    stats = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(
            F.sum("__nt").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_tokens"),
    )
    top_lang = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("__n").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("__rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    dup = (
        base.groupBy("source", "__dg")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .groupBy("source")
        .agg(F.sum("__nd").cast("long").alias("n_exact_dup_docs"))
    )
    return (
        stats.join(top_lang, "source")
        .join(dup, "source", "left")
        .withColumn(
            "n_exact_dup_docs",
            F.coalesce(F.col("n_exact_dup_docs"), F.lit(0).cast("long")),
        )
    )


_register(
    QuerySpec(
        "corpus_datacard",
        _corpus_datacard,
        oracle=r"""
        WITH base AS (
          SELECT source, lang, n_chars,
                 CAST(len(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   w -> w <> '')) AS BIGINT) AS nt,
                 -- same digest as the Spark side's content_digest
                 -- (grouping-key-only today, but symmetric by
                 -- construction so neither side can start emitting a
                 -- digest the other doesn't have; r12 ADVICE)
                 sha256(text) AS dg
          FROM documents),
        stats AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                 CAST(SUM(nt) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 ROUND(SUM(nt) / /*nz: every source non-empty*/
                   CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
          FROM base GROUP BY source),
        top_lang AS (
          SELECT source, lang AS top_lang FROM (
            SELECT source, lang,
                   ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY COUNT(*) DESC, lang ASC) AS rk
            FROM base GROUP BY source, lang)
          WHERE rk = 1),
        dup AS (
          SELECT source,
                 CAST(SUM(nd) AS BIGINT) AS n_exact_dup_docs
          FROM (SELECT source, dg, COUNT(*) AS nd
                FROM base GROUP BY source, dg)
          WHERE nd >= 2 GROUP BY source)
        SELECT s.source, n_docs, n_chars, n_tokens, n_langs,
               mean_tokens, top_lang,
               COALESCE(n_exact_dup_docs, 0) AS n_exact_dup_docs
        FROM stats s
        JOIN top_lang USING (source)
        LEFT JOIN dup USING (source)
        """,
        doc="per-source corpus datacard: volume, language spread, exact-"
        "dup mass, mean length — the snapshot audit artifact",
    )
)


def _quality_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate (operators/text.blocklist_gate): drop
    any document containing a blocklisted token (exact lowercase
    whole-token match — the published C4 policy unit), report the
    per-source cut.  The fixture blocklist {'dup', 'slow'} plants a
    rare term and a common one so the gate exercises both regimes.
    One scan + array_intersect against the in-plan term literal —
    no join, no shuffle; the oracle recomputes the distinct-token
    intersection per document."""
    import square_etl_spark.operators.text as _tx

    d = load_table(spark, sf_dir, "documents")
    terms = ["dup", "slow"]
    flagged = d.withColumn(
        "__hits", _tx.blocklist_hits("text", terms)
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("__hits") > 0).cast("long"))
        .cast("long")
        .alias("n_dropped"),
        F.sum((F.col("__hits") == 0).cast("long"))
        .cast("long")
        .alias("n_kept"),
        F.sum("__hits").cast("long").alias("total_hits"),
    )


_register(
    QuerySpec(
        "quality_blocklist_gate",
        _quality_blocklist,
        oracle=r"""
        WITH h AS (
          SELECT source,
                 CAST(len(list_intersect(
                   list_distinct(list_filter(
                     string_split_regex(lower(trim(text)), '\s+'),
                     w -> w <> '')),
                   ['dup', 'slow'])) AS BIGINT) AS hits
          FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               CAST(SUM(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(SUM(hits) AS BIGINT) AS total_hits
        FROM h GROUP BY source
        """,
        doc="C4 bad-words gate: exact-token blocklist hits per doc, "
        "per-source drop report; scan-only, no shuffle beyond the agg",
    )
)


def _split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment
    (operators/sampling.split_assign_leakage_free): near-dup pairs
    (the dedup_cluster_assignment recipe — 3-gram Jaccard ≥ 0.1 with
    the DF-100 stop-shingle cap) collapse to connected components,
    and the split variate hashes the COMPONENT label, so no near-dup
    cluster straddles train/test.  Output per split: docs, distinct
    components, and docs living in multi-doc clusters (the mass that
    WOULD have leaked under id-keyed splitting).  The oracle replays
    pair generation, the component closure (recursive CTE), and the
    md5-threshold assignment end to end."""
    from square_etl_spark.operators.sampling import (
        split_assign_leakage_free,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.1, df_cap=100
    )
    s = split_assign_leakage_free(
        d,
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="lfs1",
    )
    # re-derive the component key for the reporting aggregate (the
    # split itself already consumed it); component-sized relation
    labels = connected_components(pairs).select(
        "doc_id", F.col("cluster_id").alias("__grp")
    )
    keyed = s.join(labels, "doc_id", "left").withColumn(
        "__grp", F.coalesce(F.col("__grp"), F.col("doc_id"))
    )
    gsize = keyed.groupBy("__grp").agg(
        F.count(F.lit(1)).alias("__gn")
    )
    return (
        keyed.join(gsize, "__grp")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("__grp").cast("long").alias("n_components"),
            F.sum((F.col("__gn") > 1).cast("long"))
            .cast("long")
            .alias("n_clustered_docs"),
        )
    )


_register(
    QuerySpec(
        "split_leakage_free",
        _split_leakage_free,
        oracle=f"""
        WITH RECURSIVE {_ngram_pairs_ctes()},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
                   FROM reach GROUP BY a),
        grp AS (
          SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS g
          FROM documents d LEFT JOIN labels l USING (doc_id)),
        assigned AS (
          SELECT doc_id, g,
                 CASE WHEN {_bucket_sql("g", "lfs1")}
                           < '{rate_threshold(0.8)}' THEN 'train'
                      WHEN {_bucket_sql("g", "lfs1")}
                           < '{rate_threshold(0.9)}' THEN 'val'
                      ELSE 'test' END AS split
          FROM grp),
        gsize AS (SELECT g, COUNT(*) AS gn FROM assigned GROUP BY g)
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS n_components,
               CAST(SUM(CASE WHEN gn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clustered_docs
        FROM assigned JOIN gsize USING (g)
        GROUP BY split
        """,
        doc="leakage-free splits: near-dup components co-assigned to one "
        "split (component-label hashing), per-split dup-mass report",
    )
)


def _classify_nb_active_learning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Active-learning pick: the 50 LOWEST-margin holdout documents —
    where the classifier is least certain and a human label buys the
    most model improvement (uncertainty sampling, the standard
    labeling-loop selector).  Bottom-k by (margin asc, doc asc) =
    TakeOrdered, k-bounded; row-level output so the hash check pins
    the exact pick."""
    from square_etl_spark.operators import classify as cls

    d = load_table(spark, sf_dir, "documents")
    te = d.filter(F.col("doc_id") % 3 == 0)
    preds = cls.nb_predictions(te, _nb_train_counts(spark, sf_dir))
    return (
        preds.orderBy(F.col("margin").asc(), F.col("doc_id").asc())
        .limit(50)
        .select("doc_id", "pred_label", "margin")
    )


_register(
    QuerySpec(
        "classify_nb_active_learning",
        _classify_nb_active_learning,
        oracle=_NB_ORACLE_CTES
        + r"""
        SELECT doc_id, pred_label, margin FROM preds
        ORDER BY margin ASC, doc_id ASC LIMIT 50
        """,
        doc="uncertainty sampling: 50 lowest-margin holdout docs — the "
        "active-learning labeling pick, exact row-level oracle",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


def _dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's PRESCRIBED sampler (operators/sampling.gumbel_topk_sample
    over dsir_logweights): 200 docs drawn ∝ exp(log-importance-weight)
    toward the German target domain via deterministic Gumbel top-k —
    the md5-derived uniform makes the draw reproducible and
    oracle-replayable (u = (52 md5 bits + 0.5)/2^52 is exact on both
    engines), unlike the head-only deterministic top-k
    pipeline_curation_mix takes.  Output is the row-level sample
    (doc_id, lang, gumbel_score) so the hash check certifies the
    EXACT membership, not an aggregate of it."""
    from square_etl_spark.operators.sampling import (
        dsir_logweights,
        gumbel_topk_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = dsir_logweights(d, d.filter(F.col("lang") == "de"))
    sel = gumbel_topk_sample(
        scored, "dsir_logw", k=200, key="doc_id", salt="g1"
    )
    return sel.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "gumbel_score"
    )


_HEX13 = (
    "list_sum(list_transform(generate_series(1, 13),"
    " p -> (CAST(strpos('0123456789abcdef',"
    " substr(md5('g1' || CAST(doc_id AS VARCHAR)), p, 1)) AS BIGINT) - 1)"
    " * (CAST(1 AS BIGINT) << (4 * (13 - CAST(p AS INTEGER))))))"
)


_register(
    QuerySpec(
        "dsir_gumbel_sample",
        _dsir_gumbel_sample,
        oracle=f"""
        WITH scored AS (SELECT * FROM ({_dsir_oracle()}) s),
        pert AS (
          SELECT doc_id,
                 ROUND(dsir_logw + -ln(-ln(
                   (CAST({_HEX13} AS DOUBLE) + 0.5)
                     / 4503599627370496.0)), 6) AS gumbel_score
          FROM scored),
        sel AS (
          SELECT doc_id, gumbel_score FROM pert
          ORDER BY gumbel_score DESC, doc_id ASC LIMIT 200)
        SELECT sel.doc_id, d.lang, sel.gumbel_score
        FROM sel JOIN documents d USING (doc_id)
        """,
        doc="DSIR Gumbel-top-k sampler: exp(logw)-proportional draw "
        "without replacement, md5-derived noise, row-level oracle",
    )
)


def _pipeline_classified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END learned-filter → data-constrained-mix pipeline: the
    composition a real curation run executes.  Train the NB classifier
    on the labeled split (doc_id % 3 ≠ 0, lang as class), gate the
    WHOLE corpus to documents the model calls 'en' (margin ≥ 0 — any
    win), then water-fill a 30k-char sqrt-temperature budget over the
    gated corpus's SOURCES at max_epochs = 1 and take each source's
    budget in md5 order.  Per-source row: kept docs/chars + id fence.

    Every stage is the already-oracle-checked operator (classify.
    nb_gate ∘ sampling.temperature_mix_waterfill); the oracle replays
    the WHOLE chain — NB training, exact-decimal inference, the gate,
    the recursive-CTE fixpoint, and the prefix consumption — in one
    WITH RECURSIVE chain (the waterfill state CTE renamed wf_tr this
    round so it can share a chain with the NB train split `tr`).

    Bench note: the ~5 s recorded number is a SCALE-FLAT multi-job
    constant, not data cost — measured 5.8/4.1/4.7 s at
    sf0.001/0.01/0.1 (100× data spread).  The chain's contract
    requires a handful of sequential driver-bounded jobs (the gated
    model join's size-count, the |groups| waterfill collect, the
    |groups|×256 prefix-offset collect), each a fixed stage latency
    that amortizes to nothing at corpus scale — the
    dedup_decontaminate_semantic codegen-constant precedent."""
    from square_etl_spark.operators import classify as cls
    from square_etl_spark.operators.sampling import temperature_mix_waterfill

    d = load_table(spark, sf_dir, "documents")
    counts = cls.nb_counts(d.filter(F.col("doc_id") % 3 != 0))
    # localCheckpoint (r16): the gated relation is consumed THREE
    # times downstream (the waterfill's |groups| size collect, the
    # prefix sum's |groups|×256 offset collect, and the final
    # selection pass) — without materialization each action re-runs
    # the whole NB train+inference chain over the corpus, i.e. three
    # tokenize+model-join passes where one suffices (guide §5:
    # reuse × recompute cost).  Values unchanged.
    # r17 (verdict item 4 — the [6.8, 5.7, 27.4] raw spread): the
    # checkpoint stores ONLY the three columns the mix consumes
    # (doc_id, source, n_chars) instead of the full document width —
    # nb_gate passes text through, so the eager=False blocks held the
    # whole corpus text and squatted storage memory against the three
    # racing consumers.  eager=True lands the materialization cost in
    # one job instead of whichever consumer's action fires first.
    gated = (
        cls.nb_gate(d, counts, "en", min_margin=0.0)
        .select("doc_id", "source", "n_chars")
        .localCheckpoint(eager=True)
    )
    mixed = temperature_mix_waterfill(
        gated, "source", "n_chars", ["doc_id"],
        total_budget=30000, alpha=0.5, max_epochs=1.0,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


_register(
    QuerySpec(
        "pipeline_classified_mix",
        _pipeline_classified_mix,
        oracle=_nb_oracle_ctes("TRUE").replace(
            "WITH tr AS", "WITH RECURSIVE tr AS"
        )
        + r""",
        gated AS (
          SELECT d.doc_id, d.source, d.n_chars
          FROM documents d JOIN preds ON preds.doc_id = d.doc_id
          -- NULL margin = single-label model: nb_gate passes it (r12 ADVICE)
          WHERE pred_label = 'en' AND (margin >= 0.0 OR margin IS NULL)),
        sz AS (SELECT source AS g, CAST(SUM(n_chars) AS BIGINT) AS n
               FROM gated GROUP BY source),
        witems AS (
          SELECT g,
                 CAST(ROUND(pow(CAST(n AS DOUBLE), 0.5) * 1e9, 0)
                      AS HUGEINT) AS x,
                 CAST(CAST(FLOOR(ROUND(CAST(n AS DOUBLE) * 1.0, 6))
                      AS BIGINT) AS HUGEINT) AS cap
          FROM sz),
        """
        + _waterfill_fixpoint_ctes(30000, "witems", "source")
        + r""",
        ordx AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars AS cum_before
          FROM gated)
        SELECT o.source,
               CAST(COUNT(*) AS BIGINT) AS kept_docs,
               CAST(SUM(o.n_chars) AS BIGINT) AS kept_chars,
               CAST(MIN(o.doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(o.doc_id) AS BIGINT) AS max_doc_id
        FROM ordx o JOIN bud ON bud.source = o.source
        WHERE cum_before < b
        GROUP BY o.source
        """,
        bench=True,  # r12: the composition headline earns a recorded number
        doc="e2e learned-filter -> data-constrained mix: NB gate over the "
        "whole corpus, then waterfilled temperature budgets per source, "
        "one oracle replaying classifier + fixpoint + consumption",
        global_window_ok="|labels|-row prior/total fold in nb_model (label relation, mixture-dims bounded)",
    )
)


def _mix_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature SWEEP for the data-constrained mix: the water-filled
    per-language budgets at α ∈ {0.25, 0.5, 0.75, 1.0} side by side —
    the artifact that picks the mixing temperature (lower α flattens
    toward uniform and caps more groups at supply; α = 1 is
    proportional).  One |groups|-row size aggregate feeds four
    exact-integer fixpoints on the driver dict (the mixture-dims
    contract), total 140k chars at max_epochs = 1.

    Cross-engine share-weight bridge WITHOUT pow(): pow is not
    correctly rounded on every engine, so each α is built from
    operations that are — sqrt (IEEE correctly rounded), multiply
    (ditto), identity: n^0.25 = sqrt(sqrt(n)), n^0.75 =
    sqrt(n)·sqrt(sqrt(n)).  Same half-up 1e9 bridge as
    temperature_waterfill_budgets; the oracle replays all four
    fixpoints in one WITH RECURSIVE via prefixed CTE chains."""
    import math

    from square_etl_spark.operators.sampling import (
        _epoch_cap,
        waterfill_budgets,
    )

    d = load_table(spark, sf_dir, "documents")
    sizes = [
        (r["lang"], int(r["n"]))
        for r in d.groupBy("lang")
        .agg(F.sum("n_chars").cast("long").alias("n"))
        .collect()
    ]
    alphas = [
        ("0.25", lambda v: math.sqrt(math.sqrt(v))),
        ("0.5", lambda v: math.sqrt(v)),
        ("0.75", lambda v: math.sqrt(v) * math.sqrt(math.sqrt(v))),
        ("1.0", lambda v: float(v)),
    ]
    rows = []
    for aname, f in alphas:
        items = []
        for g, n in sizes:
            y = f(float(n)) * 1e9
            fl = math.floor(y)
            x = int(fl) + (1 if y - fl >= 0.5 else 0)
            items.append((g, x, _epoch_cap(n, 1.0)))
        budgets = waterfill_budgets(items, 140000)
        for g, x, cap in items:
            rows.append((aname, g, x, cap, int(budgets[g])))
    return spark.createDataFrame(
        rows, "alpha string, lang string, x_share long, cap long, budget long"
    )


def _sweep_witems(alpha_expr: str, prefix: str) -> str:
    return f"""{prefix}witems AS (
          SELECT g,
                 CAST(ROUND({alpha_expr} * 1e9, 0) AS HUGEINT) AS x,
                 CAST(CAST(FLOOR(ROUND(CAST(n AS DOUBLE) * 1.0, 6))
                      AS BIGINT) AS HUGEINT) AS cap
          FROM sz),
        """


_SWEEP_ALPHAS_SQL = [
    ("0.25", "sqrt(sqrt(CAST(n AS DOUBLE)))", "a_"),
    ("0.5", "sqrt(CAST(n AS DOUBLE))", "b_"),
    ("0.75", "sqrt(CAST(n AS DOUBLE)) * sqrt(sqrt(CAST(n AS DOUBLE)))", "c_"),
    ("1.0", "CAST(n AS DOUBLE)", "d_"),
]


_register(
    QuerySpec(
        "mix_temperature_sweep",
        _mix_temperature_sweep,
        oracle=(
            """
        WITH RECURSIVE sz AS (
          SELECT lang AS g, CAST(SUM(n_chars) AS BIGINT) AS n
          FROM documents GROUP BY lang),
        """
            + ",\n        ".join(
                _sweep_witems(expr, p)
                + _waterfill_fixpoint_ctes(
                    140000, f"{p}witems", "lang", prefix=p
                )
                for _, expr, p in _SWEEP_ALPHAS_SQL
            )
            + "\n        "
            + "\n        UNION ALL\n        ".join(
                f"""SELECT '{a}' AS alpha, w.g AS lang,
               CAST(w.x AS BIGINT) AS x_share,
               CAST(w.cap AS BIGINT) AS cap, b.b AS budget
        FROM {p}witems w JOIN {p}bud b ON b.lang = w.g"""
                for a, _, p in _SWEEP_ALPHAS_SQL
            )
        ),
        doc="temperature sweep: waterfilled per-lang budgets at four alphas "
        "side by side (pow-free sqrt-chain share weights, four prefixed "
        "fixpoint chains in one recursive oracle)",
    )
)


# Round-17 head: rotation.py's recommendation verbatim (r16 verdict
# item 9) — every query whose operator was perf-refactored in r16/r17
# first (refresh queue: the NB family, the dedup/minhash/simhash
# verifies, the substring fold, the ANN codes probe, the doremi/DSIR
# family, decode_jpeg, classified/decontaminate pipelines), then the
# r11/r12-stale cohort oldest-first, anchor last = 50.
_CHECK_PRIORITY: list[str] = [
    "text_bpe_encode_ids",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk_quantized",
    "ann_topk_codes",
    "multimodal_decode_jpeg",
    "dedup_embedding_incremental",
    "dedup_decontaminate_semantic",
    "dedup_decontaminate_fuzzy",
    "dedup_jaccard_prefix",
    "mix_doremi_sources",
    "mix_doremi_incremental",
    "dsir_weights_target_de",
    "dedup_incremental_substring",
    "classify_nb_predictions",
    "classify_nb_confusion",
    "classify_nb_gate_en",
    "classify_nb_calibration",
    "classify_nb_incremental",
    "pipeline_classified_mix",
    "sessionize_events",
    "pivot_event_counts",
    "mix_temperature_waterfill",
    "mix_waterfill_epochs",
    "mix_waterfill_incremental",
    "pipeline_epoch_build",
    "mix_doremi_waterfill",
    "text_bpe_train_bytes",
    "text_bpe_bytes_tokens",
    "text_bpe_bytes_encode_ids",
    "q1_pricing_summary",
    "dedup_minhash_vs_ngram",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_ivfpq",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_bucketed",
    "shard_assignment",
    "decile_customer_acctbal",
    "profile_orders_columns",
    "corr_price_items",
    "csv_ingest_orders",
    "zorder_key_customers",
    "skew_profile_event_users",
    "arrow_group_median_dev",
    "text_pii_redaction",
    "funnel_conversion",
    "retention_cohorts",
    "streaks_user_activity",
    "flagship_star_revenue",
    # NOTE: exactly 50 entries above — the driver's per-round cap.
    # `python tools/rotation.py` audits this list against the
    # CORRECTNESS history and prints the recommended next head.
]


def _ordered() -> list[QuerySpec]:
    by_name = {spec.name: spec for spec in _REGISTRY}
    unknown = [n for n in _CHECK_PRIORITY if n not in by_name]
    if unknown:  # fail loudly — a typo here silently loses coverage
        raise KeyError(f"_CHECK_PRIORITY names unknown queries: {unknown}")
    head = [by_name[n] for n in _CHECK_PRIORITY]
    tail = [spec for spec in _REGISTRY if spec.name not in set(_CHECK_PRIORITY)]
    return head + tail


def registry() -> list[QuerySpec]:
    return _ordered()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        spec.name: spec.oracle for spec in _ordered() if spec.oracle is not None
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _REGISTRY if spec.bench}
