"""Physical-plan assertions: the 100 TB posture is checkable locally
(SURVEY.md §4) — filters must reach the parquet reader, projections
must prune columns, hot-path queries must stay in whole-stage codegen
with zero Python UDFs, and small dims must broadcast."""

from __future__ import annotations

from square_etl_spark.io import load_table, windowed_scan
from square_etl_spark.queries import queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_predicate_pushed_to_parquet(spark, sf_dir):
    df = windowed_scan(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1997-01-01", "1997-04-01"
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must carry only the two requested columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_flagship_uses_broadcast_and_codegen_no_python(spark, sf_dir):
    df = queries()["flagship_star_revenue"](spark, sf_dir)
    df.collect()  # execute THIS plan: AQE shows codegen only in the final plan
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "*(" in plan  # `*(N)` prefixes mark whole-stage-codegen spans
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # no pandas UDF on this path


def test_reference_parity_queries_have_no_python_udfs(spark, sf_dir):
    # SURVEY.md §2.7: zero Python UDFs required for reference parity
    parity = [
        "q1_pricing_summary", "s1_windowed_scan", "p2_quantity_validity",
        "j1_catalog_build_probe", "j2_first_wins", "j4_explode_line_items",
        "a3_last_writer_wins", "k1_merge_upsert", "t2_tumbling_hourly",
        "dedup_exact", "text_quality_stats",
    ]
    qs = queries()
    for name in parity:
        plan = _plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(queries()["topk_revenue_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ann_topk_uses_partial_window_group_limit(spark, sf_dir):
    # The ANN top-k rank-filter (row_number over query_id, <= k) must
    # compile to WindowGroupLimit with a map-side Partial pass: each
    # input partition keeps only its local top-k BEFORE the shuffle, so
    # the exchange carries O(partitions*k) rows, not all N similarity
    # scores.  At 100 TB, losing this pushdown means a full-corpus sort
    # per query — pin it against config/version drift.
    df = queries()["ann_topk_bruteforce"](spark, sf_dir)
    df.collect()  # executed plan: AQE finalizes modes only after run
    plan = _plan(df)
    limits = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    assert any("Partial" in l for l in limits), "map-side partial top-k gone"
    assert any("Final" in l for l in limits)


def test_temporal_queries_single_exchange(spark, sf_dir):
    # asof (union+window), sessionize (lag+prefix-sum+agg), and the
    # two-window rank/lag query each share ONE hash partitioning on
    # their key — Catalyst must not add a second shuffle.
    qs = queries()
    for name in ["asof_join_clicks", "sessionize_events", "window_rank_lag"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("Exchange") == 1, f"{name} plans extra shuffles"
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_q6_all_predicates_reach_the_scan(spark, sf_dir):
    # TPC-H Q6 is the pure-pushdown probe: window, discount band, and
    # quantity cap must ALL appear as scan DataFilters (at 100 TB these
    # prune parquet row groups before a single byte is decoded).
    plan = _plan(queries()["q6_forecast_revenue"](spark, sf_dir))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    for frag in ["l_shipdate", "l_discount", "l_quantity"]:
        assert frag in scan, f"{frag} not pushed into the lineitem scan"
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_q19_envelope_extraction_reaches_scans(spark, sf_dir):
    # the hand-extracted single-side envelopes of the cross-side OR:
    # part scan must carry the brand IN-list, lineitem scan the
    # quantity hull — without them every part joins every lineitem.
    plan = _plan(queries()["q19_disjunctive_pushdown"](spark, sf_dir))
    part_scans = [l for l in plan.splitlines() if "FileScan" in l and "p_brand" in l]
    assert part_scans and all("IN (Brand#1,Brand#2,Brand#3)" in l for l in part_scans)
    li_scans = [l for l in plan.splitlines() if "FileScan" in l and "l_quantity" in l]
    assert li_scans and all(">= 1.0" in l and "<= 30.0" in l for l in li_scans)
    assert "CartesianProduct" not in plan


def test_new_tpch_shapes_broadcast_and_stay_on_jvm(spark, sf_dir):
    qs = queries()
    for name in ["q7_nation_volume", "q8_market_share", "q13_custdist",
                 "q15_top_supplier", "q17_small_qty_revenue"]:
        df = qs[name](spark, sf_dir)
        df.collect()  # execute so AQE settles the final join strategies
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, f"{name} broadcasts nothing"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_pair_dedup_queries_never_go_quadratic(spark, sf_dir):
    # candidate generation must be equi-join based (posting lists /
    # bands / buckets) — a cartesian or nested-loop pair join would
    # "work" at test scale and melt at 100 TB.
    qs = queries()
    for name in ["dedup_ngram_jaccard", "dedup_simhash", "dedup_minhash_lsh",
                 "dedup_embedding_cosine_bucketed", "dedup_semantic"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pipeline_catalog_plan_broadcasts_items_dim(spark, sf_dir):
    """The catalog main's build/probe maps must stay a broadcast join
    (items per tenant are a small dim) — a sort-merge regression here
    would shuffle every variation at 100 TB."""
    df = queries()["pipeline_catalog"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_codes_probe_scans_only_codes_and_broadcasts_rescore(spark, sf_dir, tmp_path):
    """The materialized-codes ANN probe's 100 TB posture: the candidate
    scan reads ONLY the codes+norm table columns (the raw embedding
    table appears in the plan solely behind the key-sized rescore
    join), and both query-side joins are broadcasts — the N-sized
    codes scan is never shuffled."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.similarity import quantize_int8, topk_from_codes

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes_df, factors = quantize_int8(e, dim=64)
    path = str(tmp_path / "codes")
    codes_df.write.parquet(path)
    stored = spark.read.parquet(path)
    plan = _plan(topk_from_codes(stored, factors, e, q, k=5, dim=64))
    # codes-table scan carries exactly the codes layout, no embedding
    codes_scans = [
        l for l in plan.splitlines() if "ReadSchema" in l and "codes" in l
    ]
    assert codes_scans, plan
    assert all("embedding" not in l for l in codes_scans)
    assert "BroadcastExchange" in plan
    # the big-side codes scan must not sit under a shuffle exchange:
    # the only Exchanges allowed are the window's hash partitioning on
    # query_id (Q-sized after candidate pruning) — never on codes rows
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("query_id" in e for e in exchanges), exchanges


def test_gif_decode_is_map_only_no_blob_shuffle(spark, sf_dir):
    """The constructed-blob GIF decode is scan → project → mapInPandas,
    with at most decode_media's conditional FAN-OUT exchange (r16): on
    an input narrower than defaultParallelism the pure-Python decode
    would otherwise run on one task, so exactly one ROUND-ROBIN
    repartition is allowed below the decode; no hash/range exchange
    may ever carry blobs, and on a many-partition input (the 100 TB
    case) the fan-out is a no-op — pinned by the second assertion
    block."""
    plan = _plan(queries()["multimodal_decode_gif_frames"](spark, sf_dir))
    assert "MapInPandas" in plan
    # only the fan-out's round-robin exchange is tolerated — blobs
    # must never ride a hash/range (key) exchange
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, line
    # wide input ⇒ no exchange at all (the conditional is a no-op —
    # the 100 TB case, where inputs arrive many-partition)
    from pyspark.sql import functions as F

    from square_etl_spark.operators.multimodal import decode_media

    par = spark.sparkContext.defaultParallelism
    wide = (
        spark.range(par * 4)
        .repartition(par)
        .select(
            F.col("id").alias("media_id"),
            F.lit(bytearray(b"P6\n1 1\n255\n\x00\x00\x00")).alias("content"),
            F.struct(
                F.lit("image").alias("media_type"),
                F.lit("ppm").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(None).cast("string").alias("uri"),
            ).alias("meta"),
        )
        .localCheckpoint(eager=True)  # cut the repartition from the plan
    )
    wide_plan = _plan(decode_media(wide))
    assert "Exchange" not in wide_plan


def test_probe_then_decode_semi_join_feeds_decode(spark, sf_dir):
    """Probe-then-decode: the decode stage's input must be the
    LEFT-SEMI-joined (probe-selected) media, i.e. the plan carries the
    semi join and the manifest filter BELOW the decode MapInPandas —
    no decode compute is spent on unselected rows."""
    plan = _plan(queries()["multimodal_probe_then_decode"](spark, sf_dir))
    assert "LeftSemi" in plan
    # decode's subtree sits above the semi join in the plan text
    decode_pos = plan.index("MapInPandas")
    semi_pos = plan.index("LeftSemi")
    assert decode_pos < semi_pos  # toString prints parents before children
    assert "detected_format" in plan  # the probe predicate is in-plan


def test_survivor_selection_single_window_no_blowup(spark, sf_dir):
    """Survivor selection adds exactly one Window (the per-cluster
    argmax) on top of the CC fixed-point — no Cartesian products, no
    Python UDFs."""
    plan = _plan(queries()["dedup_survivor_selection"](spark, sf_dir))
    assert plan.count("Window") >= 1
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan


def test_q12_derived_predicates_stay_below_the_join(spark, sf_dir):
    """Q12's three predicates are over DERIVED columns (no parquet
    pushdown possible), so the scale posture is: evaluate them map-side
    in the lineitem scan stage BEFORE the orders join.  The plan must
    show a Filter on the lineitem side beneath the join, and the whole
    query stays JVM-side."""
    df = queries()["q12_shipmode_priority"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # filter sits below the join: the Filter node mentioning the
    # derived ship-mode IN-list appears after (deeper than) the join
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                    plan.find("ShuffledHashJoin")) if p >= 0
    )
    filter_pos = plan.find("MAIL")
    assert filter_pos > join_pos  # deeper in the printed tree


def test_oov_vocab_rank_is_take_ordered_not_global_window(spark, sf_dir):
    """r08 verdict hardening: the top-256 vocabulary was ranked with a
    global (partitionBy-less) window that was only scale-safe because
    Catalyst's limit-pushdown rewrote it to TakeOrderedAndProject.
    The query now states orderBy().limit() directly — assert the plan
    carries TakeOrderedAndProject and NO window at all, so the safety
    no longer depends on an optimizer rule firing."""
    plan = _plan(queries()["text_oov_rate"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_embedding_lsh_bucket_cap_is_aggregate_anti_join_not_window(spark, sf_dir):
    """r11 verdict item 1: the hot-bucket cap of the embedding-LSH and
    MinHash families must use the map-side-combinable shape
    (groupBy-count → broadcast anti join, dedup._cap_hot_buckets) — a
    count OVER (PARTITION BY keys) would funnel every row of the hot
    bucket through ONE reducer, becoming the bottleneck it guards
    against.  Pin: zero Window nodes in the cap path, the anti join
    present, and partial/final HashAggregate pairs for the count."""
    from square_etl_spark.operators.dedup import (
        embedding_cosine_pairs_bucketed,
        minhash_banded_pairs,
        minhash_index,
        minhash_probe,
        semantic_contamination_pairs,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    old_sh, old_buckets = minhash_index(d.filter(F.col("doc_id") % 2 == 0))
    plans = [
        _plan(minhash_banded_pairs(d, bucket_cap=10)),
        _plan(minhash_probe(
            old_sh, old_buckets, d.filter(F.col("doc_id") % 2 == 1),
            bucket_cap=10,
        )),
        _plan(embedding_cosine_pairs_bucketed(
            e, dim=64, threshold=0.35, bits=4, n_tables=8, bucket_cap=100
        )),
        _plan(semantic_contamination_pairs(
            e.filter(F.col("vec_id") % 97 != 0),
            e.filter(F.col("vec_id") % 97 == 0),
            dim=64, threshold=0.35, bits=4, n_tables=8, bucket_cap=100,
        )),
    ]
    for plan in plans:
        assert "Window" not in plan
        assert "LeftAnti" in plan
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_registered_semantic_decontam_carries_the_cap_anti_join(spark, sf_dir):
    """The registered dedup_decontaminate_semantic query passes a real
    bucket_cap (4096) — its plan must carry the anti-join cap path
    with zero Window nodes, and at tested scales (max corpus bucket
    209 at sf0.1) the cap must not change the result."""
    plan = _plan(queries()["dedup_decontaminate_semantic"](spark, sf_dir))
    assert "Window" not in plan
    assert "LeftAnti" in plan


def test_gumbel_sampler_is_take_ordered_not_global_sort(spark, sf_dir):
    """gumbel_topk_sample must plan as TakeOrdered (k-bounded) — a
    materialized global Sort would be the scale bug the operator's
    contract rules out."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.sampling import gumbel_topk_sample

    big = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("double").alias("w"),
    )
    plan = _plan(gumbel_topk_sample(big, "w", 25))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_blocklist_gate_is_scan_only(spark, sf_dir):
    """blocklist_gate adds no Exchange: the term list is an in-plan
    array literal, so the filter is a scan-side predicate."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.text import blocklist_gate

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(blocklist_gate(d, ["dup", "slow"]))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_shingle_and_window_hash_hoists_hold(spark, sf_dir):
    """Regression canaries for the r12 HOF-capture fixes: the
    tokenize/hash pass must appear ONCE in the optimized plan.  If
    CollapseProject ever re-inlines the hoisted hash-array alias, the
    split/md5 expression count explodes (the pre-fix 13-gram plan
    carried 26 split() occurrences; the hoisted plan carries 1)."""
    from pyspark.sql import functions as F

    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import (
        _portable_window_hashes,
        minhash_index,
        shingles_from_word_hashes,
        word_hashes,
    )

    d = load_table(spark, sf_dir, "documents")

    def oplan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    # 13-gram shingle hoist (the source_overlap_matrix shape)
    sh = d.withColumn("__hw", word_hashes("text")).select(
        "doc_id",
        F.explode(shingles_from_word_hashes("__hw", 13)).alias("sh"),
    )
    assert oplan(sh).count("split(") == 1

    # substring window-hash hoist (the _substring_base shape,
    # pre-checkpoint so the plan is inspectable)
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda w: w != F.lit(""),
        ).alias("__w"),
    )
    hashed = toks.withColumn(
        "__hw",
        F.transform(
            F.col("__w"),
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast(
                "long"
            ),
        ),
    )
    wh = hashed.select(
        "doc_id", _portable_window_hashes("__hw", 50).alias("__wh")
    )
    assert oplan(wh).count("md5") == 1

    # minhash index: the store is checkpointed, so the bucket plan
    # reads the materialized relation — ZERO tokenize passes visible
    _, buckets = minhash_index(d, "doc_id", "text", 16, 8, 1)
    assert oplan(buckets).count("split(") == 0
