"""Fixed-iteration k-means (operators/clustering.py): separation,
Lloyd monotonicity, determinism, and the broadcast-assignment plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from square_etl_spark.operators.clustering import kmeans_fixed, kmeans_summary


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def test_kmeans_separates_obvious_clusters(spark):
    # ids 0,2,4 near the origin; ids 1,3,5 near (10,10) — seeds 0 and 1
    # land one in each blob, so one iteration already separates them
    vecs = [
        [0.0, 0.1], [10.0, 9.9], [0.2, 0.0], [9.8, 10.1], [0.1, 0.2],
        [10.1, 10.0],
    ]
    assign, cent = kmeans_fixed(_emb(spark, vecs), "vec_id", "embedding",
                                k=2, iters=2)
    got = {r["vid"]: r["c"] for r in assign.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]


def test_kmeans_second_iteration_does_not_increase_inertia(spark):
    vecs = [
        [0.0, 0.0], [1.0, 0.0], [5.0, 5.0], [6.0, 5.0], [0.5, 0.4],
        [5.5, 4.6], [0.2, 0.9], [5.9, 5.8],
    ]
    emb = _emb(spark, vecs)
    i1 = sum(
        r["inertia"]
        for r in kmeans_summary(
            *kmeans_fixed(emb, "vec_id", "embedding", k=2, iters=1)
        ).collect()
    )
    i2 = sum(
        r["inertia"]
        for r in kmeans_summary(
            *kmeans_fixed(emb, "vec_id", "embedding", k=2, iters=2)
        ).collect()
    )
    assert i2 <= i1 + 1e-6  # Lloyd never worsens the objective


def test_kmeans_is_deterministic_across_runs(spark):
    vecs = [[float((7 * i) % 11), float((3 * i) % 5)] for i in range(30)]
    emb = _emb(spark, vecs).repartition(8)
    s1 = kmeans_summary(*kmeans_fixed(emb, "vec_id", "embedding", k=3)).collect()
    s2 = kmeans_summary(*kmeans_fixed(emb, "vec_id", "embedding", k=3)).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


def test_kmeans_assignment_join_broadcasts_centroids(spark):
    vecs = [[float(i), float(i % 3)] for i in range(20)]
    # checkpoint=False keeps the lineage visible so the join strategy
    # is assertable (the default truncates each round's plan)
    assign, _ = kmeans_fixed(_emb(spark, vecs), "vec_id", "embedding",
                             k=2, iters=1, checkpoint=False)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_arrow_assignment_agrees_with_exact_path(spark, sf_dir):
    """The numpy fast-path assignment must agree with the decimal
    argmin on the real embeddings fixture (near-ties at ~1e-9 are the
    documented caveat; they do not occur on realistic data)."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.clustering import (
        kmeans_assign_arrow,
        kmeans_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cent = kmeans_fixed(emb, "vec_id", "embedding", k=4, iters=2)
    exact = {r["vid"]: r["c"] for r in assign.collect()}
    fast = {
        r["vid"]: r["c"]
        for r in kmeans_assign_arrow(emb, cent, "vec_id", "embedding").collect()
    }
    # compare against an assignment round over the SAME final centroids
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    long = emb.select(
        F.col("vec_id").alias("vid"),
        F.posexplode("embedding").alias("dim", "valf"),
    ).select("vid", "dim", F.col("valf").cast("double").alias("val"))
    diff = F.col("val") - F.col("cval")
    dist = (
        long.join(F.broadcast(cent), "dim")
        .groupBy("vid", "c")
        .agg(F.sum(F.round(diff * diff, 9).cast("decimal(38,9)")).alias("d2"))
    )
    w = Window.partitionBy("vid").orderBy(F.col("d2").asc(), F.col("c").asc())
    exact_same_cent = {
        r["vid"]: r["c"]
        for r in dist.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .collect()
    }
    assert fast == exact_same_cent
    assert set(fast) == set(exact)


def test_arrow_assignment_is_arrow_not_row_python(spark):
    from square_etl_spark.operators.clustering import (
        kmeans_assign_arrow,
        kmeans_fixed,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    _, cent = kmeans_fixed(emb, "vec_id", "embedding", k=2, iters=1)
    out = kmeans_assign_arrow(emb, cent, "vec_id", "embedding")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_arrow_assignment_never_emits_dead_clusters(spark):
    """Regression (r06 review): when a Lloyd update empties a cluster
    (duplicate seed vectors), the centroid relation drops its id; the
    Arrow path must then only assign to SURVIVING ids — never to a
    phantom zero-vector centroid at a dropped id."""
    from square_etl_spark.operators.clustering import (
        kmeans_assign_arrow,
        kmeans_fixed,
    )

    # seeds 0 and 1 are identical → tie-break empties cluster 1 after
    # the first update; points far from the origin would have been
    # captured by a phantom zeros-row under the old dense matrix
    vecs = [[5.0, 5.0], [5.0, 5.0], [5.1, 4.9], [100.0, 100.0],
            [101.0, 99.0]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    assign, cent = kmeans_fixed(emb, "vec_id", "embedding", k=2, iters=2)
    surviving = {r["c"] for r in cent.select("c").distinct().collect()}
    fast = kmeans_assign_arrow(emb, cent, "vec_id", "embedding").collect()
    assert {r["c"] for r in fast} <= surviving
    exact = {r["vid"]: r["c"] for r in assign.collect()}
    assert {r["vid"]: r["c"] for r in fast} == exact


def test_semantic_dedup_prunes_within_cluster_first_wins(spark):
    """Planted two-cluster corpus: each cluster holds a near-copy of
    its seed (cosine ≈ 1 → pruned, larger id loses) plus one member
    below the threshold (kept).  Cluster labels group the copies with
    their seeds — the blocking is data-adaptive, not hash-based."""
    from square_etl_spark.operators.dedup import semantic_dedup

    vecs = [
        [1.0, 0.0, 0.0, 0.0],     # 0: seed A
        [0.0, 1.0, 0.0, 0.0],     # 1: seed B
        [0.99, 0.01, 0.0, 0.0],   # 2: near-copy of 0 → pruned
        [0.0, 0.98, 0.02, 0.0],   # 3: near-copy of 1 → pruned
        [0.6, 0.0, 0.8, 0.0],     # 4: same cluster as A, cos 0.6 → kept
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(
            emb, "vec_id", "embedding", k=2, iters=2, threshold=0.9
        ).collect()
    }
    assert {i: kept for i, (_, kept) in out.items()} == {
        0: True, 1: True, 2: False, 3: False, 4: True
    }
    assert out[2][0] == out[0][0]  # copy clusters with its seed
    assert out[3][0] == out[1][0]
    assert out[0][0] != out[1][0]  # the two seeds separate


def test_semantic_dedup_pair_stage_is_cluster_equi_join(spark):
    """The pair generator must be an equi-join on the cluster label —
    never a BroadcastNestedLoopJoin over all pairs (the SemDeDup
    blocking contract)."""
    from square_etl_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        semantic_dedup(
            emb, "vec_id", "embedding", k=2, iters=1, threshold=0.9
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_sampled_fit_arrow_matches_exact(spark):
    """fit_sample_mod: centroids fitted on the deterministic subset +
    Arrow assignment must reproduce the exact path's keep/drop
    decisions on a well-separated corpus (two tight blobs with
    near-duplicate members) — the scale path loses no semantics when
    the sample still sees every mode."""
    from square_etl_spark.operators.dedup import semantic_dedup

    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))          # blob A
    for i in range(20, 40):
        rows.append((i, [0.0, 0.001 * i, 1.0, 0.0]))          # blob B
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    exact = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            emb, "vec_id", "embedding", k=2, iters=2,
            threshold=0.95,
        ).collect()
    }
    sampled = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            emb, "vec_id", "embedding", k=2, iters=2,
            threshold=0.95, fit_sample_mod=3,
        ).collect()
    }
    assert sampled == exact
    # within each tight blob exactly one survivor (the smallest id)
    assert sum(sampled.values()) == 2
    assert sampled[0] is True


def test_stored_centroid_assign_reproduces_fixed_iters(spark, sf_dir):
    """kmeans_fixed(iters=n-1) centroids + one kmeans_assign_exact
    pass must equal kmeans_fixed(iters=n)'s assignment — the
    fit-once/assign-many contract."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.clustering import (
        kmeans_assign_exact,
        kmeans_fixed,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    full, _ = kmeans_fixed(e, "vec_id", "embedding", k=4, iters=2)
    _, c1 = kmeans_fixed(e, "vec_id", "embedding", k=4, iters=1)
    stored = kmeans_assign_exact(e, c1, "vec_id", "embedding")
    a = {(r["vid"], r["c"]) for r in full.collect()}
    b = {(r["vid"], r["c"]) for r in stored.collect()}
    assert a == b


def test_incremental_semantic_dedup_fold_equals_one_shot(spark, sf_dir):
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import (
        incremental_semantic_dedup,
        semantic_dedup,
        semantic_fit_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    cent = semantic_fit_centroids(e, "vec_id", "embedding", k=4, update_rounds=1)
    one_shot = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in semantic_dedup(
            e, "vec_id", "embedding", k=4, iters=2, threshold=0.35
        ).collect()
    }
    # fold three ascending-id batches against the stored centroids
    state, got = None, set()
    for lo, hi in ((0, 50), (50, 100), (100, 150)):
        batch = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        labeled, state = incremental_semantic_dedup(
            state, batch, cent, "vec_id", "embedding", threshold=0.35
        )
        state = state.localCheckpoint(eager=True)
        got |= {(r["vec_id"], r["cluster"], r["kept"]) for r in labeled.collect()}
    assert got == one_shot
    # semantic_dedup(centroids=...) one-shot over the stored artifact
    # agrees too (the fit-once read path of the SAME computation)
    stored_shot = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in semantic_dedup(
            e, "vec_id", "embedding", threshold=0.35, centroids=cent
        ).collect()
    }
    assert stored_shot == one_shot
