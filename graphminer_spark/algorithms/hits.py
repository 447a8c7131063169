"""HITS (hubs & authorities) and local clustering coefficient.

Link-graph companions to PageRank (Kleinberg JACM'99): authority =
in-sum of hub scores, hub = out-sum of authority scores, L1-normalized
each half-step. Same superstep shape as ``pagerank`` — one equi-join +
one aggregate per half-step over the persisted edge table — so the
plan scales identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, superstep_planning


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    n_iter: int = 5,
    checkpointer: CheckpointManager | None = None,
) -> DataFrame:
    """``(id, hub, auth)`` after ``n_iter`` HITS iterations over the
    directed ``edges(src, dst)``; both score vectors L1-normalize to
    1.0 every half-step (the convergent formulation).

    Durable-checkpoint layout: EVERY saved iteration (including 0) is
    ``(id, auth, h_raw)`` — ``h_raw`` UNnormalized (its sum is computed
    in the same materializing aggregate; at iteration 0 the uniform
    scores already sum to 1, so h_raw = hub there). A consumer resuming
    from ``CheckpointManager.latest()`` derives
    ``hub = h_raw / sum(h_raw)`` with one scan, at any iteration —
    one schema, no per-iteration branching."""
    from graphminer_spark.checkpoint import materialize_with_agg

    ckpt = checkpointer or CheckpointManager(None, release_chain=True)
    verts = vertices.select("id").repartition("id").persist()
    n = verts.count()
    # the two half-steps join on DIFFERENT keys (src for the authority
    # gather, dst for the hub gather) — persist one copy per layout so
    # neither half-step re-shuffles the edge table (the score side is
    # one row per vertex and already arrives partitioned by id)
    e_src = edges.select("src", "dst").repartition("src").persist()
    e_dst = edges.select("src", "dst").repartition("dst").persist()
    m = e_src.count()
    e_dst.count()

    # saved in the SAME (id, auth, h_raw) layout as every fused
    # iteration (uniform scores sum to 1, so h_raw IS the hub score);
    # the in-loop state derives hub from it
    state0 = verts.select(
        "id", F.lit(1.0 / n).alias("auth"), F.lit(1.0 / n).alias("h_raw")
    )
    state = ckpt.save(state0, 0, {"algo": "hits"}).select(
        "id", F.col("h_raw").alias("hub"), "auth"
    )
    # ONE action per half-step (2 per iteration): the half-step state is
    # materialized with the UNnormalized score column, and the same
    # aggregate job returns the normalization sum — the next projection
    # divides by it as a literal, so there is no separate collect.
    with superstep_planning(edges.sparkSession, m):
        for it in range(1, n_iter + 1):
            auth_raw = (
                e_src.join(
                    state.select(F.col("id").alias("src"), "hub"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("a_raw"))
            )
            half, row = materialize_with_agg(
                state.select("id", "hub").join(auth_raw, "id", "left"),
                F.sum("a_raw").alias("s"),
            )
            ckpt._note(half)  # read only by this iteration's full step
            a_sum = row["s"] or 1.0
            with_auth = half.select(
                "id",
                "hub",
                (F.coalesce("a_raw", F.lit(0.0)) / a_sum).alias("auth"),
            )
            hub_raw = (
                e_dst.join(
                    with_auth.select(F.col("id").alias("dst"), "auth"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("auth").alias("h_raw"))
            )
            # full step goes through the CheckpointManager so durable
            # cadence still lands parquet states (the saved layout carries
            # the UNnormalized h_raw + its sum is re-derivable by scan)
            full, row = ckpt.save_and_agg(
                with_auth.select("id", "auth")
                .join(hub_raw, "id", "left")
                .withColumn("h_raw", F.coalesce("h_raw", F.lit(0.0))),
                it,
                {"algo": "hits"},
                [F.sum("h_raw").alias("s")],
            )
            h_sum = row["s"] or 1.0
            state = full.select(
                "id",
                (F.col("h_raw") / h_sum).alias("hub"),
                "auth",
            )
    verts.unpersist()
    e_src.unpersist()
    e_dst.unpersist()
    return state


def salsa(
    edges: DataFrame,
    vertices: DataFrame,
    n_iter: int = 5,
    checkpointer: CheckpointManager | None = None,
) -> DataFrame:
    """SALSA (Lempel–Moran, "The stochastic approach for link-structure
    analysis", WWW'00) → ``(id, hub, auth)`` after ``n_iter``
    iterations: HITS with degree-normalized contributions, i.e. the
    power iteration of the bipartite random walk

        auth(v) = Σ_{u→v} hub(u)  / outdeg(u)
        hub(u)  = Σ_{u→v} auth(v) / indeg(v)

    L1-normalized every half-step (exact SALSA preserves the L1 mass,
    but dangling hubs/authorities leak it; explicit normalization is
    the convergent formulation, as in :func:`hits`).

    Plan: the degree-annotated edge table ``(src, dst, od, idg)`` is
    built ONCE and persisted; each half-step is then one equi-join +
    one partial-combinable aggregate — identical shuffle shape and
    superstep fusion (ONE driver action per half-step) as
    :func:`hits`/PageRank, so it scales the same way.
    """
    from graphminer_spark.checkpoint import materialize_with_agg

    ckpt = checkpointer or CheckpointManager(None, release_chain=True)
    verts = vertices.select("id").repartition("id").persist()
    n = verts.count()
    od = edges.groupBy("src").agg(F.count("*").alias("od"))
    idg = edges.groupBy("dst").agg(F.count("*").alias("idg"))
    ew = edges.select("src", "dst").join(od, "src").join(idg, "dst")
    # one persisted copy per half-step join key (see `hits`): the
    # degree-annotated edge table never re-shuffles inside the loop
    e_src = ew.repartition("src").persist()
    e_dst = ew.repartition("dst").persist()
    m = e_src.count()
    e_dst.count()
    state = ckpt.save(
        verts.select(
            "id", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
        ),
        0,
        {"algo": "salsa"},
    )
    with superstep_planning(edges.sparkSession, m):
        for it in range(1, n_iter + 1):
            a_raw = (
                e_src.join(state.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("hub") / F.col("od")).alias("a_raw"))
            )
            half, row = materialize_with_agg(
                state.select("id", "hub").join(a_raw, "id", "left"),
                F.sum("a_raw").alias("s"),
            )
            ckpt._note(half)  # read only by this iteration's full step
            a_sum = row["s"] or 1.0
            with_auth = half.select(
                "id",
                "hub",
                (F.coalesce("a_raw", F.lit(0.0)) / a_sum).alias("auth"),
            )
            h_raw = (
                e_dst.join(
                    with_auth.select(F.col("id").alias("dst"), "auth"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("auth") / F.col("idg")).alias("h_raw"))
            )
            full, row = ckpt.save_and_agg(
                with_auth.select("id", "auth")
                .join(h_raw, "id", "left")
                .withColumn("h_raw", F.coalesce("h_raw", F.lit(0.0))),
                it,
                {"algo": "salsa"},
                [F.sum("h_raw").alias("s")],
            )
            h_sum = row["s"] or 1.0
            state = full.select(
                "id", (F.col("h_raw") / h_sum).alias("hub"), "auth"
            )
    verts.unpersist()
    e_src.unpersist()
    e_dst.unpersist()
    return state


def clustering_coefficient(
    canonical_edges: DataFrame, dag: DataFrame
) -> DataFrame:
    """Per-vertex triangle count and local clustering coefficient in
    basis points: ``lcc_bp = (10000 · 2 · tri(v)) // (deg(v)·(deg(v)−1))``
    for vertices with deg ≥ 2 (integer arithmetic → exact cross-engine
    agreement). tri(v) derives from the shared triangle enumeration;
    no per-vertex adjacency materialization.
    """
    from graphminer_spark.algorithms.triangles import enumerate_triangles
    from graphminer_spark.graph.build import degrees, symmetrize

    deg = degrees(symmetrize(canonical_edges, dedup=False))
    tri = enumerate_triangles(dag)
    per_v = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_v, "id", "left")
        .select(
            "id",
            F.coalesce("tri_cnt", F.lit(0)).alias("tri_cnt"),
            # `div` = exact BIGINT division (matches DuckDB's `//`);
            # float division + floor would risk off-by-one at the ulp
            F.expr(
                "(20000 * coalesce(tri_cnt, 0)) div (deg * (deg - 1))"
            ).alias("lcc_bp"),
        )
    )
