"""Power-iteration PageRank as DataFrame joins/aggregations.

Reference semantics (pagerank.py:122-172, "Deeper Inside PageRank" Eq 5.1):

    a_i   = 1 iff vertex i has no out-edges (dangling)
    v     = personalization / ||personalization||_2   (default uniform)
    x_0   = uniform / ||uniform||_2
    per iteration:
        q      = (alpha * x'a + (1 - alpha)) * v      (rank-1 dangling term)
        x_new  = alpha * P' x + q
        x_new /= ||x_new||_2                          (L2, NOT L1!)
        stop when ||x_new - x_prev||_2 < epsilon

Scale design (SURVEY.md §4):
  * ``_power_iterate`` is the one power-iteration driver; ``pagerank`` here
    and ``pagerank_csr`` (operators/pagerank_csr.py) supply only a layout
    (how the rank vector is partitioned) and a step (the SpMV x -> alpha
    P'x + q v). Start-up, resume, stats, normalization, metrics and
    checkpointing are shared.
  * edges are hash-partitioned on src once (LinkGraph) and the rank vector
    keeps the same partitioning on url, so the per-iteration
    edges-join-ranks is co-partitioned; the only unavoidable shuffle is the
    groupBy(dst) combine (map-side partial aggregation applies).
  * all per-iteration scalars (dangling mass, norm, residual) come from ONE
    fused aggregate job over the new vector:
        norm      = sqrt(sum(x_un^2))
        residual  = sqrt(max(0, 2 - 2*sum(x_un*x_prev)/norm))
                    (both x_un/norm and x_prev are unit vectors)
        dangling  = sum(x_un * is_dangling)/norm      (for the NEXT iteration)
    and the new vector is a LAZY localCheckpoint that materializes inside
    that aggregate, so each iteration is ONE Spark job (as is the start
    vector's checkpoint + dangling-mass aggregate).
    The checkpoint truncates lineage (else the plan doubles per iteration);
    durable resumable checkpoints live in plans/checkpoint.py.
  * driver scalars enter the next plan as lit() — Catalyst constant-folds.
  * plans are pinned per query (broadcast/merge hints, explicit partition
    counts, which AQE preserves); never toggle session-global AQE conf —
    concurrent queries on the same session would see it.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _init_state(graph, v_df: DataFrame | None, x0_df: DataFrame | None, n: int) -> DataFrame:
    """Build (url, dangling, v, rank) with v L2-normalized and rank = x0;
    ``n`` is the (nonzero) vertex count.

    dangling detection = LEFT ANTI JOIN of vertices against edge sources
    (reference derives it from all-zero rows of P, pagerank.py:132-134).

    ``x0_df``: optional (url, rank) warm start (reference power_method's x0
    argument, pagerank.py:122,142-145) — L2-normalized here exactly like the
    reference's ``x0 /= torch.norm(x0)``. Vertices absent from x0 start at 0
    (any x0 with nonzero overlap converges to the same fixpoint); the
    streaming rebuild cadence passes the previous snapshot to roughly halve
    iterations per refresh.
    """
    srcs = graph.edges.select(F.col("src").alias("url")).distinct()
    base = graph.vertices.join(
        srcs.withColumn("_nd", F.lit(1)), "url", "left"
    ).select(
        "url",
        F.when(F.col("_nd").isNull(), 1.0).otherwise(0.0).alias("dangling"),
    )
    if v_df is None:
        base = base.withColumn("v", F.lit(1.0 / math.sqrt(n)))
    else:
        # v_df is (url, v) L1-normalized; re-normalize to unit L2
        # (reference power_method does v /= torch.norm(v), pagerank.py:140)
        l2 = v_df.agg(F.sqrt(F.sum(F.col("v") * F.col("v")))).first()[0]
        if not (l2 and l2 > 0):
            raise ValueError("personalization vector v_df is empty or all zero")
        base = base.join(v_df, "url", "left").fillna(0.0, ["v"]).withColumn(
            "v", F.col("v") / F.lit(float(l2))
        )
    if x0_df is None:
        return base.withColumn("rank", F.lit(1.0 / math.sqrt(n)))
    x0 = x0_df.select("url", F.col("rank").alias("_x0"))
    l2x = x0.agg(F.sqrt(F.sum(F.col("_x0") * F.col("_x0")))).first()[0]
    if not l2x or l2x <= 0:
        return base.withColumn("rank", F.lit(1.0 / math.sqrt(n)))
    return (
        base.join(x0, "url", "left")
        .fillna(0.0, ["_x0"])
        .withColumn("rank", F.col("_x0") / F.lit(float(l2x)))
        .drop("_x0")
    )


def pagerank(
    graph,
    alpha: float = 0.85,
    v_df: DataFrame | None = None,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    checkpointer=None,
    metrics: list | None = None,
    broadcast_ranks: bool | None = None,
    x0_df: DataFrame | None = None,
) -> DataFrame:
    """Return (url, rank) with rank the L2-normalized PageRank vector
    (an empty frame for a graph with no vertices).

    ``checkpointer``: optional plans.checkpoint.IterationCheckpointer for
    durable resume; ``metrics``: optional list collecting per-iteration dicts.
    ``v_df``: optional (url, v) personalization; ValueError when it is empty
    or all zero.

    ``broadcast_ranks``: per-iteration join strategy. The rank vector is
    vertex-sized — orders of magnitude smaller than the edge table — so when
    it fits in an executor we can broadcast it and the big side never moves:
    edges stay partitioned in place and the only shuffle per iteration is
    the groupBy(dst) combine. BUT the broadcast build is driver-serial work
    repeated every iteration, so it only wins while the edge side is small:
    measured at local[*] the broadcast mode wins at ~1M edges and LOSES from
    ~10M edges up to the co-partitioned shuffle join against the persisted
    hash(src)+sorted layout (whose per-iteration cost is one vertex-table
    sort + the combine — the cached edge side is joined exchange-free and
    sort-free thanks to LinkGraph's sortWithinPartitions). Auto policy:
    broadcast only when vertices < 10M AND edges < 5M; at cluster scale both
    flags naturally select the shuffle path. Left to the planner, AQE can
    instead choose to broadcast the EDGE table (it often fits the 64 MB
    estimate at test scale), re-serializing the big side every iteration —
    measured 4x slower at 1M edges; that is why the step pins the strategy.
    """
    num_parts = graph.num_partitions

    def plan():
        bcast = broadcast_ranks
        if bcast is None:
            bcast = graph.num_vertices() < 10_000_000 and graph.num_edges() < 5_000_000

        def layout(df):
            return df.repartition(num_parts, "url")

        def step(x, q):
            x_src = x.select(F.col("url").alias("src"), "rank")
            if bcast:
                x_src = F.broadcast(x_src)
            contribs = (
                graph.edges.join(x_src, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("weight") * F.col("rank")).alias("_c"))
            )
            return _fold(x, contribs, x.url == contribs.dst, alpha, q).repartition(
                num_parts, "url"
            )

        return layout, step

    return _power_iterate(
        graph, plan, alpha=alpha, v_df=v_df, x0_df=x0_df, max_iterations=max_iterations,
        epsilon=epsilon, checkpointer=checkpointer, metrics=metrics,
    )


def _fold(x: DataFrame, contribs: DataFrame, cond, alpha: float, q: float) -> DataFrame:
    """x left-joined with its summed in-contributions ``_c``: x's columns
    except rank, plus the unnormalized next iterate ``_xun`` and the
    previous iterate ``_prev``. The merge hint pins the join: left to the
    planner, AQE converts it into a per-iteration broadcast of the
    vertex-sized contribs, whose driver-serial build was measured 2.3x
    slower over the loop (5x at local[32]/10M edges)."""
    return x.join(contribs.hint("merge"), cond, "left").select(
        *(x[c] for c in x.columns if c != "rank"),
        (F.lit(alpha) * F.coalesce(F.col("_c"), F.lit(0.0)) + F.lit(q) * x.v).alias("_xun"),
        x.rank.alias("_prev"),
    )


def _power_iterate(
    graph, plan, *, alpha, v_df, x0_df, max_iterations, epsilon, checkpointer, metrics,
) -> DataFrame:
    """The power method shared by every PageRank path.

    ``plan()`` is called once, after the empty-graph and personalization
    checks (so no path pays set-up, e.g. the CSR spill, for an empty graph
    or a refused v_df), and returns ``(layout, step)``:
    ``layout(df)`` partitions a (url, v, dangling, rank) frame the way
    ``step`` wants it (adding any key columns), and ``step(x, q)`` returns
    x's columns minus rank plus ``_xun`` (alpha P'x + q v) and ``_prev``.
    """
    resumed = checkpointer.try_resume() if checkpointer is not None else None
    if resumed is not None:
        start_iter, x, dangling_mass = resumed
        layout, step = plan()
        x = layout(x)
    else:
        start_iter = 0
        n = graph.num_vertices()
        if n == 0:
            return graph.vertices.select("url", F.lit(0.0).alias("rank"))
        state = _init_state(graph, v_df, x0_df, n)
        layout, step = plan()
        # the LAZY checkpoint materializes inside the dangling-mass aggregate
        x = layout(state).localCheckpoint(eager=False)
        dangling_mass = x.agg(F.sum(F.col("rank") * F.col("dangling"))).first()[0] or 0.0

    prev = x  # frame whose checkpoint blocks back x; released once superseded
    for it in range(start_iter, max_iterations):
        t0 = time.monotonic()
        q = alpha * dangling_mass + (1.0 - alpha)
        # a persist() chain instead of localCheckpoint deadlocks under AQE
        # when the cached plan embeds the per-iteration broadcast exchange
        new = step(x, q).localCheckpoint(eager=False)
        s = new.agg(
            F.sum(F.col("_xun") * F.col("_xun")).alias("s2"),
            F.sum(F.col("_xun") * F.col("_prev")).alias("sp"),
            F.sum(F.col("_xun") * F.col("dangling")).alias("sd"),
        ).first()
        norm = math.sqrt(s["s2"])
        residual = math.sqrt(max(0.0, 2.0 - 2.0 * s["sp"] / norm))
        dangling_mass = (s["sd"] or 0.0) / norm

        x = new.select(
            *(c for c in new.columns if c not in ("_xun", "_prev")),
            (F.col("_xun") / F.lit(norm)).alias("rank"),
        )
        if metrics is not None:
            metrics.append(
                {
                    "iteration": it,
                    "residual": residual,
                    "norm": norm,
                    "dangling_mass": dangling_mass,
                    "wall_s": time.monotonic() - t0,
                }
            )
        if checkpointer is not None:
            out = x.select("url", "v", "dangling", "rank")
            saved = checkpointer.save(it, out, dangling_mass, residual)
            if saved is not out:
                # continue from the durable copy: lineage and memory bounded
                x = layout(saved)
        prev.unpersist()
        prev = new
        if residual < epsilon:
            break

    return x.select("url", "rank")
