"""TrustRank and spam-mass estimation over the link graph.

The reference's anti-spam control is the in-link-ratio edge filter
(pagerank.py:51-57) — a hard structural cut. The published refinement of
the same idea is seed-propagated trust: TrustRank (Gyöngyi, Garcia-Molina,
Pedersen, VLDB'04) biases PageRank's teleport onto a hand-verified seed
set, and spam mass (Gyöngyi et al., VLDB'06) scores each page by how much
of its PageRank does NOT flow from that trusted core:

    m(p) = (PR(p) - TR(p)) / PR(p)

Both are compositions of operators the engine already has — TrustRank IS
personalized PageRank with an indicator-seed vector (operators/pagerank.py
carries the whole fixpoint), and spam mass is one co-keyed join — so the
scale story (broadcast auto-policy, fused per-iteration stats, CSR path
via ``impl='csr'``) is inherited, not re-implemented.

Note on normalization: this engine follows the reference in L2-normalizing
iterates (pagerank.py:140-162), so PR/TR here are L2-unit vectors rather
than the L1 probability vectors of the papers. The spam-mass RATIO is
scale-free in each vector's own normalization; rankings are unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def make_seed_vector(graph, seeds: DataFrame) -> DataFrame:
    """(url, v) — indicator over ``seeds`` (a DataFrame with a ``url``
    column), L1-normalized over the graph's vertex set; urls outside the
    graph are ignored. Mirrors make_personalization_vector but takes an
    explicit seed TABLE (curated trust lists arrive as data, not as a
    substring query)."""
    s = seeds.select(F.col("url").cast("string")).distinct().withColumn("_s", F.lit(1.0))
    v = graph.vertices.join(s, "url", "left").withColumn(
        "v", F.coalesce(F.col("_s"), F.lit(0.0))
    ).drop("_s")
    total = v.agg(F.sum("v")).first()[0]
    if not (total and total > 0):
        raise ValueError("no seed url is a vertex of the graph")
    return v.withColumn("v", F.col("v") / F.lit(float(total)))


def trust_rank(graph, seeds: DataFrame, alpha: float = 0.85, **pagerank_kwargs) -> DataFrame:
    """Converged TrustRank: personalized PageRank with teleport restricted
    to the seed set. Accepts every ``LinkGraph.pagerank`` knob (epsilon,
    max_iterations, metrics, x0_df warm start, ...)."""
    return graph.pagerank(
        alpha=alpha, v_df=make_seed_vector(graph, seeds), **pagerank_kwargs
    )


def spam_mass(pr: DataFrame, tr: DataFrame) -> DataFrame:
    """(url, pagerank, trustrank, spam_mass) from converged PR and TR.

    One equi-join on url — both inputs come out of pagerank() partitioned
    by the vertex key, so no extra exchange at scale. spam_mass near 1
    means the page's rank is almost entirely non-trust-reachable (the
    paper's spam signal); trusted seeds and their neighborhoods sit near 0
    (can go negative when trust concentrates rank above the uniform run —
    kept as-is, exactly the paper's estimator)."""
    p = pr.select("url", F.col("rank").alias("pagerank"))
    t = tr.select("url", F.col("rank").alias("trustrank"))
    return p.join(t, "url").withColumn(
        "spam_mass",
        (F.col("pagerank") - F.col("trustrank")) / F.col("pagerank"),
    )
