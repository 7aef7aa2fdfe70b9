"""Near-duplicate cluster assignment — connected components over the
dedup pair graph.

Pair lists (from any dedup operator) say "a duplicates b"; keeping one
representative per *transitive* group needs connected components:
cluster id = min doc_id reachable through pairs. Spark has no
recursive CTE, so this is one of the engine's driver-coordinated
iterative loops (as are the BPE merge rounds, k-means and the graph
queries): label propagation (each node takes the min label among
itself and its neighbors) to fixpoint — O(diameter) rounds, each one
join + one aggregation, and each round's labels local-checkpointed so
round k's plan does not embed rounds 1..k-1. The DuckDB oracle
computes the same clusters with a recursive CTE, making this a true
differential test of an iterative operator.

Scale notes: label propagation is the standard large-graph CC
approach (GraphX/GraphFrames use the same shape); each round shuffles
only (node, label) pairs. Dedup graphs are shallow (near-dup clusters
are cliques or near-cliques), so rounds ≈ 2-3 in practice, and
MAX_ROUNDS bounds the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from .dedup import DEDUP_NGRAM_JACCARD_SQL, dedup_ngram_jaccard

MAX_ROUNDS = 20


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node) + (a, b) edges → (node, cluster) with cluster = min
    reachable node id. Deterministic; singletons keep their own id."""
    # persist the loop-invariant edges and checkpoint each round's
    # labels: the per-round `changed` probe is an ACTION, and without
    # them it would re-execute the whole upstream lineage (pair
    # generation included) once per round, with round k replaying
    # rounds 1..k-1 — the classic iterative-algorithm lineage blowup.
    # So every round costs one join + one aggregation regardless of
    # depth.
    sym = (edges.select(F.col("a").alias("n"), F.col("b").alias("m"))
           .union(edges.select(F.col("b").alias("n"), F.col("a").alias("m")))
           .persist())
    # materialize sym BEFORE the first round: that round's job would
    # otherwise fill the sym cache while its branches each recompute
    # the (expensive) edge lineage — pair generation ran twice per CC
    # invocation until the order was forced (measured 21 s → 13 s
    # first-run at sf0.1)
    sym.count()
    labels = nodes.select(F.col("node").alias("n"),
                          F.col("node").alias("label"))
    for _ in range(MAX_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym.m == labels.n)
            .groupBy(sym.n.alias("nn"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.n == F.col("nn"), "left")
            .select(
                "n",
                F.least(F.col("label"),
                        F.coalesce(F.col("nbr_label"), F.col("label")))
                .alias("label"),
                # carry the convergence flag ON the label row: the
                # per-round changed-probe then reads the already
                # checkpointed frame instead of re-joining old vs new
                # labels (was one extra join + shuffle per round)
                (F.coalesce(F.col("nbr_label"), F.col("label"))
                 < F.col("label")).alias("chg"),
            )
            # lazy localCheckpoint (r12): still truncates the logical
            # plan so round k's plan doesn't embed rounds 1..k-1
            # (planning time alone goes superlinear otherwise), but
            # materialization rides the convergence probe below —
            # one job per round instead of two. Safe ONLY because the
            # probe is a full aggregate (computes every partition);
            # a limit()-style probe could leave checkpoint partitions
            # uncomputed with their lineage already truncated.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(
            F.sum(F.col("chg").cast("int"))).collect()[0][0] or 0
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("n").alias("node"),
                         F.col("label").alias("cluster"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for every document participating in a
    near-dup pair (n-gram Jaccard graph): doc_id → cluster id (min
    doc_id of its component), plus cluster size."""
    # tracked persist: the near-dup pair list feeds the symmetrized
    # edge table AND the node set AND (without it) would re-run the
    # whole capped-blocking ngram pipeline under each branch
    from ..cache import pin
    pairs = pin(dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))
    nodes = (pairs.select(F.col("a").alias("node"))
             .union(pairs.select(F.col("b").alias("node"))).distinct())
    cc = connected_components(pairs, nodes)
    sizes = cc.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (cc.join(sizes, "cluster")
            .select(F.col("node").alias("doc_id"), "cluster", "cluster_size"))


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a AS a, doc_b AS b FROM ({DEDUP_NGRAM_JACCARD_SQL})
),
edges AS (
    SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
),
nodes AS (
    SELECT DISTINCT a AS node FROM edges
),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
),
cc AS (
    SELECT node, MIN(r) AS cluster FROM reach GROUP BY node
)
SELECT cc.node AS doc_id, cc.cluster,
       s.cluster_size
FROM cc
JOIN (SELECT cluster, COUNT(*) AS cluster_size
      FROM cc GROUP BY cluster) s USING (cluster)
"""

register("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_SQL)


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision per near-duplicate document — the pass that
    turns cluster assignments into an actual dedup: within each
    cluster exactly one document survives, chosen by quality
    (longest `n_chars`, ties to the smallest doc_id — a deterministic
    stand-in for a model quality score). Output is one row per
    clustered document with its cluster and an `is_kept` flag; the
    downstream corpus build is `documents ⋉ (is_kept=1 ∪ unclustered)`.

    Scale: the cluster table is pair-graph-sized (≪ corpus); the
    survivor choice is one max_by aggregation per cluster plus a
    broadcast-joinable winner table — no window over the corpus."""
    clustered = dedup_clusters(spark, sf_dir)
    cat = Catalog(spark, sf_dir)
    with_q = clustered.join(
        cat.documents.select("doc_id", "n_chars"), "doc_id")
    # one scalar ordering key (quality major, doc_id-desc minor) so the
    # DuckDB oracle's arg_max sees the identical comparison: n_chars
    # ≤ ~1e5 and doc_id ≪ 1e12, so the encoding is collision-free
    winners = (
        with_q.groupBy("cluster")
        .agg(F.max_by(
            F.col("doc_id"),
            F.col("n_chars") * F.lit(1_000_000_000_000)
            - F.col("doc_id")).alias("keep_id"))
    )
    return (
        with_q.join(F.broadcast(winners), "cluster")
        .select(
            "doc_id", "cluster", "cluster_size",
            F.when(F.col("doc_id") == F.col("keep_id"), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("is_kept"),
        )
    )


DEDUP_SURVIVORS_SQL = f"""
WITH clustered AS ({DEDUP_CLUSTERS_SQL}),
winners AS (
    SELECT cluster,
           arg_max(c.doc_id,
                   d.n_chars * 1000000000000 - c.doc_id) AS keep_id
    FROM clustered c JOIN documents d ON d.doc_id = c.doc_id
    GROUP BY cluster
)
SELECT c.doc_id, c.cluster, c.cluster_size,
       CAST(CASE WHEN c.doc_id = w.keep_id THEN 1 ELSE 0 END AS BIGINT)
           AS is_kept
FROM clustered c JOIN winners w USING (cluster)
"""

register("dedup_survivors", dedup_survivors, DEDUP_SURVIVORS_SQL)
