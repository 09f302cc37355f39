"""Connected components via alternating large-star / small-star (M4).

The reference's transitive clustering is trivial — entities sharing a
Wikidata QID become one owl:sameAs equivalence class with the first URI as
canonical (link_entities.py:741-754). At 10^12-turn scale the match-edge
graph needs a real distributed CC: we implement the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) as a driver loop of DataFrame
aggregations/joins.

Node ids are the label strings themselves, ordered lexicographically — the
component root is the minimum label, mirroring the reference's
"first URI = canonical" convention. (At extreme scale one would dictionary-
encode labels to longs first; strings keep ids deterministic and
collision-free, and distinct-label cardinality is orders of magnitude
smaller than turn cardinality.)

Each iteration `localCheckpoint`s to truncate lineage; convergence is
detected with a cheap (count, hash-sum) fingerprint of the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 50


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient (u, v) with u > v, drop self-loops, dedupe."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u over its <=-neighbors: link them all to the minimum."""
    d = _canonical(edges)  # u > v
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    j = d.join(mins, "u")
    relink = j.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    keep = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.unionByName(keep).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal sum: xxhash64 values overflow a long sum under ANSI mode
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(spark, edge_rows) -> DataFrame:
    """Small-graph fast path: union-find the collected edge rows on the
    driver, broadcast the assignment back. Semantically identical to the
    distributed loop (root = min label); property-tested against it."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = sorted([ru, rv])
            parent[hi] = lo
    if not parent:
        return spark.createDataFrame([], "label string, cluster_id string")
    out = [(x, find(x)) for x in parent]
    return spark.createDataFrame(out, ["label", "cluster_id"])


# Below this edge count, collecting to the driver and union-finding beats
# the iterative loop's fixed per-action overhead by ~10x. The distributed
# loop is the scale path (distinct-label edge sets at 10^12 turns exceed
# any driver); the threshold only moves the crossover, never the
# semantics (same min-label root; property-tested against each other).
DRIVER_CC_THRESHOLD = 200_000


def connected_components(
    edges: DataFrame,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    """Edge list (u:string, v:string) -> assignment (label, cluster_id).

    cluster_id is the lexicographic minimum label of the component. Nodes
    appearing only as isolated self-edges map to themselves.
    """
    # lazy localCheckpoint: the fingerprint action below materializes it,
    # so each iteration costs exactly one Spark action
    e = _canonical(edges.select("u", "v")).localCheckpoint(eager=False)
    if driver_threshold:
        # ONE job decides the path AND feeds the fast path: collect up to
        # threshold+1 rows — if the limit is not exceeded we already hold
        # the entire edge set, so the previous separate count() job is
        # free. Over-threshold graphs pay one bounded 200k-row collect
        # before the distributed loop (driver-safe by construction).
        probe = e.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _driver_union_find(edges.sparkSession, probe)
    prev = (-1, 0)
    for _ in range(MAX_ITERATIONS):
        e = _large_star(e)
        e = _small_star(e).localCheckpoint(eager=False)
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover
        raise RuntimeError(f"CC did not converge in {MAX_ITERATIONS} iterations")

    # converged edge set is a star graph: u (member) -> v (root)
    members = e.select(F.col("u").alias("label"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("label"), F.col("v").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def assign_clusters(labels: DataFrame, edges: DataFrame,
                    label_col: str = "canon_label") -> DataFrame:
    """All distinct labels + match edges -> (label, cluster_id), where
    unmatched labels become singleton clusters rooted at themselves."""
    comp = connected_components(
        edges.select(F.col("label_a").alias("u"), F.col("label_b").alias("v"))
    )
    base = labels.select(F.col(label_col).alias("label")).distinct()
    return (
        base.join(comp, "label", "left")
        .select("label", F.coalesce("cluster_id", "label").alias("cluster_id"))
    )
