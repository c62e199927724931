"""Distributed connected components over a duplicate-pair graph.

The missing piece between pair enumeration (minhash_lsh_pairs,
ngram_jaccard_pairs, simhash_pairs — dedup.py) and cluster-level
dedup decisions: near-duplicate similarity is not transitive, so the
pair set forms a general graph (chains A~B~C where A!~C), and "keep
one document per duplicate CLUSTER" needs the transitive closure.
``minhash_dedup_keep`` (dedup.py:279) uses the one-round star rule
(group by min-neighbor) which is the right O(n) answer for clique-ish
LSH buckets; this module is the general-graph answer.

Algorithm: alternating large-star / small-star label propagation
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14). Each star step is ONE unbounded window-min over the node id
plus the output distinct — no join, no separate groupBy: the per-node
minimum attaches to every edge row in the same shuffle that groups
the rows (r6 rewrite; the former groupBy(min)+join-back shape paid an
extra exchange per star for the join probe side and doubled the AQE
stage count). The edge set provably converges to stars
(node -> component-min) in O(log^2 n) rounds; in practice a handful.
At 100 TB scale every shuffle in a round keys on a node id of the
CURRENT edge list (which only shrinks): per round that is two
window-min passes and two distincts — 4 key-hash shuffles — plus one
tiny digest aggregate. Each round's edge list goes through
``scanutil.reused``, the library's one lineage cut, so the plan does
not grow with the iteration count (the classic iterative-Spark failure
mode).

Spark-first notes: the per-round convergence test compares a
commutative edge-set digest (count + xor of xxhash64) computed
in one tiny aggregate — no exceptAll anti-join, no collect of edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _by_src():
    # built per call: WindowSpec construction needs the live JVM, so a
    # module-level constant would break session-less imports
    return Window.partitionBy("src")


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge, self-loops dropped. No distinct:
    the window-min consumers are duplicate-insensitive and every star
    step ends in its own output distinct (a pre-dedup here would buy
    nothing but one more full-edge-list exchange)."""
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return edges.unionByName(rev).where(F.col("src") != F.col("dst"))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every LARGER neighbor v to
    m = min(neighbors(u) + {u}).  Symmetrizes internally (the paper's
    map step emits both directions each round — after round 1 the edge
    list is directed child->label, and a path graph would otherwise
    lose its edges and mislabel every node as isolated). The per-node
    minimum is an unbounded window-min in the same exchange that
    groups the edges — value-identical to the former groupBy+join."""
    edges = _symmetrize(edges)
    m = F.least(F.col("src"), F.min("dst").over(_by_src()))
    return (
        edges.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large->small, then for each node u attach every
    SMALLER-or-equal neighbor (and u itself) to the minimum.

    With the strict large->small orientation min(dst) < src always
    holds, so the paper's least(src, min) is just the window-min; the
    per-src self edge (src, m) is emitted per ROW and deduplicated by
    the output distinct (duplicate-insensitive, same result)."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    attached = directed.withColumn(
        "m", F.min("dst").over(_by_src())
    )
    return (
        attached.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(attached.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_digest(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is commutative and overflow-free under ANSI mode (a sum of
    # xxhash64 values overflows long); the edge list is distinct so an
    # xor set-digest (plus the count) identifies it
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).head()
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge list.

    Returns one row per NON-ISOLATED node: (node, component) where
    ``component`` is the smallest node id in the node's component (the
    usual canonical label; the component root maps to itself).  Union
    the caller's node universe with ``F.coalesce`` to label isolated
    nodes — see :func:`node_components`.

    Edges may be in any orientation, with duplicates and self-loops;
    node ids must be integral (the min-label order is the id order).
    """
    from .scanutil import reused

    # no up-front symmetrize: _large_star symmetrizes internally every
    # round, so a pre-pass would only add a full-edge-list shuffle.
    e = reused(
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
    )
    digest = _edge_digest(e)
    for _ in range(max_iter):
        e = reused(_small_star(_large_star(e)))
        d2 = _edge_digest(e)
        if d2 == digest:
            break
        digest = d2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(theoretical bound is O(log^2 n); raise max_iter)"
        )
    # converged edge set is a union of stars child->root; roots appear
    # only on the dst side, so add their self-mapping
    children = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return children.unionByName(roots).distinct()


def node_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Component label for EVERY node in ``nodes`` (isolated nodes map
    to themselves).  Output: (node, component)."""
    comp = connected_components(edges, src=src, dst=dst, max_iter=max_iter)
    n = nodes.select(F.col(node_col).cast("long").alias("node")).distinct()
    return n.join(comp, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 25,
) -> DataFrame:
    """Keep exactly one row per duplicate CLUSTER — the minimum id
    AMONG ``df``'s rows — where clusters are the connected components
    of the near-duplicate pair graph: the transitive-closure-correct
    generalization of ``minhash_dedup_keep``'s one-round star rule.

    ``pairs`` may reference ids absent from ``df`` (e.g. pairs were
    enumerated on a superset corpus before a quality filter): the
    representative is elected per component among the ids ``df``
    actually holds, so every cluster with at least one ``df`` row
    keeps exactly one survivor.

    Output: the surviving rows of ``df`` (all original columns).
    """
    comp = node_components(
        pairs, df.select(id_col), node_col=id_col,
        src=left_col, dst=right_col, max_iter=max_iter,
    )
    keep = comp.groupBy("component").agg(
        F.min("node").alias(id_col)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")
