"""Ontology semantic similarity over the MeSH hierarchy — LCA path
distance, Wu-Palmer, and corpus information content (Resnik/Lin).

bran consumes the MeSH hierarchy only as a hypernym *filter* (J3); any
downstream consumer of the constructed KG immediately needs the richer
semantics this module provides: "how related are these two diseases?"
(ontology distance), and "how informative is this concept in THIS
corpus?" (Resnik information content from mention frequencies). All of
it derives from the same ancestor closure the hypernym filter already
builds (graphalgo.ancestor_closure), so the marginal cost at scale is
joins over an already-materialized closure table.

Scale frame (10^8-node ontology, 10^12 mentions):
- The closure is |V|·avg_depth rows (MeSH: depth ≤ ~13) — a *shuffle*
  join table, never broadcast (same rule as triangle_counts' key
  attach).
- `semantic_similarity` self-joins the closure on ancestor: fan-out is
  Σ subtree(a)², concentrated on shallow hot ancestors. That is the
  *output's* inherent size (every ancestrally-related pair), not join
  inefficiency; `max_path` prunes rows post-join and production callers
  should pre-filter to a candidate pair set (join the closure to the
  pairs, not the closure to itself) when they don't want the full
  relatedness table.
- `information_content` is one count aggregate over mentions (partial
  agg, mention-count-sized shuffle) + one closure join + one sum — the
  classic roll-up-a-hierarchy shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bran_spark.operators.graphalgo import ancestor_closure


def _closure_with_self(
    edges: DataFrame, nodes: DataFrame, max_depth: int
) -> DataFrame:
    """(node, ancestor, depth) — shortest-path ancestor closure plus the
    reflexive depth-0 rows, so every node is its own ancestor. `nodes`
    supplies the universe (isolated ontology entries have no edge rows
    but still need self/depth/IC rows)."""
    clo = ancestor_closure(edges, max_depth=max_depth).select(
        F.col("child").alias("node"), "ancestor", "depth"
    )
    self_rows = nodes.select(
        F.col("node"),
        F.col("node").alias("ancestor"),
        F.lit(0).cast("int").alias("depth"),
    )
    return clo.unionByName(self_rows)


def node_depths(
    edges: DataFrame, nodes: DataFrame, max_depth: int = 7,
    closure: DataFrame | None = None,
) -> DataFrame:
    """(node, depth) with depth measured from the forest/DAG root,
    root = 1 (the Wu-Palmer convention that keeps 2·d(lca)/(d(a)+d(b))
    well-defined when the LCA is a root). For a DAG, depth is the
    SHORTEST distance to any root.

    Roots are derived, not declared: a node with no outgoing parent
    edge. The roots/has-parent tables are |V|-sized at full ontology
    scale; their joins are left to Catalyst's size-based strategy — a
    dimension-sized vocabulary (MeSH ~30k) broadcasts under the
    autoBroadcastJoinThreshold, while a 10^8-node ontology exceeds it
    and degrades gracefully to shuffle joins with no code change (no
    broadcast() hint is ever forced here, which is what would OOM)."""
    has_parent = edges.select(F.col("child").alias("node")).distinct()
    roots = nodes.join(has_parent, "node", "left_anti")
    clo = closure if closure is not None else _closure_with_self(edges, nodes, max_depth)
    return (
        clo.join(roots.select(F.col("node").alias("ancestor")), "ancestor")
        .groupBy("node")
        .agg((F.min("depth") + F.lit(1)).cast("int").alias("depth"))
    )


def semantic_similarity(
    edges: DataFrame,
    nodes: DataFrame,
    max_depth: int = 7,
    max_path: int | None = None,
    closure: DataFrame | None = None,
) -> DataFrame:
    """All ancestrally-related node pairs with their lowest common
    ancestor, shortest ancestral path length, and Wu-Palmer similarity:

      path_len(a,b) = min over common ancestors c of d(a,c)+d(b,c)
      lca(a,b)      = the minimizing c (ties → smallest id, so the
                      result is deterministic on true DAGs)
      wup(a,b)      = 2·depth(lca) / (depth(a)+depth(b)),  root depth=1

    One self-join of the closure on the ancestor key + one partial-
    aggregating min(struct) per pair + three depth attaches. wup is
    rounded to 6 dp so the DuckDB twin hash-matches across engines.

    ``closure`` shares a precomputed _closure_with_self frame (its BFS
    rounds are materialized, so all consumers reuse one
    materialization) — composed scorers like Lin otherwise rebuild the
    identical closure per component (r06: q160 built it 3×)."""
    clo = closure if closure is not None else _closure_with_self(edges, nodes, max_depth)
    a = clo.select(
        F.col("node").alias("node_a"), "ancestor", F.col("depth").alias("da")
    )
    b = clo.select(
        F.col("node").alias("node_b"), "ancestor", F.col("depth").alias("db")
    )
    pairs = a.join(b, "ancestor").where(F.col("node_a") < F.col("node_b"))
    if max_path is not None:
        pairs = pairs.where(F.col("da") + F.col("db") <= F.lit(max_path))
    best = pairs.groupBy("node_a", "node_b").agg(
        F.min(
            F.struct((F.col("da") + F.col("db")).alias("path_len"), "ancestor")
        ).alias("best")
    )
    dep = node_depths(edges, nodes, max_depth, closure=clo)
    return (
        best.select(
            "node_a",
            "node_b",
            F.col("best.ancestor").alias("lca"),
            F.col("best.path_len").cast("int").alias("path_len"),
        )
        .join(dep.select(F.col("node").alias("node_a"), F.col("depth").alias("dep_a")), "node_a")
        .join(dep.select(F.col("node").alias("node_b"), F.col("depth").alias("dep_b")), "node_b")
        .join(dep.select(F.col("node").alias("lca"), F.col("depth").alias("dep_lca")), "lca")
        .select(
            "node_a",
            "node_b",
            "lca",
            "path_len",
            F.round(
                2.0 * F.col("dep_lca") / (F.col("dep_a") + F.col("dep_b")), 6
            ).alias("wup"),
        )
    )


def information_content(
    edges: DataFrame,
    nodes: DataFrame,
    occurrences: DataFrame,
    node_col: str = "mesh_id",
    max_depth: int = 7,
    closure: DataFrame | None = None,
) -> DataFrame:
    """Resnik information content from corpus mention frequencies:

      freq(c) = #occurrences of c or any descendant of c
      ic(c)   = -ln(freq(c) / N),   N = total occurrences

    Only nodes with freq > 0 are emitted (IC is undefined at zero).
    The total N rides in as a broadcast 1-row aggregate (the BM25
    corpus-stats idiom) — never a collect in the plan. ic rounds to
    6 dp for cross-engine hashing."""
    cnt = (
        occurrences.select(F.col(node_col).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    clo = closure if closure is not None else _closure_with_self(edges, nodes, max_depth)
    freq = (
        clo.join(cnt, "node")
        .groupBy("ancestor")
        .agg(F.sum("n").alias("freq"))
        .select(F.col("ancestor").alias("node"), F.col("freq").cast("long").alias("freq"))
    )
    total = occurrences.select(F.count(F.lit(1)).alias("_n_total"))
    return freq.join(F.broadcast(total)).select(
        "node",
        "freq",
        F.round(-F.log(F.col("freq") / F.col("_n_total")), 6).alias("ic"),
    )


def lin_similarity(similarity: DataFrame, ic: DataFrame) -> DataFrame:
    """Lin (1998) similarity: 2·IC(lca) / (IC(a)+IC(b)) over the pairs
    `semantic_similarity` produced, using `information_content`'s table.
    Pairs where any of the three ICs is missing (never-mentioned
    concept) or where IC(a)+IC(b)=0 (both nodes cover the whole corpus,
    Lin undefined) are dropped — three shuffle joins on node id, no
    |V|-sized broadcast."""
    return (
        similarity.join(
            ic.select(F.col("node").alias("node_a"), F.col("ic").alias("ic_a")),
            "node_a",
        )
        .join(
            ic.select(F.col("node").alias("node_b"), F.col("ic").alias("ic_b")),
            "node_b",
        )
        .join(
            ic.select(F.col("node").alias("lca"), F.col("ic").alias("ic_lca")),
            "lca",
        )
        .where(F.col("ic_a") + F.col("ic_b") > 0)
        .select(
            "node_a",
            "node_b",
            "lca",
            F.round(
                2.0 * F.col("ic_lca") / (F.col("ic_a") + F.col("ic_b")), 6
            ).alias("lin"),
        )
    )
