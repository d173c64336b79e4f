"""Connected components over a candidate-pair edge list — the cluster-
resolution stage that turns near-dup PAIRS (MinHash-LSH, n-gram Jaccard,
embedding sign-LSH) into duplicate CLUSTERS with one canonical survivor.

The reference pipeline never needed this (its dedup is exact-key groupBy,
SURVEY.md §2.5), but any corpus-scale dedup does: LSH emits edges, and
"keep one doc per component" requires the transitive closure.

Spark-first strategy: the **alternating large-star / small-star algorithm**
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
NOT naive label propagation. Label propagation converges in O(diameter)
rounds, which on a pathological chain of near-dups is O(n); alternation
converges in O(log² n) rounds on any graph. Each half-round is one shuffle
(a whole-partition min window keyed by node) plus a distinct — no joins, no
driver-side graph state, edge-list memory bounded by the input size
throughout (large-star never grows the edge multiset beyond 2|E|).

The rounds run through ``fixpoint.iterate``, which materializes the edge
set every round; without that the iterated plan re-executes from the scan
each round and the DAG depth grows unboundedly. Convergence is detected by
an order-insensitive edge-set signature (count + sum of xxhash64), one
tiny aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import iterate, materialize


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(Γ(u) ∪ {u}).

    No dedup here: the output is a bounded multiset (≤ one row per
    symmetric-edge row, so ≤ 2|E|), the following small-star's window
    min is multiset-insensitive, and small-star's closing DISTINCT
    restores the set — dropping the intermediate distinct removes one
    full exchange per round (measured ~20-30% off the whole loop at
    sf0.1 with identical results)."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.col("u"), F.min("v").over(w))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point all edges large→small, then connect Γ(u) ∪ {u} to its min."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    m = F.least(F.col("u"), F.min("v").over(w))
    with_m = directed.withColumn("m", m)
    nbr = with_m.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = with_m.select("u", F.col("m").alias("v"))
    return (
        nbr.union(self_edge)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = the
    minimum node id reachable from it. Deterministic, total over edge
    endpoints (isolated docs never enter an edge list — union them in with
    component = own id downstream if needed).

    Each round runs large-star then small-star and compares an
    order-insensitive signature of the small-star output; fixed point of
    small-star = a forest of depth-1 stars rooted at component minima.
    """
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    if not edges.head(1):
        return edges.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )

    sigs = [None]  # edge-set signature after each round

    def stable(e: DataFrame) -> bool:
        row = e.agg(
            F.count("*").alias("n"),
            # decimal(38,0) sum: long-sum of 64-bit hashes overflows ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).head()
        sigs.append((row["n"], row["h"]))
        return sigs[-1] == sigs[-2]

    edges = iterate(
        edges, lambda e, _r: _small_star(_large_star(e)), max_rounds, until=stable
    )
    if len(sigs) < 2 or sigs[-1] != sigs[-2]:
        # interpreting a non-converged edge set as a star forest assigns
        # wrong component ids — fail loudly instead (O(log^2 n) rounds is
        # the bound; 25 covers any realistic n, so this firing means the
        # input is adversarial or max_rounds was lowered)
        raise RuntimeError(
            f"connected_components signature did not stabilize in "
            f"{max_rounds} rounds; raise max_rounds"
        )

    # Star edges point node → root (root itself holds the min as v == root
    # only via the self row filtered above), so add each root's own row.
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return members.union(roots).distinct()


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster summary over near-dup pairs: one row per duplicate cluster
    with (component, n_docs, keep_id). keep_id = min id — the canonical
    survivor; every other member is droppable. The downstream anti-join
    (corpus ⟕ anti members-minus-keepers) is the actual dedup."""
    cc = connected_components(pairs, src, dst)
    return cc.groupBy("component").agg(
        F.count("*").alias("n_docs"), F.min("node").alias("keep_id")
    )


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """The user-facing end of the dedup stack: drop every near-duplicate
    except one canonical survivor per cluster. Composition of the pieces
    above — components over the candidate pairs, keep_id = min per cluster,
    then ONE broadcast-friendly anti-join against the corpus (the drop set
    is |duplicates|-sized, ≪ corpus). Docs that appear in no pair pass
    through untouched."""
    cc = connected_components(pairs, src, dst)
    keep = cc.groupBy("component").agg(F.min("node").alias("keep_id"))
    drop = (
        cc.join(keep, "component")
        .where(F.col("node") != F.col("keep_id"))
        .select("node")
    )
    return docs.join(
        drop, docs[id_col] == drop["node"], "left_anti"
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 split coin is drawn on
    the near-dup CLUSTER id, not the document id, so every member of a
    duplicate cluster lands in the SAME split. Splitting on doc ids
    leaks — near-identical copies of one page straddle train and test
    and inflate eval (the classic contamination bug dedup-then-split
    pipelines exist to prevent; this operator makes the safe order a
    single step).

    Composition: connected components over the candidate ``pairs``
    (large-star/small-star, O(log² n) rounds) label the clustered docs;
    isolated docs fall back to their own id via left join + coalesce —
    no |V|-sized structure is ever collected. Returns
    (doc_id, cluster, split) with split ∈ train|val|test at approximately
    train_pct/val_pct/remainder percent OF CLUSTERS (clusters, not docs,
    are the i.i.d. units — exactly the point)."""
    comp = connected_components(pairs)
    labeled = docs.select(F.col(id_col).alias("doc_id")).join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster"),
    )
    coin = (
        F.conv(F.substring(F.md5(F.col("cluster").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return labeled.withColumn(
        "split",
        F.when(coin < train_pct, F.lit("train"))
        .when(coin < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def dedup_savings(
    docs: DataFrame,
    pairs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source dedup accounting — the report that justifies (or kills)
    a dedup stage to the pipeline owner: how many documents and TOKENS
    each source loses to near-duplicate collapse. Template-heavy sources
    routinely lose 30-60% of tokens while curated ones lose ~0, and the
    per-source split is what locates the problem feed.

    Composition of the stack above: dedup_corpus picks survivors
    (components → min-id keep → broadcast anti-join), then BOTH the full
    corpus and the survivor set aggregate per source (two map-side-
    combined aggregates over dimension-scale group keys; the token count
    rides the same scans). Returns (grp, n_docs, n_kept, tokens,
    tokens_kept, savings_frac = 1 − tokens_kept/tokens), 6 dp."""
    from bran_spark.functions.text import token_count

    def per_group(d: DataFrame, n_name: str, t_name: str) -> DataFrame:
        return d.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.sum(token_count(text_col)).cast("long").alias(t_name),
        )

    kept = dedup_corpus(docs, pairs, id_col=id_col)
    return (
        per_group(docs, "n_docs", "tokens")
        .join(per_group(kept, "n_kept", "tokens_kept"), "grp", "left")
        .select(
            "grp",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "tokens",
            F.coalesce("tokens_kept", F.lit(0)).cast("long").alias(
                "tokens_kept"
            ),
            F.round(
                1
                - F.coalesce("tokens_kept", F.lit(0))
                / F.col("tokens").cast("double"),
                6,
            ).alias("savings_frac"),
        )
    )
