"""Graph analytics over the materialized entity graph — PageRank, triangle
counting, and multi-source BFS. The reference stops at the triple table
(SURVEY.md §2: bran emits (subj, pred, obj) and evaluates F1); any consumer
of a constructed KG immediately needs centrality / clustering / reachability
over it, so these are first-class operators here.

Spark-first design notes (all three are iterative or multi-join — the
classic shuffle hazards):

- **PageRank** runs in *fixed-point integer arithmetic* (rank scaled by
  10^12, damping 85/100 applied with integer DIV). Integer sums are exactly
  associative/commutative, so the result is bit-identical regardless of
  partitioning, task order, or engine — which is what makes the DuckDB
  oracle twin hash-exact (float PageRank would drift with reduction order).
  Production would flip ``scale`` to floats for speed; the plan shape is the
  same. Each iteration is ONE shuffle (groupBy dst); degrees ride along in
  the rank table so no per-iteration dimension join appears.

- **Triangle counting** uses the degree-ordered orientation (each edge
  directed from its lower-(degree, id) endpoint), which bounds the wedge
  fan-out by O(m^1.5) total instead of O(sum deg^2) — the difference between
  feasible and not on a skewed graph. The projection step that builds the
  co-occurrence graph applies a hot-node df-cut first (same Zipf argument as
  dedup.ngram_jaccard_pairs): a disease shared by d chemicals contributes
  C(d,2) projected edges and up to C(d,3) triangles, so unbounded d is a
  quadratic/cubic blowup. The cut set is tiny → broadcast anti-join.
  Per-node counts are orientation-independent, so the DuckDB twin can use
  the naive u<v formulation and still hash-match.

- **BFS** expands only the *frontier* discovered last round (not the whole
  visited set), one shuffle per hop, bounded hops — distances are small
  ints, exactly reproducible.

Every iterative operator runs its rounds through ``fixpoint.iterate`` and
every materialization goes through ``fixpoint.materialize`` (see that
module): fixed-round loops compose lazily until their plan passes a size
bound, loops with a convergence test materialize each round. Inputs that
a loop re-reads every round are materialized once on entry.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import (
    converge,
    iterate,
    materialize,
    row_count_unchanged,
)

PR_SCALE = 10**12      # fixed-point rank unit (1.0 == 10^12)
PR_DAMP_NUM = 85       # damping factor 0.85 as a ratio — integer math only
PR_DAMP_DEN = 100


def symmetric_edges(pairs: DataFrame, src: str = "subj", dst: str = "obj") -> DataFrame:
    """Undirected edge list as both directions, distinct: (u, v)."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _search(first: DataFrame, expand, rounds: int) -> DataFrame:
    """Level-synchronous search: round r runs ``expand(frontier, seen, r)``
    — the rows first reached at round r, given last round's frontier and
    everything seen so far — and the search stops early once a round
    reaches nothing. Returns every row reached, ``first`` included.

    ``seen`` is a plain union of the materialized frontiers: materializing
    the union every round would copy all earlier rows again."""
    found: list[DataFrame] = []

    def step(frontier: DataFrame, r: int) -> DataFrame:
        found.append(frontier)
        return expand(frontier, _union_all(found), r)

    last = iterate(first, step, rounds, until=DataFrame.isEmpty)
    return _union_all(found + [last])


def pagerank_fixed_point(
    sym: DataFrame, iters: int = 5, scale: int = PR_SCALE
) -> DataFrame:
    """(entity, rank_fp) after ``iters`` synchronous PageRank iterations on
    the symmetric edge list, in exact integer arithmetic.

    rank_0 = scale for every node; each step
    rank'(v) = (15·scale) DIV 100 + (85·Σ_u rank(u) DIV deg(u)) DIV 100.
    Every node in a symmetric edge list has deg ≥ 1, so there is no dangling
    mass. Overflow headroom: Σ contribs ≤ N·scale; 85·N·scale must stay
    under 2^63 → fine to ~10^5 nodes at scale=10^12 (drop scale for more).
    """
    base = scale * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    # materialize the edge list ONCE — it is re-joined every iteration, and
    # without this the whole upstream DAG (scan → mentions → pairs) would
    # re-execute per round
    sym = materialize(sym)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))

    # ranks carry deg so each iteration is edge-join + one groupBy shuffle;
    # the rank chain reads the last round once, so it composes lazily and
    # one action runs every round (AQE reuses the repeated sym/deg stages)
    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = sym.join(ranks, "u").select(
            F.col("v").alias("u"), F.expr("rank DIV deg").alias("c")
        )
        sums = contrib.groupBy("u").agg(F.sum("c").alias("s"))
        return deg.join(sums, "u", "left").select(
            "u",
            "deg",
            (
                F.lit(base)
                + F.expr(f"({PR_DAMP_NUM} * coalesce(s, 0L)) DIV {PR_DAMP_DEN}")
            ).cast("long").alias("rank"),
        )

    ranks = iterate(deg.withColumn("rank", F.lit(scale).cast("long")), step, iters)
    return ranks.select(F.col("u").alias("entity"), F.col("rank").alias("rank_fp"))


def project_bipartite(
    pairs: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_pivot_deg: int = 25,
) -> DataFrame:
    """Co-occurrence projection onto the ``src`` side: (u, v) with u < v iff
    some ``dst`` node links both. Pivot nodes with degree > max_pivot_deg are
    dropped FIRST (broadcast anti-join of the tiny hot set) — each pivot of
    degree d yields C(d,2) edges, so the cut is the quadratic-blowup bound."""
    # materialized once: consumed by the hot-pivot pass and both self-join
    # sides — lazily the distinct re-ran per reference
    e = materialize(
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("p")).distinct()
    )
    hot = (
        e.groupBy("p")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") > max_pivot_deg)
        .select("p")
    )
    kept = e.join(F.broadcast(hot), "p", "left_anti")
    a = kept.select(F.col("s").alias("u"), "p")
    b = kept.select(F.col("s").alias("v"), "p")
    return (
        a.join(b, "p")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an undirected (u, v) edge list:
    (src, dst, kdst) with every edge pointing from its lower-(deg, id)
    endpoint. Split out of ``triangle_counts`` so the key-attach join
    strategy is plan-testable BEFORE the lineage-truncating checkpoint
    (tests/test_graphalgo.py asserts no BroadcastExchange)."""
    sym = symmetric_edges(edges, "u", "v")
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    keyed = deg.select(
        F.col("u").alias("node"),
        F.struct(F.col("deg"), F.col("u").alias("id")).alias("k"),
    )
    ku = keyed.withColumnRenamed("node", "u")
    kv = keyed.select(F.col("node").alias("v"), F.col("k").alias("kv"))
    # shuffle_hash hint: one shuffle each side, no sort, and Catalyst
    # never auto-broadcasts the |V|-sized key table
    ku, kv = ku.hint("shuffle_hash"), kv.hint("shuffle_hash")
    e = edges.join(ku, "u").withColumnRenamed("k", "ku").join(kv, "v")
    lt = F.col("ku") < F.col("kv")
    return e.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lt, F.col("kv")).otherwise(F.col("ku")).alias("kdst"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(entity, n_triangles) over an undirected edge list given as (u, v)
    with u < v. Degree-ordered orientation: every edge points from its
    lower-(deg, id) endpoint, every triangle is enumerated exactly once as a
    wedge at its lowest-key apex plus the closing edge.

    The degree-key attach joins a |V|-sized table against the edges as a
    plain shuffle join (``shuffle_hash`` hint so Catalyst never
    auto-broadcasts it) — |V| can be 10^8+ on a web-scale entity graph,
    far past any driver/executor broadcast budget."""
    # edges feed the degree pass AND the two key-attach joins — a lazy
    # caller plan (e.g. q57's bipartite projection) would re-execute per
    # reference
    edges = materialize(edges)
    # consumed by three branches below
    oriented = materialize(oriented_edges(edges))
    w1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("kdst").alias("kb")
    )
    w2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("kdst").alias("kc")
    )
    # wedge (a; b, c) with key(b) < key(c) — the closing edge, if present,
    # is oriented exactly b → c, so one equi-join finishes the triangle
    wedges = w1.join(w2, "a").where(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    roles = (
        tri.select(F.col("a").alias("entity"))
        .union(tri.select(F.col("b").alias("entity")))
        .union(tri.select(F.col("c").alias("entity")))
    )
    return roles.groupBy("entity").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def bfs_distances(sym: DataFrame, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """(entity, dist) — hop distance from the seed set over the symmetric
    edge list, bounded by ``max_hops``. Frontier expansion: each round joins
    only the nodes discovered last round against the edges (not the whole
    visited set), then a min-dedup against visited. Unreached nodes are
    absent from the output."""
    sym = materialize(sym)  # re-joined every hop

    def hop(frontier: DataFrame, visited: DataFrame, r: int) -> DataFrame:
        return (
            sym.join(frontier.select("u"), "u")
            .select(F.col("v").alias("u"), F.lit(r).cast("int").alias("dist"))
            .distinct()
            .join(visited.select("u"), "u", "left_anti")
        )

    seeds0 = materialize(
        seeds.select(
            F.col(seeds.columns[0]).alias("u"), F.lit(0).cast("int").alias("dist")
        ).distinct()
    )
    visited = _search(seeds0, hop, max_hops)
    return visited.select(F.col("u").alias("entity"), "dist")


def label_propagation(sym: DataFrame, iters: int = 3) -> DataFrame:
    """(entity, label) after ``iters`` SYNCHRONOUS label-propagation rounds:
    every node simultaneously adopts its neighbors' plurality label, ties
    broken by minimum label — fully deterministic (async LPA, the textbook
    variant, is order-dependent and therefore unreproducible; synchronous
    with a total tie-break is the distributed-systems formulation).
    Initial label = own id. Per round: one edge-join shuffle + one count
    aggregate + an argmax window over the aggregated (node, label) table;
    rounds compose lazily (a linear chain, see pagerank_fixed_point)."""
    sym = materialize(sym)  # re-joined every round
    labels = materialize(
        sym.select("u").distinct().withColumn("label", F.col("u"))
    )
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("label"))

    def step(labels: DataFrame, _r: int) -> DataFrame:
        nbr = sym.join(
            labels.select(F.col("u").alias("v"), "label"), "v"
        ).select("u", "label")
        counts = nbr.groupBy("u", "label").agg(F.count(F.lit(1)).alias("c"))
        return (
            counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("u", "label")
        )

    labels = iterate(labels, step, iters)
    return labels.select(F.col("u").alias("entity"), "label")


def cooccurrence_pmi(
    ent: DataFrame, type_a: str = "Chemical", type_b: str = "Disease"
) -> DataFrame:
    """Edge weighting for the constructed KG: pointwise mutual information
    of each (type_a, type_b) entity pair over document co-occurrence.
    pmi = ln(n_co · D / (n_a · n_b)) with D = docs containing ≥1 entity.

    Input is the distinct (doc_id, mesh_id, type) entity-incidence table.
    One doc-keyed join builds pair counts (bounded per-doc fan-out, F4);
    the two marginals are entity-dimension-sized → broadcast back; D is a
    1-row broadcast. Returns (subj, obj, n_co, pmi) — pmi rounded 6dp."""
    a = ent.where(F.col("type") == type_a).select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    b = ent.where(F.col("type") == type_b).select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    n_co = a.join(b, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).alias("n_co")
    )
    n_a = a.groupBy("subj").agg(F.count(F.lit(1)).alias("n_s"))
    n_b = b.groupBy("obj").agg(F.count(F.lit(1)).alias("n_o"))
    d = ent.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("d_docs")
    )
    return (
        n_co.join(F.broadcast(n_a), "subj")
        .join(F.broadcast(n_b), "obj")
        .crossJoin(F.broadcast(d))
        .select(
            "subj",
            "obj",
            "n_co",
            F.round(
                F.log((F.col("n_co") * F.col("d_docs")) / (F.col("n_s") * F.col("n_o"))),
                6,
            ).alias("pmi"),
        )
    )


def ancestor_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 6,
) -> DataFrame:
    """Transitive ancestor closure of a (child, parent) DAG — the full MeSH
    hierarchy expansion behind the hypernym filter (J3): (child, ancestor,
    depth) with depth = SHORTEST parent-path length, bounded by max_depth.

    Level-synchronous BFS over all sources at once: each round expands only
    the pairs discovered last round (one join + one anti-join dedup shuffle),
    so a pair reachable along many paths is expanded exactly once at its
    shortest depth — path-count explosion on diamond-heavy DAGs never
    happens. Terminates early when a round finds nothing new."""
    e = materialize(
        edges.select(F.col(child).alias("child"), F.col(parent).alias("ancestor"))
        .where(F.col("child") != F.col("ancestor"))
        .distinct()
    )

    def deeper(frontier: DataFrame, closure: DataFrame, r: int) -> DataFrame:
        return (
            frontier.select("child", F.col("ancestor").alias("mid"))
            .join(e.select(F.col("child").alias("mid"), "ancestor"), "mid")
            .select("child", "ancestor")
            .distinct()
            .join(
                closure.select("child", "ancestor"),
                ["child", "ancestor"],
                "left_anti",
            )
            .withColumn("depth", F.lit(r + 1).cast("int"))
        )

    return _search(
        e.withColumn("depth", F.lit(1).cast("int")), deeper, max_depth - 1
    )


def kcore(sym: DataFrame, k: int = 3, max_rounds: int = 8) -> DataFrame:
    """k-core decomposition (fixed k): iteratively peel nodes with degree
    < k until fixed point — the densest-region extractor (a KG entity in
    the 3-core has ≥3 neighbors that themselves survive peeling; the
    standard noise filter before community/embedding work).

    Each round is one degree aggregate + two semi-joins on the shrinking
    edge list, materialized per round. Early exit at the fixed point
    is safe under a bounded-round contract (once stable, further rounds
    are identity — the oracle's fixed unroll gives identical output).
    Returns (entity, degree) — the degree WITHIN the k-core subgraph."""
    def peel(edges: DataFrame, _r: int) -> DataFrame:
        keep = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("u")
        )
        return (
            edges.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
        )

    # chain-like graphs peel only their endpoints per round — returning
    # the partial peel as "the k-core" would be silently wrong
    edges = converge(
        materialize(sym), peel, max_rounds, row_count_unchanged(),
        "kcore peeling (chain-like graphs need ~diameter/2 rounds)",
    )
    return edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(F.col("u").alias("entity"), "degree")


def deterministic_walks(
    sym: DataFrame,
    n_walks: int = 2,
    walk_len: int = 3,
) -> DataFrame:
    """Hash-driven random walks over the entity graph — the corpus a
    DeepWalk/node2vec-style KG embedding trains on, made DETERMINISTIC:
    step t of walk w from node s picks sorted_neighbors[md5(cur:w:t) mod
    deg]. Reproducible (re-runs and engines agree exactly — no rand()),
    auditable, and oracle-checkable.

    Scale shape: the adjacency is packed once into (node, sorted neighbor
    array) — one groupBy — then each step is ONE equi-join of the frontier
    against it (walk state stays (start, walk, cur), constant width).
    walk_len joins total; no per-step shuffle growth. Returns
    (start, walk_id, step, node) with step 0 = the start node itself."""
    adj = sym.groupBy("u").agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
    starts = adj.select(F.col("u").alias("start"))
    state = starts.select(
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk_id"),
    ).withColumn("cur", F.col("start"))
    out = state.select(
        "start", "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
    )

    def step(walk: tuple, t: int) -> tuple:
        state, out = walk
        idx = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("cur"), F.col("walk_id"), F.lit(t))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        state = (
            state.join(adj, state["cur"] == adj["u"])
            .select(
                "start",
                "walk_id",
                F.element_at(
                    F.col("nbrs"), (idx % F.size("nbrs") + 1).cast("int")
                ).alias("cur"),
            )
        )
        return state, out.union(
            state.select(
                "start", "walk_id", F.lit(t).alias("step"),
                F.col("cur").alias("node"),
            )
        )

    _, out = iterate((state, out), step, walk_len)
    return out.select(
        "start", F.col("walk_id").cast("int"), F.col("step").cast("int"), "node"
    )


def personalized_pagerank(
    sym: DataFrame, seeds: DataFrame, iters: int = 5, scale: int = PR_SCALE
) -> DataFrame:
    """Personalized PageRank: identical fixed-point integer loop to
    pagerank_fixed_point, but ALL teleport mass lands on the seed set —
    the "relevance to these entities" ranking a KG serves for
    related-entity expansion / entity-centric retrieval (vs global
    centrality). rank_0 = scale on seeds and 0 elsewhere; each step
    rank'(v) = 1[v∈S]·(15·scale)//100 + (85·Σ_u rank(u) DIV deg(u))//100.

    ``seeds`` is a 1-column (u) frame and is BROADCAST — personalization
    sets are user-query-sized, never corpus-sized. A seed with no edges in
    ``sym`` is not a node of the graph and silently contributes nothing
    (it cannot hold or spread mass). Nodes never reached hold rank 0 and
    are dropped from the output, so the result is the seed's
    neighborhood, not a |V|-sized table. Same scale notes as the
    global variant (integer overflow bound, one shuffle/iteration, lazy
    rank chain).
    """
    base = scale * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    sym = materialize(sym)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    # materialized so the seed attach computes once instead of per round
    seeded = materialize(
        deg.join(
            F.broadcast(seeds.select("u").distinct().withColumn("_s", F.lit(1))),
            "u",
            "left",
        ).select("u", "deg", F.coalesce("_s", F.lit(0)).alias("is_seed"))
    )

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = sym.join(ranks, "u").select(
            F.col("v").alias("u"), F.expr("rank DIV deg").alias("c")
        )
        sums = contrib.groupBy("u").agg(F.sum("c").alias("s"))
        return seeded.join(sums, "u", "left").select(
            "u",
            "deg",
            "is_seed",
            (
                F.col("is_seed") * F.lit(base)
                + F.expr(f"({PR_DAMP_NUM} * coalesce(s, 0L)) DIV {PR_DAMP_DEN}")
            ).cast("long").alias("rank"),
        )

    ranks = iterate(
        seeded.withColumn("rank", (F.col("is_seed") * F.lit(scale)).cast("long")),
        step,
        iters,
    )
    return ranks.where(F.col("rank") > 0).select(
        F.col("u").alias("entity"), F.col("rank").alias("rank_fp")
    )


def weighted_sssp(
    wedges: DataFrame, seeds: DataFrame, iters: int = 4
) -> DataFrame:
    """Multi-source weighted shortest paths by synchronous Bellman-Ford
    (min-plus) rounds over an integer-weighted edge list (u, v, w) —
    the "how strongly is X connected to Y" KG path query that hop-count
    BFS (bfs_distances) cannot answer on weighted edges.

    ``seeds`` is a 1-column (u) frame; all seeds start at distance 0.
    Each round relaxes every current distance across its out-edges (one
    equi-join on u, shuffle bounded by |E|) and folds with the previous
    table via a min aggregate (partial-agg combines map-side); each round
    reads the last distance table twice, so ``iterate`` materializes it
    every few rounds. Integer weights make min-plus exact — results are
    bit-identical across engines and partitionings. ``iters`` bounds path LENGTH (edges), so
    the result after k rounds is exactly "shortest distance using ≤ k
    edges" — a well-defined contract even before global convergence,
    which is what makes a fixed-round oracle twin possible.
    """
    wedges = materialize(wedges)

    # frontier-only relaxation (same exactness argument as bfs_distances:
    # any path improving dist(v) at round i extends one that improved at
    # round i-1, so relaxing ONLY last round's improved nodes computes the
    # identical ≤k-edge minimum) — the relax join shrinks every round as
    # the wavefront passes instead of rescanning all settled distances.
    # The state is the distance table flagged with last round's
    # improvements; the frontier is its improved rows.
    def relax(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = (
            dist.where(F.col("_improved") & F.col("dist").isNotNull())
            .join(wedges, "u")
            .select(
                F.col("v").alias("u"),
                (F.col("dist") + F.col("w")).cast("long").alias("cand"),
            )
            .groupBy("u")
            .agg(F.min("cand").alias("cand"))
        )
        return dist.select("u", "dist").join(relaxed, "u", "full").select(
            "u",
            # least() skips NULLs (only all-NULL yields NULL), so the
            # full-outer join's missing side never wins spuriously
            F.least("dist", "cand").alias("dist"),
            (
                F.col("dist").isNull()
                | (F.col("cand") < F.col("dist"))
            ).alias("_improved"),
        )

    dist = seeds.select("u").distinct().select(
        "u", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("_improved")
    )
    dist = iterate(dist, relax, iters)
    return dist.select(F.col("u").alias("entity"), "dist")


def adamic_adar(
    sym: DataFrame, max_hub_deg: int = 50, min_common: int = 2
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003; Liben-Nowell &
    Kleinberg 2007): for each non-adjacent pair x<y, score =
    Σ_{z ∈ N(x)∩N(y)} 1/ln deg(z) — rare shared neighbors vouch harder
    than hubs. The standard missing-edge ranking for KG completion
    (which chemical-disease links does co-occurrence structure imply but
    no sentence states?).

    Scale shape: wedges come from the z-keyed self-join of the adjacency
    list; the d² hub blowup is bounded by dropping wedge CENTERS with
    deg > ``max_hub_deg`` before the join (same df-cut family as the
    shingle index — and principled here: a hub center contributes the
    least per-wedge weight 1/ln d, so the cut removes the most expensive,
    least informative wedges; the truncation is explicit, not silent).
    The degree attach is a plain shuffle join, never a |V|-sized
    broadcast (vertex tables are 10^8+ at KG scale). Known edges leave
    via anti-join; ``min_common`` prunes the one-shared-neighbor tail
    inside the aggregate before it reaches the join. Returns
    (u, v, common, aa_score) with u < v, score rounded 6dp.
    """
    # sym feeds the adjacency, the degree pass and the known-edge
    # anti-join; nzk feeds both wedge sides — materialize each once
    sym = materialize(sym)
    nz = sym.select(F.col("u").alias("z"), F.col("v").alias("x"))
    deg = nz.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    nzk = materialize(nz.join(deg.where(F.col("deg") <= max_hub_deg), "z"))
    a = nzk.select("z", F.col("x").alias("xa"), "deg")
    b = nzk.select("z", F.col("x").alias("xb"))
    cand = (
        a.join(b, "z")
        .where(F.col("xa") < F.col("xb"))
        .groupBy(F.col("xa").alias("u"), F.col("xb").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.round(
                F.sum(F.lit(1.0) / F.log("deg")) + F.lit(1e-9), 6
            ).alias("aa_score"),
        )
        .where(F.col("common") >= min_common)
    )
    edges = sym.where(F.col("u") < F.col("v"))
    return cand.join(edges, ["u", "v"], "left_anti")


def cycle_residue(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Cycle detection for ontology/hierarchy validation: iteratively trim
    edges whose source has no incoming edge or whose target has no
    outgoing edge (the forward+backward trim step of SCC algorithms).
    A DAG trims to EMPTY; anything left is entangled in cycles (nodes on
    a cycle, or on a path connecting two cycles). The data-contract gate
    a KG runs before trusting a hierarchy for closure/hypernym filtering
    — ancestor_closure on a cyclic input silently double-counts.

    Each round: two distinct-projections of the shrinking edge list +
    two semi-joins, materialized per round. Converges in ~longest
    acyclic tail length rounds; like kcore, a bounded-round partial trim
    is never returned — raise instead. Returns distinct entangled nodes
    (node); empty ⟺ the input is a DAG."""
    def trim(e: DataFrame, _r: int) -> DataFrame:
        sources = e.select("u").distinct()
        targets = e.select(F.col("v").alias("u")).distinct()
        return (
            e.join(targets, "u", "left_semi")  # u has an incoming edge
            .join(
                sources.withColumnRenamed("u", "v"), "v", "left_semi"
            )  # v has an outgoing edge
            .select("u", "v")
        )

    e = converge(
        materialize(edges.select("u", "v").distinct()), trim, max_rounds,
        row_count_unchanged(),
        "cycle_residue (long acyclic tails trim one layer a round)",
    )
    return (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )


def luby_mis(sym: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Deterministic maximal independent set (Luby 1986, parallel
    random-priority rounds; priorities here are md5 strings so the
    "random" order is reproducible and engine-replayable): each round
    every active node whose priority beats all active neighbors joins
    the MIS, then it and its neighbors deactivate. Converges in O(log n)
    rounds w.h.p. The conflict-free scheduling primitive: a batch of KG
    entity merges / cluster representatives where no two chosen items
    are adjacent (independent merges can apply in one pass without
    read-write conflicts).

    Priorities are md5(node)‖node — unique strings, comparing byte-wise
    identically on both engines; derived inline from the node id, so no
    |V|-sized broadcast exists. Each round: two semi-joins restrict the
    edge list to active endpoints, one max-aggregate per node, one
    anti-join pair deactivates, materialized per round; like kcore, a
    partial result is never returned — raise on non-convergence.
    Returns (node) — the MIS members."""
    def pr(c: Column) -> Column:
        return F.concat(F.md5(c), c)

    # materialize the edge list once — it is semi-joined twice per round
    # and a lazy caller plan (symmetric_edges' union+distinct) would
    # otherwise re-execute 2×/round
    sym = materialize(sym)
    chosen: list[DataFrame] = []

    def select_round(active: DataFrame, _r: int) -> DataFrame:
        # the active-restricted edge list feeds ONLY the priority max:
        # neighbor deactivation below can read raw ``sym`` because its
        # result is anti-joined against ``active`` anyway (sel ⊆ active
        # pins the v side; inactive u's drop out in the anti-join)
        act_e = sym.join(active, "u", "left_semi").join(
            active.withColumnRenamed("u", "v"), "v", "left_semi"
        )
        nbrmax = act_e.groupBy("u").agg(F.max(pr(F.col("v"))).alias("mx"))
        # read twice (the MIS and the deactivation): materialized
        sel = materialize(
            active.join(nbrmax, "u", "left")
            .where(F.col("mx").isNull() | (pr(F.col("u")) > F.col("mx")))
            .select("u")
        )
        chosen.append(sel)
        nbr_of_sel = sym.join(
            sel.withColumnRenamed("u", "v"), "v", "left_semi"
        ).select("u")
        return active.join(sel, "u", "left_anti").join(
            nbr_of_sel, "u", "left_anti"
        )

    converge(
        materialize(sym.select("u").distinct()), select_round, max_rounds,
        DataFrame.isEmpty, "luby_mis (expected O(log n) rounds w.h.p.)",
    )
    return _union_all(chosen).select(F.col("u").alias("node")).distinct()


def harmonic_centrality(
    sym: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Sampled harmonic centrality (the Eppstein-Wang estimator family):
    H(v) ≈ Σ_{s∈S} 1/d(s,v) over a small deterministic seed sample S,
    distances bounded by ``max_hops`` — the "how reachable is this
    entity" ranking that PageRank's stationary mass does not give
    (harmonic rewards being CLOSE to everything, not being linked by
    important things). Exact all-pairs harmonic is O(n·m) and off the
    table at KG scale; the seed-sampled bounded-hop form is the standard
    production estimator, and the sampling is explicit in the output
    contract (n_reached says how many seeds actually reached the node).

    Scale shape: one multi-source BFS — the |S| frontiers advance
    SIMULTANEOUSLY as (seed, node) rows through the same per-hop join,
    so the hop count, not the seed count, sets the number of shuffles.
    Frontier-only expansion with a materialized frontier per hop, exactly
    like bfs_distances. Returns (entity, n_reached, harmonic) for nodes
    reached by ≥1 seed at dist ≥ 1."""
    sym = materialize(sym)

    def hop(frontier: DataFrame, visited: DataFrame, r: int) -> DataFrame:
        return (
            sym.join(frontier.select("seed", "u"), "u")
            .select(
                "seed",
                F.col("v").alias("u"),
                F.lit(r).cast("int").alias("dist"),
            )
            .distinct()
            .join(visited.select("seed", "u"), ["seed", "u"], "left_anti")
        )

    seeds0 = materialize(
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("u"),
            F.lit(0).cast("int").alias("dist"),
        )
    )
    return (
        _search(seeds0, hop, max_hops)
        .where(F.col("dist") > 0)
        .groupBy(F.col("u").alias("entity"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.round(
                F.sum(F.lit(1.0) / F.col("dist")) + F.lit(1e-9), 6
            ).alias("harmonic"),
        )
    )


def transitive_reduction(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 6,
) -> DataFrame:
    """Minimal equivalent DAG: drop every (child, parent) edge that is also
    implied by a parent-path of length >= 2 (bounded by ``max_depth``), i.e.
    the inverse of ``ancestor_closure`` — ontology ingest pipelines run this
    to strip redundant shortcut edges before closure/rollup so downstream
    hypernym filters see each ancestry fact exactly once.

    A redundant edge CANNOT be read off the shortest-depth closure (a direct
    edge forces depth=1 there even when a longer path exists). Instead the
    >=2-hop reachability set is one extra join away: reach2(c, a) holds iff
    some mid exists with edge(c, mid) and closure(mid, a). One equi-join on
    the mid node plus one left-anti join — both shuffle on entity keys that
    partial-aggregate cleanly; nothing is broadcast (the closure is
    O(V * depth) rows and may exceed driver memory on a 10^8-node ontology).
    """
    e = (
        edges.select(F.col(child).alias("child"), F.col(parent).alias("parent"))
        .where(F.col("child") != F.col("parent"))
        .distinct()
    )
    clo = ancestor_closure(e, max_depth=max_depth - 1)
    reach2 = (
        e.select("child", F.col("parent").alias("mid"))
        .join(
            clo.select(F.col("child").alias("mid"), "ancestor"),
            "mid",
        )
        .select("child", F.col("ancestor").alias("parent"))
        .distinct()
    )
    return e.join(reach2, ["child", "parent"], "left_anti")


def composition_body(t1: DataFrame, t2: DataFrame | None = None) -> DataFrame:
    """DISTINCT (p1, p2, x, z) pairs satisfying the 2-hop composition body
    p1(x, y) AND p2(y, z): ONE self-equi-join on the mid entity y over
    (subj, pred, obj) triple tables. Shared by mine_path_rules and
    apply_rules so a mine-then-apply pipeline can materialize it once
    and pass it to both."""
    if t2 is None:
        t2 = t1
    return (
        t1.select(
            F.col("pred").alias("p1"),
            F.col("subj").alias("x"),
            F.col("obj").alias("mid"),
        )
        .join(
            t2.select(
                F.col("subj").alias("mid"),
                F.col("pred").alias("p2"),
                F.col("obj").alias("z"),
            ),
            "mid",
        )
        .select("p1", "p2", "x", "z")
        # (x, z)-keyed exchange BEFORE the distinct (guide §2.4):
        # hash-partitioning on (x, z) clusters every duplicate
        # (p1, p2, x, z) into one partition, so the DISTINCT aggregates
        # locally with NO second exchange — and the head-attach equi-join
        # on (x, z) downstream (mine_path_rules' support pass) reuses the
        # partitioning outright, turning two full body shuffles into one.
        # (A map-side pre-dedup would shrink the body by <7% at sf0.1, so
        # the raw-row exchange costs almost the same.)
        .repartition("x", "z")
        .distinct()
    )


def mine_path_rules(
    triples: DataFrame,
    min_support: int = 1,
    max_mid_deg: int | None = None,
    body: DataFrame | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """AMIE-style closed horn rules of the composition shape
    ``p1(x, y) AND p2(y, z) => p3(x, z)`` with their standard support and
    confidence — the rule-mining pass a KG-construction pipeline runs over
    its own freshly-emitted triple table to propose schema-level inferences
    (and to flag predicate pairs that are near-deterministic functions of
    each other). Returns (p1, p2, p3, support, body_size, confidence,
    pca_body, pca_confidence) where body_size = |distinct (x, z) satisfying
    the body|, support = |distinct (x, z) satisfying body AND head|,
    confidence = support / body_size, and pca_confidence divides by only
    the body pairs whose subject has SOME p3 edge (AMIE's partial-
    completeness assumption — under open-world KGs a missing fact is not
    a counter-example, so PCA confidence is the ranking that matters).

    Scale shape: the body is a single self-equi-join on the mid entity y,
    DISTINCT-ed on (p1, p2, x, z) BEFORE any counting so multi-path pairs
    cannot blow up the aggregates; the head attach is one equi-join on the
    (x, z) pair key. Both shuffles partial-aggregate. Hub mid-entities are
    the one real hazard (a y with in-deg * out-deg ~ 10^8 dominates the
    body join): ``max_mid_deg`` applies the same df-cut used by
    triangle_counts — drop mid nodes whose in+out degree exceeds the cap
    before the join (a plain shuffle join against the degree table, never a
    |V|-sized broadcast). Rules are about predicate-level regularities, so
    excluding a handful of super-hubs barely moves the estimates while
    bounding the join fan-out.

    ``body`` lets mine-then-apply pipelines (q143) pass a precomputed
    (ideally checkpointed) composition_body so the self-join runs ONCE for
    both the mining and the inference pass; max_mid_deg is ignored then.

    Reuse: ``t`` is consumed up to six times (two join sides, head
    attach, PCA heads, two degree aggregates) and the internally-built
    body three times (body_size, support, PCA) — both are materialized
    once (the lazy replays cost ~2 s and ~5.5 s per extra evaluation at
    sf0.1). A CALLER-passed body is left untouched: q143 measured its
    wider mine-then-apply plan and lazy recompute won there (see its
    note).

    ``assume_distinct=True`` skips the defensive input DISTINCT (one
    full (subj, pred, obj) shuffle) — pass it when the caller's triple
    view is distinct by construction (e.g. the lifted relational KG,
    whose per-branch PK-dedup guarantees it).
    """
    t = triples.select("subj", "pred", "obj")
    if not assume_distinct:
        t = t.distinct()
    t = materialize(t)
    if body is None:
        t1 = t
        t2 = t
        if max_mid_deg is not None:
            outd = t.groupBy(F.col("subj").alias("node")).agg(
                F.count(F.lit(1)).alias("od")
            )
            ind = t.groupBy(F.col("obj").alias("node")).agg(
                F.count(F.lit(1)).alias("id_")
            )
            hot = (
                outd.join(ind, "node", "full_outer")
                .where(
                    F.coalesce("od", F.lit(0)) + F.coalesce("id_", F.lit(0))
                    > max_mid_deg
                )
                .select("node")
            )
            t1 = t.join(hot.select(F.col("node").alias("obj")), "obj", "left_anti")
            t2 = t.join(hot.select(F.col("node").alias("subj")), "subj", "left_anti")
        body = materialize(composition_body(t1, t2))
    body_n = body.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("body_size")
    )
    supp = (
        body.join(
            t.select(
                F.col("subj").alias("x"),
                F.col("pred").alias("p3"),
                F.col("obj").alias("z"),
            ),
            ["x", "z"],
        )
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    # PCA denominator (Galárraga et al., AMIE): body pairs whose subject
    # has SOME p3 edge — the open-world correction that stops missing
    # facts from reading as counter-examples. body rows are distinct, so
    # the heads attach needs no re-dedup; fan-out per row is bounded by
    # the (tiny) predicate vocabulary of x.
    heads = t.select(
        F.col("pred").alias("p3"), F.col("subj").alias("x")
    ).distinct()
    # pca_body = Σ_x |body rows (p1, p2, x, ·)| · 1[x has some p3 edge]:
    # pre-aggregating body to (p1, p2, x) counts BEFORE the head attach
    # (guide §2.3 "aggregate before you shuffle") shuffles the
    # ~|distinct (p1, p2, x)| reduced table instead of the full body —
    # the sum over the join is identical to counting join rows.
    bx = body.groupBy("p1", "p2", "x").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    pca_n = (
        bx.join(heads, "x")
        .groupBy("p1", "p2", "p3")
        .agg(F.sum("_bn").cast("long").alias("pca_body"))
    )
    return (
        supp.join(body_n, ["p1", "p2"])
        .join(pca_n, ["p1", "p2", "p3"])
        .select(
            "p1",
            "p2",
            "p3",
            "support",
            "body_size",
            F.round(F.col("support") / F.col("body_size"), 6).alias(
                "confidence"
            ),
            "pca_body",
            F.round(F.col("support") / F.col("pca_body"), 6).alias(
                "pca_confidence"
            ),
        )
    )


def align_predicates(triples: DataFrame, min_common: int = 1) -> DataFrame:
    """PARIS-style predicate alignment by extension overlap: for every
    unordered predicate pair, the size of the intersection of their
    (subj, obj) extension sets plus Jaccard and containment — the signal an
    ontology-merge stage uses to flag synonym / sub-property predicates
    when KGs from heterogeneous sources are fused (two feeds calling the
    same relation 'supplied_by' and 'bulk_supplier' must be reconciled
    before dedup-by-support means anything).

    Shape: one DISTINCT over (pred, subj, obj); the candidate join is an
    equi-join on the (subj, obj) PAIR key — never a predicate cross
    product — so its fan-out per pair is (#predicates sharing that exact
    pair choose 2), tiny by construction since predicate vocabularies are
    small and typed subject/object spaces rarely collide. Per-predicate
    extension sizes are a #preds-row table, broadcast to both attach
    sites."""
    ext = triples.select("pred", "subj", "obj").distinct()
    sizes = ext.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    common = (
        ext.select(F.col("pred").alias("p1"), "subj", "obj")
        .join(
            ext.select(F.col("pred").alias("p2"), "subj", "obj"),
            ["subj", "obj"],
        )
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    s1 = F.broadcast(sizes.select(F.col("pred").alias("p1"), F.col("n").alias("n1")))
    s2 = F.broadcast(sizes.select(F.col("pred").alias("p2"), F.col("n").alias("n2")))
    return (
        common.join(s1, "p1")
        .join(s2, "p2")
        .select(
            "p1", "p2", "n_common", "n1", "n2",
            F.round(
                F.col("n_common")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common") / F.least("n1", "n2"), 6
            ).alias("containment"),
        )
    )


def apply_rules(
    triples: DataFrame,
    rules: DataFrame,
    min_confidence: float = 0.8,
    body: DataFrame | None = None,
) -> DataFrame:
    """One forward-chaining step of KB completion: for every accepted rule
    p1(x,y) AND p2(y,z) => p3(x,z) (confidence >= ``min_confidence``),
    materialize the head triples whose body holds but which are MISSING
    from the KG — mined regularities turned into new candidate knowledge
    (e.g. suppliers inherit in_region_of through in_nation AND in_region
    when only customers were asserted with it).

    The accepted rule set is a handful of (p1, p2, p3) rows — broadcast
    onto the body join's output; the body itself is the same single
    mid-entity self-join as mine_path_rules (DISTINCT-ed before the rule
    attach), and novelty is one left-anti join on the full triple key.
    Inferred triples carry their rule's confidence as a provenance score.
    """
    acc = F.broadcast(
        rules.where(F.col("confidence") >= min_confidence).select(
            "p1", "p2", "p3", "confidence"
        )
    )
    t = triples.select("subj", "pred", "obj").distinct()
    if body is None:
        body = composition_body(t)
    inferred = (
        body.join(acc, ["p1", "p2"])
        .groupBy(
            F.col("x").alias("subj"),
            F.col("p3").alias("pred"),
            F.col("z").alias("obj"),
        )
        .agg(F.round(F.max("confidence"), 6).alias("confidence"))
    )
    return inferred.join(t, ["subj", "pred", "obj"], "left_anti")


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate cardinality profile: triple/subject/object counts,
    max and mean out/in fan-out, and the functional / inverse-functional
    flags (max fan-out == 1). Schema discovery for a freshly-constructed
    KG — functional predicates are the ones conflict resolution
    (truth_discovery) may legally arbitrate, near-functional ones with a
    long fan-out tail usually indicate extraction noise, and the flags
    feed join-strategy hints (a functional predicate's edge table joins
    like a dimension).

    Two two-level aggregations — (pred, subj) then pred, and (pred, obj)
    then pred — all partial-aggregating; output is one row per predicate
    (a vocabulary-sized table, safely collectable/broadcastable).
    """
    t = triples.select("pred", "subj", "obj").distinct()
    out_f = (
        t.groupBy("pred", "subj")
        .agg(F.count(F.lit(1)).alias("fanout"))
        .groupBy("pred")
        .agg(
            F.sum("fanout").cast("long").alias("n_triples"),
            F.count(F.lit(1)).cast("long").alias("n_subj"),
            F.max("fanout").cast("long").alias("max_out"),
            F.round(F.avg("fanout"), 6).alias("avg_out"),
        )
    )
    in_f = (
        t.groupBy("pred", "obj")
        .agg(F.count(F.lit(1)).alias("fanin"))
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obj"),
            F.max("fanin").cast("long").alias("max_in"),
            F.round(F.avg("fanin"), 6).alias("avg_in"),
        )
    )
    return out_f.join(in_f, "pred").select(
        "pred", "n_triples", "n_subj", "n_obj",
        "max_out", "avg_out", "max_in", "avg_in",
        (F.col("max_out") == 1).alias("functional"),
        (F.col("max_in") == 1).alias("inverse_functional"),
    )


def edge_support(edges: DataFrame) -> DataFrame:
    """(u, v, support): triangles through each undirected edge (input as
    (u, v) with u < v). Same degree-ordered orientation as
    triangle_counts — each triangle enumerated once at its lowest-key
    apex — but credited to its three EDGES (mapped back to id order with
    least/greatest) instead of its three vertices. Edges on no triangle
    come back with support 0 (left join), because truss peeling must see
    them to remove them."""
    # edges feed the orientation and the closing support join
    edges = materialize(edges)
    oriented = materialize(oriented_edges(edges))
    w1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("kdst").alias("kb"),
    )
    w2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("kdst").alias("kc"),
    )
    wedges = w1.join(w2, "a").where(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")

    def und(x, y):
        return [F.least(x, y).alias("u"), F.greatest(x, y).alias("v")]

    roles = (
        tri.select(*und(F.col("a"), F.col("b")))
        .union(tri.select(*und(F.col("b"), F.col("c"))))
        .union(tri.select(*und(F.col("a"), F.col("c"))))
    )
    sup = roles.groupBy("u", "v").agg(F.count("*").alias("support"))
    return edges.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def ktruss(edges: DataFrame, k: int = 3, iters: int = 3) -> DataFrame:
    """k-truss peeling (Cohen 2008): iteratively remove edges lying on
    fewer than k-2 triangles, ``iters`` rounds, then report the
    surviving edges with their support WITHIN the surviving subgraph —
    the cohesive-subgraph extractor one notch stronger than k-core
    (edge-level, triangle-based: a star hub survives k-core but owns no
    triangles and dissolves here). Fixed round count, not run-to-
    convergence: the result is a deterministic iterate replayable
    cross-engine, and once the peel converges extra rounds are no-ops,
    so iters only needs to cover the peel depth (log-ish in practice).

    Each round is one edge_support pass — O(m^1.5) wedge-bounded via the
    degree orientation, one shuffle for the key attach, one for the
    wedge join, one for the per-edge rollup — edge_support materializes
    the surviving edge set it is handed, so each round reads the last
    round's edges once. Returns (u, v, support), u < v.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")

    def peel(e: DataFrame, _r: int) -> DataFrame:
        return (
            edge_support(e)
            .where(F.col("support") >= k - 2)
            .select("u", "v")
        )

    e = iterate(edges.select("u", "v").distinct(), peel, iters)
    return edge_support(e)


HITS_SCALE = 10**6  # fixed-point hub/auth unit — see overflow note below


def hits_fixed_point(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 4,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on a DIRECTED edge list,
    in exact integer arithmetic: (node, hub_fp, auth_fp).

    Per iteration: auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v}
    auth(v), each followed by sum-normalization back to ``scale`` total
    mass via integer (x·scale) DIV total — floor-truncating, so sums are
    exactly associative and the result is bit-identical across
    partitionings and engines (same argument as pagerank_fixed_point;
    float HITS would drift with reduction order). On the chem→disease
    bipartite KG this ranks chemicals by how many well-attested diseases
    they link (hub) and diseases by how many broadly-linked chemicals
    assert them (authority) — PageRank's symmetric centrality can't
    separate the two roles.

    Shape: 2 shuffles per iteration (groupBy dst, groupBy src); the only
    broadcast is the 1-row total. Overflow headroom: raw sums ≤ N·scale
    and the normalize multiplies by scale, so N·scale² < 2^63 → N ≲
    9·10^6 at the default scale=10^6; drop scale beyond that.
    Sum-normalization (not L2) keeps the math in integers; rankings are
    unaffected (positive scalar).

    The state is one (node, hub, auth) table and each ``iterate`` step is
    a half-round, auth first. A half-round reads the state twice (the
    edge sums and the node-set attach) and its normalize reads the result
    twice (total + join), so the lazy plan grows ×4 per half-round and
    ``iterate`` materializes about once a round."""
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def half_round(state: DataFrame, r: int) -> DataFrame:
        # odd r: auth(v) = Σ_{u→v} hub(u); even r: hub(u) = Σ_{u→v} auth(v)
        frm, to, at, to_end = (
            ("hub", "auth", "src", "dst") if r % 2 else ("auth", "hub", "dst", "src")
        )
        sums = (
            e.join(state.select(F.col("node").alias(at), frm), at)
            .groupBy(to_end)
            .agg(F.sum(frm).alias("s"))
            .withColumnRenamed(to_end, "node")
        )
        raw = state.select("node", frm).join(sums, "node", "left").select(
            "node", frm, F.coalesce("s", F.lit(0)).cast("long").alias("raw")
        )
        tot = raw.agg(F.sum("raw").alias("_tot"))
        return raw.join(F.broadcast(tot)).select(
            "node",
            frm,
            F.expr(f"(raw * {scale}) DIV _tot").cast("long").alias(to),
        )

    state = nodes.select(
        "node",
        F.lit(scale).cast("long").alias("hub"),
        F.lit(0).cast("long").alias("auth"),
    )
    state = iterate(state, half_round, 2 * iters)
    return state.select(
        "node", F.col("hub").alias("hub_fp"), F.col("auth").alias("auth_fp")
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from walk sequences — the
    training corpus a DeepWalk/node2vec KG embedding consumes (Perozzi
    et al. KDD'14 §4.2): for every walk position i, every other position
    j with |i−j| ≤ window contributes one (node_i, node_j) pair;
    repeated visits legitimately pair a node with itself (positional
    exclusion, not value exclusion — exactly word2vec's contract).

    Input is deterministic_walks' (start, walk_id, step, node). One
    groupBy packs each walk into its sequence array; pair generation is
    then row-local array math (posexplode + an index-window filter) —
    the per-walk fan-out is ≤ walk_len·2·window, a constant, so the
    whole thing is two shuffles (pack, count) at any corpus size."""
    arr = (
        walks.groupBy("start", "walk_id")
        .agg(F.sort_array(F.collect_list(F.struct("step", "node"))).alias("sn"))
        .select(F.transform("sn", lambda s: s["node"]).alias("seq"))
    )
    ex = arr.select("seq", F.posexplode("seq").alias("i", "center"))
    ctx = ex.select(
        "center",
        F.explode(
            F.filter(
                F.sequence(
                    F.greatest(F.col("i") - window, F.lit(0)),
                    F.least(F.col("i") + window, F.size("seq") - 1),
                ),
                lambda j: j != F.col("i"),
            )
        ).alias("j"),
        "seq",
    ).select("center", F.element_at("seq", F.col("j") + 1).alias("context"))
    return ctx.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(entity, degree, n_triangles, clustering) — local clustering
    coefficient 2·T(v)/(deg(v)·(deg(v)−1)) over an undirected (u, v)
    edge list with u < v; degree-1 nodes get 0 by convention. The
    how-clique-is-my-neighborhood signal on top of triangle_counts —
    a KG entity with high degree and near-zero clustering is a hub
    stitching unrelated communities (exactly the pivot the projection
    df-cut worries about), while high clustering marks a dense clique.

    Cost: triangle_counts (O(m^1.5) wedges) + one degree aggregate +
    one |V|-keyed shuffle join (never broadcast — same rule as the
    orientation's key attach). clustering rounds to 6 dp."""
    sym = symmetric_edges(edges, "u", "v")
    deg = sym.groupBy(F.col("u").alias("entity")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    tri = triangle_counts(edges)
    return (
        deg.join(tri, "entity", "left")
        .select(
            "entity",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def propagate_labels(
    sym: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Seeded label propagation (semi-supervised node classification —
    the Zhu/Ghahramani family made deterministic): seed nodes keep their
    label forever (clamped); each round, every still-unlabeled node
    adopts the MAJORITY label among its labeled neighbors, ties broken
    by lexicographically smallest label. Differs from lpa_communities
    (everyone relabels, labels are arbitrary ids) in exactly the way
    semi-supervised typing needs: ground-truth seeds are authoritative
    and propagation only fills the unlabeled frontier.

    sym = symmetric (u, v) edges; seeds = (node, label), one label per
    node. Returns (node, label, hop) with hop = round the node was
    labeled (0 = seed); nodes never reached by a labeled neighbor are
    absent. Integer vote counts + struct-min tie-break → bit-identical
    across partitionings and engines. One edge join + one (node, label)
    aggregate per round; each round's new labels are materialized."""
    sym = materialize(sym)

    def spread(_new: DataFrame, labeled: DataFrame, r: int) -> DataFrame:
        nbr = sym.join(
            labeled.select(F.col("node").alias("u"), "label"), "u"
        ).select(F.col("v").alias("node"), "label")
        cand = (
            nbr.join(labeled.select("node"), "node", "left_anti")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            cand.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("negn"), F.col("label").alias("l"))
                ).alias("b")
            )
            .select(
                "node",
                F.col("b.l").alias("label"),
                F.lit(r).cast("int").alias("hop"),
            )
        )

    seeds0 = materialize(
        seeds.select("node", "label", F.lit(0).cast("int").alias("hop")).distinct()
    )
    return _search(seeds0, spread, iters)


def degree_assortativity(sym: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) over the symmetric
    edge list: the Pearson correlation of end-point degrees across
    directed edge instances — positive = hubs prefer hubs (social-ish),
    negative = hubs prefer leaves (the usual KG/biological shape; a
    co-occurrence projection flipping sign between snapshots is a feed
    regression worth alarming on).

    One degree aggregate + two |V|-keyed shuffle joins to attach end
    degrees + ONE global aggregate of integer sums (Σjk, Σj, Σj² are
    exact longs — associative, partition-order independent); the Pearson
    formula is applied to the exact sums and rounded 6 dp at the very
    end. Output 1 row: (n_edge_ends, assortativity; NULL when the
    variance is 0 — e.g. a perfect cycle where every degree is equal)."""
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ends = (
        sym.join(deg, "u")
        .withColumnRenamed("d", "dj")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dk")), "v")
    )
    sums = ends.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("dj") * F.col("dk")).cast("long").alias("sjk"),
        F.sum(F.col("dj") + F.col("dk")).cast("long").alias("sj"),
        F.sum(F.col("dj") * F.col("dj") + F.col("dk") * F.col("dk"))
        .cast("long")
        .alias("sj2"),
    )
    m = F.col("m").cast("double")
    mean = F.col("sj") / (2.0 * m)
    num = F.col("sjk") / m - mean * mean
    den = F.col("sj2") / (2.0 * m) - mean * mean
    return sums.select(
        F.col("m").alias("n_edge_ends"),
        F.when(den != 0.0, F.round(num / den, 6)).alias("assortativity"),
    )


def pagerank_directed(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    scale: int = 10**9,
) -> DataFrame:
    """PageRank on a DIRECTED edge list with dangling-mass
    redistribution, in exact integer arithmetic — the form a real
    (subj, pred, obj) KG needs (q56's symmetric variant has no dangling
    nodes by construction; a directed triple graph is full of pure
    sinks, and dropping their mass silently deflates every rank):

      rank'(v) = base + 85% · (Σ_{u→v} rank(u) DIV outdeg(u)
                               + dangling DIV N)
      dangling = Σ over outdeg-0 nodes of rank(u)

    Per iteration: one groupBy-dst shuffle for the contributions plus a
    1-row dangling aggregate broadcast back (the only driver-free way to
    spread sink mass without an N×N term). All sums are longs —
    bit-identical across engines/partitionings. Overflow: N·scale·85
    must stay under 2^63 → N ≲ 10^8 at the default scale=10^9."""
    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    ranks = materialize(
        nodes.join(outdeg, "node", "left").select(
            "node",
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            F.lit(scale).cast("long").alias("rank"),
        )
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = scale * 15 // 100

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        emitting = ranks.where(F.col("outdeg") > 0).withColumnRenamed(
            "node", "u"
        )
        contrib = (
            e.join(emitting, "u")
            .select(F.col("v").alias("node"), F.expr("rank DIV outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        dangling = ranks.where(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dang")
        )
        return (
            ranks.select("node", "outdeg")
            .join(contrib, "node", "left")
            .join(F.broadcast(dangling))
            .join(F.broadcast(n_nodes))
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + F.expr("(85 * (coalesce(s, 0L) + dang DIV n)) DIV 100")
                )
                .cast("long")
                .alias("rank"),
            )
        )

    ranks = iterate(ranks, step, iters)
    return ranks.select("node", F.col("rank").alias("rank_fp"))


def diameter_sweep(sym: DataFrame, max_hops: int = 8) -> DataFrame:
    """Diameter lower bound by the classic double BFS sweep (the iFUB/
    Magnien-Latapy-Habib estimate): BFS from a deterministic seed (the
    minimum node id), hop to the farthest node found (ties → smallest
    id), BFS again from there — the second eccentricity is a diameter
    lower bound that is exact on trees and empirically tight on real
    graphs. The one-number reachability health check: a KG whose
    estimated diameter jumps between snapshots grew a long weakly-linked
    chain (usually a linking failure).

    Fully in-plan: the seed and the periphery node are 1-row DataFrames
    flowing into bfs_distances' seed parameter — no driver-side argmax.
    Distances are bounded by ``max_hops``, so the bound is really
    min(diameter_lb, max_hops) on huge-diameter graphs (documented
    semantics, same bounded-rounds contract as bfs_distances). Output
    1 row: (seed, periphery, ecc_seed, diameter_lb, n_reached)."""
    nodes = sym.select(F.col("u").alias("node")).distinct()
    seed = nodes.agg(F.min("node").alias("node"))
    d1 = bfs_distances(sym, seed, max_hops=max_hops)
    periphery = (
        d1.orderBy(F.desc("dist"), "entity")
        .limit(1)
        .select(F.col("entity").alias("node"))
    )
    d2 = bfs_distances(sym, periphery, max_hops=max_hops)
    ecc1 = d1.agg(F.max("dist").cast("int").alias("ecc_seed"))
    ecc2 = d2.agg(
        F.max("dist").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )
    return (
        seed.select(F.col("node").alias("seed"))
        .join(F.broadcast(periphery.select(F.col("node").alias("periphery"))))
        .join(F.broadcast(ecc1))
        .join(F.broadcast(ecc2))
    )


def llr_association(ent: DataFrame) -> DataFrame:
    """Dunning log-likelihood-ratio association (Dunning, CL 1993) per
    chemical-disease pair — the KG edge-weighting statistic that stays
    calibrated where PMI (cooccurrence_pmi) explodes on rare pairs: G²
    compares the full 2×2 document-incidence contingency, so one
    co-occurrence of two singletons scores low instead of maximal.

      k11 = docs with both, k12 = chem only, k21 = dis only,
      k22 = neither;  G² = 2·(Σ xlnx(k) − Σ xlnx(row/col sums) + xlnx(N))

    Same plan family as the PMI twin: one doc-keyed pair join, the
    entity-dimension-sized marginals BROADCAST back (re-keying the much
    larger pair table by subj then obj would shuffle it twice), a
    1-row corpus total broadcast. The G² expression is a fixed scalar
    tree over exact integer cells — no float aggregation order exists to
    diverge across engines. Returns (subj, obj, n_co, llr), 6 dp."""
    a = ent.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    b = ent.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    pc = a.join(b, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).alias("n_co")
    )
    na = a.groupBy("subj").agg(F.count(F.lit(1)).alias("n_s"))
    nb = b.groupBy("obj").agg(F.count(F.lit(1)).alias("n_o"))
    dd = ent.agg(F.countDistinct("doc_id").alias("d_docs"))

    def xlnx(c):
        c = c.cast("double")
        return F.when(c > 0, c * F.log(c)).otherwise(F.lit(0.0))

    k11 = F.col("n_co")
    k12 = F.col("n_s") - F.col("n_co")
    k21 = F.col("n_o") - F.col("n_co")
    k22 = F.col("d_docs") - F.col("n_s") - F.col("n_o") + F.col("n_co")
    n = F.col("d_docs")
    g2 = 2.0 * (
        xlnx(k11) + xlnx(k12) + xlnx(k21) + xlnx(k22)
        - xlnx(k11 + k12) - xlnx(k21 + k22)
        - xlnx(k11 + k21) - xlnx(k12 + k22)
        + xlnx(n)
    )
    return (
        pc.join(F.broadcast(na), "subj")
        .join(F.broadcast(nb), "obj")
        .crossJoin(F.broadcast(dd))
        .select(
            "subj",
            "obj",
            F.col("n_co").cast("long").alias("n_co"),
            F.round(g2, 6).alias("llr"),
        )
    )


def pathsim_pairs(
    weighted: DataFrame,
    src: str = "subj",
    via: str = "obj",
    w_col: str = "w",
    k: int = 20,
) -> DataFrame:
    """PathSim metapath similarity (Sun et al., VLDB 2011) over the
    C-D-C metapath: two source entities are similar when they reach the
    same intermediates with similar STRENGTH, normalized so hubs don't
    win everything (the failure mode of raw path counts):

      paths(a,b) = Σ_d w(a,d)·w(b,d)
      pathsim(a,b) = 2·paths(a,b) / (paths(a,a) + paths(b,b))

    Input: the weighted bipartite incidence (src, via, w) — here w =
    document co-occurrence support. One self-join keyed on the
    intermediate (the hot-key axis: a hub disease fans out
    quadratically — df-cut the top intermediates exactly like
    ngram_jaccard's stop-shingle bound when |via| degree is unbounded),
    then two integer aggregates; the src-dimension-sized self-path
    table is broadcast onto the quadratic pair table (never the other
    way around). Exact integers until the one division; top-k by
    (pathsim, id ties). Returns (id_a, id_b, paths_ab, pathsim)."""
    e = weighted.select(
        F.col(src).alias("s"), F.col(via).alias("d"), F.col(w_col).alias("w")
    )
    a = e.select(F.col("s").alias("id_a"), "d", F.col("w").alias("wa"))
    b = e.select(F.col("s").alias("id_b"), "d", F.col("w").alias("wb"))
    cross = (
        a.join(b, "d")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("paths_ab"))
    )
    self_p = e.groupBy(F.col("s")).agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("paths_self")
    )
    return (
        cross.join(
            F.broadcast(
                self_p.select(
                    F.col("s").alias("id_a"), F.col("paths_self").alias("pa")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                self_p.select(
                    F.col("s").alias("id_b"), F.col("paths_self").alias("pb")
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "paths_ab",
            F.round(
                2.0 * F.col("paths_ab") / (F.col("pa") + F.col("pb")), 6
            ).alias("pathsim"),
        )
        .orderBy(F.desc("pathsim"), "id_a", "id_b")
        .limit(k)
    )


def community_quality(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity terms for a node partition — the
    audit that says whether LPA/components labels describe real graph
    structure or noise (Q near 0 = no better than random, Q ≥ ~0.3 =
    meaningful communities):

      q_term(c) = e_in(c)/m − (deg_sum(c)/(2m))²,   Q = Σ_c q_term

    ``sym`` is the symmetric edge list (both directions), ``labels`` =
    (entity, label). Each directed edge joins both endpoint labels (two
    key-shuffle joins); within-community directed edges halve to e_in
    exactly (symmetric input), degree sums ride the same edge pass, and
    m is a 1-row broadcast. Exact integers until the two divisions.
    Output: (label, n_nodes, e_in, deg_sum, q_term), 6 dp."""
    lu = labels.select(F.col("entity").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("entity").alias("v"), F.col("label").alias("lv"))
    e = sym.join(lu, "u").join(lv, "v")
    m = sym.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    per_label = (
        e.groupBy(F.col("lu").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("deg_sum"),
            (
                F.sum(F.when(F.col("lu") == F.col("lv"), 1).otherwise(0)) / 2
            ).cast("long").alias("e_in"),
        )
    )
    nodes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    md = F.col("m").cast("double")
    return (
        per_label.join(nodes, "label")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            "e_in",
            "deg_sum",
            F.round(
                F.col("e_in") / md
                - (F.col("deg_sum") / (2 * md)) * (F.col("deg_sum") / (2 * md)),
                6,
            ).alias("q_term"),
        )
    )


def link_prediction_features(
    sym: DataFrame, max_hub_deg: int = 50, min_common: int = 2
) -> DataFrame:
    """KG-completion feature table: the four classic topology features
    for every 2-hop NON-edge candidate pair, in one pass — the training
    matrix a link-prediction model consumes (Adamic-Adar alone, q117, is
    one column of this):

      common    — shared-neighbor count
      jaccard   — common / (deg_u + deg_v − common)   (full degrees)
      aa_score  — Σ_z 1/ln(deg_z)        (Adamic-Adar)
      ra_score  — Σ_z 1/deg_z            (resource allocation)
      pref_att  — deg_u · deg_v          (preferential attachment)

    Candidate generation wedges through shared neighbors with degree ≤
    ``max_hub_deg`` (the hub df-cut: an unbounded hub z contributes
    deg(z)² wedges and its 1/ln(deg) term is noise anyway); the
    normalizing degrees are the FULL degrees, attached after the
    aggregate. min_common prunes the long random tail before the join
    back. Existing edges are anti-joined away. Exact integers except
    the two float sums over ≤max_hub_deg-sized neighbor sets, 6 dp."""
    nz = sym.select(F.col("u").alias("z"), F.col("v").alias("x"))
    deg = nz.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    nzk = nz.join(deg, "z").where(F.col("deg") <= max_hub_deg)
    a = nzk.select("z", F.col("x").alias("u"), "deg")
    b = nzk.select("z", F.col("x").alias("v"))
    wedges = a.join(b, "z").where(F.col("u") < F.col("v"))
    cand = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.round(F.sum(1.0 / F.log("deg")) + F.lit(1e-9), 6).alias(
                "aa_score"
            ),
            F.round(
                F.sum(1.0 / F.col("deg").cast("double")) + F.lit(1e-9), 6
            ).alias("ra_score"),
        )
        .where(F.col("common") >= min_common)
    )
    non_edges = cand.join(sym, ["u", "v"], "left_anti")
    du = deg.select(F.col("z").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("z").alias("v"), F.col("deg").alias("deg_v"))
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            "aa_score",
            "ra_score",
            (F.col("deg_u") * F.col("deg_v")).cast("long").alias("pref_att"),
        )
    )


def topk_neighbor_graph(
    weighted: DataFrame,
    k: int = 3,
    src: str = "u",
    dst: str = "v",
    w_col: str = "w",
) -> DataFrame:
    """Graph sparsification by per-node top-k: keep each node's k
    strongest neighbors (rounded weight, neighbor-id ties), intersected
    with the reverse direction (MUTUAL top-k — the kNN-graph
    construction every graph-clustering / LPA / label-smoothing stage
    runs on a dense co-occurrence graph before iterating; hubs keep
    their k best but stop appearing in everyone else's list unless the
    affinity is reciprocal).

    One window partitioned by source node over the already-aggregated
    weighted edge list (per-node frames, bounded by max degree — df-cut
    upstream if a hub's degree is unbounded), then an equi-self-join for
    mutuality. Returns (u, v, w) directed survivors; a mutual edge keeps
    both rows."""
    e = weighted.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w_col).alias("w")
    )
    win = Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    kept = (
        e.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .select("u", "v", "w")
    )
    rev = kept.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return kept.join(rev, ["u", "v"]).select("u", "v", "w")


def boruvka_spanning_forest(
    edges: DataFrame,
    minimum: bool = True,
    max_rounds: int = 5,
    src: str = "u",
    dst: str = "v",
    w_col: str = "w",
) -> DataFrame:
    """Borůvka spanning forest — THE parallel MST algorithm (every round
    each component grabs its best incident edge, components at least
    halve, so ⌈log₂ n⌉ rounds total): minimum=True gives the classic
    MST; minimum=False the MAXIMUM spanning forest, i.e. the
    single-linkage similarity backbone of a co-occurrence graph (the
    dendrogram skeleton taxonomy-induction and hierarchical dedup cut).

    Per round: attach component labels to both edge endpoints (two key
    joins), keep cross-component edges, each component picks its best
    edge by (weight, u, v) — a per-component window whose frame is the
    component's frontier, then the accumulated forest relabels through
    connected_components (large-star/small-star).
    Tie-break by edge key = a consistent total order on edges, so the
    result is the unique spanning forest of the perturbed order —
    deterministic across engines and partitionings (weights here are
    exact integers). The per-round emptiness check is one tiny count
    (same driver-action budget as k-core's early exit). Returns the
    forest edges (u, v, w)."""
    from bran_spark.operators.components import connected_components

    e = materialize(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w_col).alias("w")
        )
    )
    nodes = materialize(
        e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
    )
    order_w = F.asc("w") if minimum else F.desc("w")

    # state = (forest so far, edges picked last round): each round merges
    # last round's picks, relabels, and picks again; it stops once a round
    # picks nothing
    def grow(state: tuple, _r: int) -> tuple:
        chosen, picked = state
        chosen = chosen.unionByName(picked).dropDuplicates()
        cc = connected_components(
            chosen.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        )
        labels = nodes.join(
            cc.select(F.col("node"), F.col("component")), "node", "left"
        ).select("node", F.coalesce("component", F.col("node")).alias("lab"))
        la = labels.select(F.col("node").alias("u"), F.col("lab").alias("lu"))
        lb = labels.select(F.col("node").alias("v"), F.col("lab").alias("lv"))
        cross = (
            e.join(la, "u").join(lb, "v").where(F.col("lu") != F.col("lv"))
        )
        cand = cross.select(
            F.col("lu").alias("comp"), "u", "v", "w"
        ).unionByName(cross.select(F.col("lv").alias("comp"), "u", "v", "w"))
        win = Window.partitionBy("comp").orderBy(order_w, F.asc("u"), F.asc("v"))
        picked = (
            cand.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") == 1)
            .select("u", "v", "w")
            .dropDuplicates()
        )
        return chosen, picked

    none = e.where(F.lit(False))
    chosen, picked = iterate(
        (none, none), grow, max_rounds, until=lambda s: s[1].isEmpty()
    )
    return chosen.unionByName(picked).dropDuplicates()


def maximal_matching(
    edges: DataFrame, max_rounds: int = 8
) -> DataFrame:
    """Greedy distributed maximal matching (the Israeli-Itai local
    pattern): repeatedly match every edge that is the BEST incident
    edge of BOTH its endpoints, drop matched vertices, repeat. The
    one-to-one pairing primitive KG fusion needs where align_entities'
    independent per-row argmax can hand one target to many sources —
    a matching guarantees each entity is used at most once.

    Priority is deterministic and support-aware: lexicographic on
    (zero-padded 10¹⁸−w, md5(u:v)) — heavier edges win locally, the
    hash breaks ties identically in every engine, no RNG. Weights must
    lie in [0, 10¹⁸): the fixed 19-digit field means a wider weight
    would truncate and collide (a lighter edge could then beat a
    heavier one on the md5 tiebreak). Each round is two
    dimension-light aggregates over the live incidence list + one
    anti-join, materialized per round. Every returned edge set
    is a valid matching after ANY number of rounds; maximality is
    reached in O(log n) rounds w.h.p. — ``max_rounds`` bounds the
    iteration, and matched coverage is monotone in rounds. Input:
    undirected (u, v, w) with u < v. Output: matched (u, v, w),
    ordered."""
    pri = F.concat(
        F.lpad(
            (F.lit(1_000_000_000_000_000_000) - F.col("w")).cast("string"),
            19,
            "0",
        ),
        F.md5(F.concat_ws(":", F.col("u"), F.col("v"))),
    )
    matched: list[DataFrame] = []

    def match(live: DataFrame, _r: int) -> DataFrame:
        inc = live.select(F.col("u").alias("x"), "pri").unionByName(
            live.select(F.col("v").alias("x"), "pri")
        )
        best = inc.groupBy("x").agg(F.min("pri").alias("bp"))
        # read twice (the result and the retirement): materialized
        m = materialize(
            live.join(
                best.select(F.col("x").alias("u"), F.col("bp").alias("bu")),
                "u",
            )
            .join(
                best.select(F.col("x").alias("v"), F.col("bp").alias("bv")),
                "v",
            )
            .where((F.col("pri") == F.col("bu")) & (F.col("pri") == F.col("bv")))
            .select("u", "v", "w")
        )
        matched.append(m)
        gone = m.select(F.col("u").alias("x")).unionByName(
            m.select(F.col("v").alias("x"))
        ).distinct()
        return (
            live.join(gone.withColumnRenamed("x", "u"), "u", "left_anti")
            .join(gone.withColumnRenamed("x", "v"), "v", "left_anti")
            .select("u", "v", "w", "pri")
        )

    live = materialize(
        edges.select("u", "v", F.col("w").cast("long").alias("w")).withColumn(
            "pri", pri
        )
    )
    iterate(live, match, max_rounds, until=DataFrame.isEmpty)
    if not matched:
        return edges.select("u", "v", F.col("w").cast("long").alias("w")).limit(0)
    return _union_all(matched).orderBy("u", "v")


def wl_refinement(
    edges: DataFrame, rounds: int = 2, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Weisfeiler-Lehman color refinement (1-WL; Weisfeiler & Leman
    1968, the graph-isomorphism heuristic behind WL graph kernels and
    the expressiveness bound of message-passing GNNs): start every node
    at its degree, then repeatedly recolor each node with a hash of
    (own color, SORTED multiset of neighbor colors). The per-round color
    histogram is a canonical graph signature — two KG snapshots whose
    histograms diverge are structurally different, and the refinement
    rate (how fast n_colors grows) measures structural heterogeneity.

    ``edges`` must be SYMMETRIC (both directions present — see
    symmetric_edges). Colors are md5int8 hashes of the canonical
    signature string, so both engines derive identical BIGINTs. One
    neighbor-keyed aggregate + one node-keyed join per round; the
    sorted-list signature is exact 1-WL — its length is a node's
    degree, so at whale-degree scale swap in an order-free combine
    (sum of per-neighbor hashes) and document the collision trade.

    Output: one row per round (round, n_colors, max_class), rounds
    0..``rounds``, ordered — n_colors non-decreasing in round."""
    from bran_spark.operators.kglearn import md5int8

    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    colors = e.groupBy(F.col("_u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    summaries = []

    def _summary(cdf: DataFrame, r: int) -> DataFrame:
        return (
            cdf.groupBy("c")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .agg(
                F.lit(r).cast("int").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_colors"),
                F.max("n").cast("long").alias("max_class"),
            )
        )

    # each round reads ``colors`` twice (neighbor side + own side), so the
    # lazy plan doubles per round and ``iterate`` cuts it every few rounds
    def refine(colors: DataFrame, r: int) -> DataFrame:
        summaries.append(_summary(colors, r - 1))
        nb = (
            e.join(colors.withColumnRenamed("node", "_v"), "_v")
            .groupBy(F.col("_u").alias("node"))
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("c")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("sig")
            )
        )
        return colors.join(nb, "node", "left").select(
            "node",
            md5int8(
                F.concat_ws(
                    "|", F.col("c").cast("string"), F.coalesce("sig", F.lit(""))
                )
            ).alias("c"),
        )

    colors = iterate(colors, refine, rounds)
    summaries.append(_summary(colors, rounds))
    return _union_all(summaries).orderBy("round")


def butterfly_count(
    edges: DataFrame,
    left: str = "u",
    right: str = "v",
    max_pivot_deg: int | None = None,
) -> DataFrame:
    """Bipartite butterfly (2×2 biclique) census — the bipartite
    analogue of the triangle count (Sanei-Mehri et al., KDD 2018):
    butterflies = Σ_{u1<u2} C(codeg(u1,u2), 2), the motif behind
    bipartite clustering coefficients and dense-subgraph peeling in
    user-item / doc-entity graphs.

    Wedges pivot on the RIGHT vertex: a right node of degree d spawns
    C(d,2) left-pairs, so the exact count costs Σ C(d,2) join rows —
    the same C(d,2) blowup project_bipartite bounds; ``max_pivot_deg``
    applies the identical broadcast df-cut (hot pivots excluded, count
    becomes a documented lower bound; the exact default is for
    dimension-bounded pivots). One distinct, one degree aggregate, one
    self-join on the pivot, one (u1,u2)-keyed count, 1-row rollup.

    Output: 1 row (n_left, n_right, n_edges, n_wedges, n_butterflies)
    — all exact BIGINTs."""
    e = edges.select(
        F.col(left).alias("_l"), F.col(right).alias("_r")
    ).distinct()
    if max_pivot_deg is not None:
        hot = (
            e.groupBy("_r")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") > max_pivot_deg)
            .select("_r")
        )
        e = e.join(F.broadcast(hot), "_r", "left_anti")
    stats = e.groupBy("_r").agg(F.count(F.lit(1)).cast("long").alias("d"))
    base = stats.agg(
        F.count(F.lit(1)).cast("long").alias("n_right"),
        F.sum("d").cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) div 2"))
        .cast("long")
        .alias("n_wedges"),
    )
    nleft = e.agg(F.countDistinct("_l").cast("long").alias("n_left"))
    a = e.select(F.col("_r"), F.col("_l").alias("u1"))
    b = e.select(F.col("_r"), F.col("_l").alias("u2"))
    codeg = (
        a.join(b, "_r")
        .where(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).cast("long").alias("cd"))
    )
    # `div` keeps C(n,2) in pure BIGINT arithmetic (a double quotient
    # would round above 2^53, breaking the docstring's exactness claim)
    bf = codeg.agg(
        F.coalesce(
            F.sum(F.expr("cd * (cd - 1) div 2")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_butterflies")
    )
    return nleft.crossJoin(base).crossJoin(bf).select(
        "n_left", "n_right", "n_edges", "n_wedges", "n_butterflies"
    )


def node2vec_walks(
    sym: DataFrame,
    p: float = 1.0,
    q: float = 1.0,
    n_walks: int = 2,
    walk_len: int = 3,
) -> DataFrame:
    """Second-order biased random walks (node2vec; Grover & Leskovec,
    KDD 2016) — deterministic_walks' upgrade from DeepWalk to the p/q
    return/in-out dial: at (prev → cur), candidate w is weighted 1/p if
    w = prev (return), 1 if w is ALSO prev's neighbor (stay local,
    BFS-ish), 1/q otherwise (explore outward, DFS-ish). Step 1 from the
    start node is first-order uniform, as in the paper.

    Sampling stays deterministic AND exactly proportional via the
    Gumbel-max trick: each candidate draws u from the md5 coin
    (start:cur:w:walk_id:t), and argmax_w [ln(weight_w) + Gumbel(u)]
    samples w with probability weight_w / Σ weights — no cumulative-sum
    scan, O(deg) per state row, one array_max over the packed neighbor
    array. Scores round to 6 dp before the argmax and ties break to the
    larger node id (struct compare), so both engines walk identically.

    Scale shape: adjacency packs once (one groupBy); each step is TWO
    equi-joins of the constant-width frontier (neighbors of cur +
    neighbors of prev for the distance-1 test) — walk_len·2 joins
    total, no shuffle growth. The membership probe is
    array_contains over prev's packed array: O(deg(cur)·deg(prev)) per
    row — on hub-heavy graphs cap degrees upstream (the df-cut every
    projection here uses) or pre-bucket the distance-1 test as a join.

    Returns (start, walk_id, step, node), step 0 = start; weights are
    micro-integers (round(1e6/p), round(1e6/q)) so the bias dial is
    engine-exact."""
    inv_p = int(round(1000000.0 / p))
    inv_q = int(round(1000000.0 / q))
    # adj is referenced 2×/step plus the seed/step-1 joins — materialized
    # so every reference reads one table. The steps compose lazily (no
    # lambda HOF remains in the step expressions, see below); the emitted
    # rows of every step reference its walk state, so the lazy plan grows
    # quadratically with walk length and ``iterate`` cuts deep walks.
    adj = materialize(
        sym.groupBy("u").agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
    )
    from bran_spark.operators.kglearn import md5int8

    state = (
        adj.select(F.col("u").alias("start"))
        .select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias(
                "walk_id"
            ),
        )
        .withColumn("cur", F.col("start"))
    )
    out = state.select(
        "start", "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
    )

    def first_step(state: DataFrame) -> DataFrame:
        # first-order uniform (no prev yet), q86's selection rule
        idx = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("cur"), F.col("walk_id"), F.lit(1))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        return state.join(adj, state["cur"] == adj["u"]).select(
            "start",
            "walk_id",
            F.col("cur").alias("prev"),
            F.element_at(
                F.col("nbrs"), (idx % F.size("nbrs") + 1).cast("int")
            ).alias("cur"),
        )

    def biased_step(state: DataFrame, t: int) -> DataFrame:
        a_cur = adj.select(F.col("u").alias("_cu"), F.col("nbrs").alias("nbrs"))
        a_prev = adj.select(
            F.col("u").alias("_pu"), F.col("nbrs").alias("pnbrs")
        )
        joined = state.join(a_cur, state["cur"] == F.col("_cu")).join(
            a_prev, state["prev"] == F.col("_pu")
        )
        # candidates are EXPLODED to rows and the winner taken with a
        # grouped max(struct) — NOT an array_max over a transform()
        # lambda: evaluating that HOF on the output of the broadcast
        # joins returned row-dependent wrong scores in full-table
        # whole-stage codegen (correct when the same plan was filtered
        # to one row first — a lambda-binding corner, cousin of the
        # q248 relation-dedup one). Plain per-row expressions cannot
        # mis-bind; the price is one (start, walk_id)-keyed shuffle per
        # step, the same cadence every iterative graph op here pays.
        # (This lambda-free shape is also what makes the lazy step
        # composition safe — see the adj note.)
        w = F.col("w")
        wt = (
            F.when(w == F.col("prev"), F.lit(inv_p))
            .when(F.array_contains(F.col("pnbrs"), w), F.lit(1000000))
            .otherwise(F.lit(inv_q))
        ).cast("double")
        u = (
            (
                md5int8(
                    F.concat_ws(
                        ":",
                        F.col("start"),
                        F.col("cur"),
                        w,
                        F.col("walk_id"),
                        F.lit(t),
                    )
                )
                % 1000000
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(1000000.0)
        score = F.round(F.log(wt) + (-F.log(-F.log(u))), 6)
        cand = joined.select(
            "start", "walk_id", "prev", "cur", "pnbrs",
            F.explode("nbrs").alias("w"),
        ).select(
            "start", "walk_id", "cur",
            F.struct(score.alias("s"), w.alias("w")).alias("sw"),
        )
        return (
            cand.groupBy("start", "walk_id", "cur")
            .agg(F.max("sw").alias("mx"))
            .select(
                "start",
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("mx").getField("w").alias("cur"),
            )
        )

    def step(walk: tuple, t: int) -> tuple:
        state, out = walk
        state = first_step(state) if t == 1 else biased_step(state, t)
        return state, out.union(
            state.select(
                "start", "walk_id", F.lit(t).alias("step"),
                F.col("cur").alias("node"),
            )
        )

    _, out = iterate((state, out), step, walk_len)
    return out.select(
        "start", F.col("walk_id").cast("int"), F.col("step").cast("int"),
        "node",
    )


def hub_ablation(
    sym: DataFrame, k: int = 20
) -> DataFrame:
    """Targeted-attack resilience audit (Albert, Jeong & Barabási 2000):
    remove the k highest-degree hubs and compare the component structure
    before/after — the robustness question a KG operator asks before
    trusting connectivity-derived features (PageRank, closures, walks):
    does the graph's cohesion hang on a handful of promiscuous entities
    (usually extraction artifacts) or is it structural?

    ``sym`` must be symmetric. Hubs are the deterministic top-k by
    (degree DESC, id ASC) — a TakeOrdered, broadcast to two anti-joins.
    Components run twice via the large-star/small-star operator
    (components.connected_components, O(log² n) rounds); after ablation,
    surviving nodes whose every neighbor was a hub are counted as
    singleton components (the node set is all non-hub nodes, not just
    edge endpoints). Output: 2 rows (phase, n_nodes, n_edges,
    n_components, largest_cc), 'before' then 'after'."""
    from bran_spark.operators.components import connected_components

    und = materialize(
        sym.select(F.col("u"), F.col("v")).where(F.col("u") < F.col("v")).distinct()
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()

    def _stats(phase, nodeset, edges):
        cc = connected_components(edges, src="u", dst="v")
        sizes = (
            nodeset.join(cc, nodeset["node"] == cc["node"], "left")
            .select(
                nodeset["node"],
                F.coalesce(cc["component"], nodeset["node"]).alias("comp"),
            )
            .groupBy("comp")
            .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        )
        ecnt = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        return (
            sizes.agg(
                F.sum("sz").cast("long").alias("n_nodes"),
                F.count(F.lit(1)).cast("long").alias("n_components"),
                F.max("sz").cast("long").alias("largest_cc"),
            )
            .crossJoin(F.broadcast(ecnt))
            .select(
                F.lit(phase).alias("phase"),
                "n_nodes",
                "n_edges",
                "n_components",
                "largest_cc",
            )
        )

    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    hubs = materialize(deg.orderBy(F.desc("d"), F.asc("u")).limit(k).select("u"))
    keep_nodes = nodes.join(
        F.broadcast(hubs.withColumnRenamed("u", "node")), "node", "left_anti"
    )
    e_after = materialize(
        und.join(F.broadcast(hubs), "u", "left_anti").join(
            F.broadcast(hubs.withColumnRenamed("u", "v")), "v", "left_anti"
        )
    )
    out = _stats("before", nodes, und).unionByName(
        _stats("after", keep_nodes, e_after)
    )
    # 'before' > 'after' lexicographically, so DESC yields before-first
    return out.orderBy(F.desc("phase"))


def inverse_predicates(triples: DataFrame, min_common: int = 1) -> DataFrame:
    """PARIS-style INVERSE-predicate alignment: for every predicate pair
    (p1 ≤ p2), the overlap between ext(p1) and the REVERSED extension of
    p2 — the signal that flags p2 as p1's inverse (has_part / part_of,
    supplied_by / supplies) when heterogeneous KG feeds are fused. The
    diagonal rows (p1 = p2) measure each predicate's RECIPROCITY — the
    fraction of its edges asserted in both directions — so a perfectly
    symmetric relation surfaces as containment 1.0 against itself.
    Complements align_predicates, which only sees direct (subj, obj)
    agreement and is blind to inverted feeds.

    Shape: one DISTINCT over (pred, subj, obj); the candidate join is an
    equi-join matching a.(subj, obj) to b.(obj, subj) — an entity-PAIR
    key, never a predicate cross product, so fan-out per pair is the
    number of predicates asserting that exact ordered pair (tiny for
    typed KGs). Since (s,o) ∈ ext(p1) ∩ inv(ext(p2)) ⇔ (o,s) ∈ ext(p2)
    ∩ inv(ext(p1)), the relation is symmetric and the p1 ≤ p2 canonical
    form loses nothing; diagonal matches count each reciprocated
    UNORDERED pair twice, consistent with n1 = n2 = the full extension
    size. Per-predicate sizes are a #preds-row broadcast. Output: p1,
    p2, n_common, n1, n2, jaccard, containment — same contract as
    align_predicates."""
    ext = triples.select("pred", "subj", "obj").distinct()
    sizes = ext.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    common = (
        ext.select(F.col("pred").alias("p1"), "subj", "obj")
        .join(
            ext.select(
                F.col("pred").alias("p2"),
                F.col("obj").alias("subj"),
                F.col("subj").alias("obj"),
            ),
            ["subj", "obj"],
        )
        .where(
            (F.col("p1") < F.col("p2"))
            | (
                (F.col("p1") == F.col("p2"))
                & (F.col("subj") != F.col("obj"))
            )
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    s1 = F.broadcast(sizes.select(F.col("pred").alias("p1"), F.col("n").alias("n1")))
    s2 = F.broadcast(sizes.select(F.col("pred").alias("p2"), F.col("n").alias("n2")))
    return (
        common.join(s1, "p1")
        .join(s2, "p2")
        .select(
            "p1", "p2", "n_common", "n1", "n2",
            F.round(
                F.col("n_common")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common") / F.least("n1", "n2"), 6
            ).alias("containment"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 4,
    beta_num: int = 5,
    beta_den: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953) on a DIRECTED edge list in
    exact integer arithmetic: x(v) = Σ_{k≤iters} β^k · |walks of length
    k ending at v|, the attenuated-walk-count centrality that — unlike
    PageRank — does NOT dilute a node's contribution by its out-degree,
    so a hub pointing at many entities endorses each one fully. The KG
    ranking used where citation-style accumulation is wanted (how
    reachable is this entity through short predicate chains?).

    Per iteration x ← scale + (β_num · Σ_{u→v} x(u)) DIV β_den: the
    neighbor sum is an associative BIGINT reduce and the β attenuation
    is ONE floor division after it, so the fixed point is bit-identical
    across partitionings and engines (float Katz would drift with
    reduction order; same argument as pagerank_fixed_point / HITS).
    Floor truncation loses < 1 fixed-point ulp per round — document,
    don't hide. Convergence needs β < 1/λ_max; with fixed iters the
    result is the truncated series regardless, and the overflow bound
    is scale·(β_num·d_in_max/β_den)^iters < 2^63 — at the defaults
    (β = 0.05, scale 10^6) an in-degree ≲ 20/β per hot node is safe for
    4 iterations; raise beta_den or drop scale beyond that.

    Shape: 1 shuffle per iteration (groupBy dst) + a node-set left join;
    edges and nodes are materialized once and the rounds compose lazily
    (a linear chain, see pagerank_fixed_point).
    Output: (node, katz_fp) — fixed-point micro units, floor(x·10^6/
    scale) semantics, base mass scale = every node's own empty walk."""
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def step(x: DataFrame, _r: int) -> DataFrame:
        raw = (
            e.join(x.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("x").cast("long").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        return nodes.join(raw, "node", "left").select(
            "node",
            (
                F.lit(scale).cast("long")
                + F.expr(
                    f"(coalesce(s, 0L) * {beta_num}) DIV {beta_den}"
                ).cast("long")
            ).alias("x"),
        )

    x = iterate(nodes.withColumn("x", F.lit(scale).cast("long")), step, iters)
    return x.select("node", F.col("x").alias("katz_fp"))


def scc(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 8,
    max_hops: int = 32,
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list — the
    directed completion of components.connected_components: which
    entities are mutually reachable through predicate chains? A KG
    needs this before trusting any DAG-assuming pass (ancestor_closure,
    transitive_reduction, dag-ordered rules): every non-singleton SCC
    is a cycle cluster that must be condensed or adjudicated first
    (cycle_residue says WHETHER cycles exist; scc says WHICH nodes
    share them).

    FW-BW-Trim peeling (Fleischer/Hendrickson/Pınar 2000 family, label
    variant of Orzan's coloring): per outer round (1) TRIM — nodes with
    no in- or no out-edge in the active subgraph are singleton SCCs,
    peeled iteratively (a DAG fully dissolves here, cycle_residue's
    step); (2) min-label fixpoints f(v) = min ancestor id, b(v) = min
    descendant id over the active subgraph; (3) nodes with f = b = m
    form EXACTLY SCC(m) (mutual reachability with m; any smaller member
    would be a smaller ancestor) and are peeled with scc_id = m — the
    active minimum always resolves, so every round strictly shrinks.
    Rounds needed ≈ the depth of the SCC condensation chain between
    same-label regions; raises on non-convergence rather than returning
    a partial labeling (kcore's contract).

    Shape per round: trim = two distinct-projections + two semi-joins on
    the shrinking edge list; each fixpoint hop = one edge join + one
    min-aggregate + a change count (all on active nodes only),
    materialized per hop. No broadcast of anything graph-sized, no
    collect. Output: (node, scc_id) for every node, scc_id = min member
    id; singletons (and self-loop-only nodes) map to themselves."""
    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # node set from the ORIGINAL edges so self-loop-only nodes (dropped
    # from e) still appear in the output — the first trim peels them as
    # the singletons they are
    active_nodes = materialize(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    done: list[DataFrame] = []

    def _restrict(ed: DataFrame, keep: DataFrame) -> DataFrame:
        return ed.join(keep.withColumnRenamed("node", "u"), "u", "left_semi").join(
            keep.withColumnRenamed("node", "v"), "v", "left_semi"
        )

    def _trim(state: tuple, _r: int) -> tuple:
        # peel nodes with no in- or no out-edge (singletons); the state's
        # third frame is last hop's peel, empty at the fixed point
        active, ed, peeled = state
        done.append(peeled.select("node", F.col("node").alias("scc_id")))
        keep = materialize(  # read three times below
            ed.select(F.col("u").alias("node"))
            .distinct()
            .join(ed.select(F.col("v").alias("node")).distinct(), "node")
        )
        return (
            active.join(keep, "node", "left_semi"),
            _restrict(ed, keep),
            active.join(keep, "node", "left_anti"),
        )

    def _min_label_fixpoint(nodes, ed, forward: bool) -> DataFrame:
        a, b = ("u", "v") if forward else ("v", "u")

        def _hop(lab: DataFrame, _r: int) -> DataFrame:
            upd = (
                ed.join(
                    lab.select(F.col("node").alias(a), "lab"), a
                )
                .groupBy(F.col(b).alias("node"))
                .agg(F.min("lab").alias("nlab"))
            )
            # chg rides the materialized hop output so convergence needs
            # only a filter scan of it — not a second join-the-previous-
            # round job per hop
            return lab.join(upd, "node", "left").select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce("nlab", F.col("lab"))
                ).alias("lab"),
                (
                    F.col("nlab").isNotNull()
                    & (F.col("nlab") < F.col("lab"))
                ).alias("chg"),
            )

        # one hop per materialization: each hop references lab twice, so
        # a lazy inner hop would re-execute
        lab = converge(
            materialize(nodes.withColumn("lab", F.col("node"))), _hop, max_hops,
            lambda lab: lab.where("chg").isEmpty(), "scc min-label fixpoint",
        )
        return lab.select("node", "lab")

    def _peel(state: tuple, _r: int) -> tuple:
        active, ed = state
        active, ed, _ = converge(
            (active, ed, active.limit(0)), _trim, max_hops,
            lambda s: s[2].isEmpty(), "scc trim",
        )
        if active.isEmpty():
            return active, ed
        # ---- min-label both directions, peel the agreeing SCCs
        # the forward and backward fixpoints are independent (both read
        # only the frozen active/ed frames), so their per-hop job streams
        # run from two driver threads and interleave on the executors
        # (guide §2.6 — the PQ-codebook pattern). Results are
        # bit-identical: each loop's hops stay ordered within its thread.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fut = pool.submit(_min_label_fixpoint, active, ed, True)
            b_fut = pool.submit(_min_label_fixpoint, active, ed, False)
            f, bk = f_fut.result(), b_fut.result()
        resolved = materialize(
            f.join(bk.withColumnRenamed("lab", "blab"), "node")
            .where(F.col("lab") == F.col("blab"))
            .select("node", F.col("lab").alias("scc_id"))
        )
        done.append(resolved)
        active = active.join(resolved, "node", "left_anti")
        return active, _restrict(ed, active)

    converge(
        (active_nodes, e), _peel, max_rounds, lambda s: s[0].isEmpty(),
        "scc peeling",
    )
    return _union_all(done)
