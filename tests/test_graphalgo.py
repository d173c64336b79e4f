"""Graph analytics: PageRank (fixed-point), triangle counting
(degree-ordered orientation), BFS, bipartite projection — plus the
stratified sampler and the new curation operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from bran_spark.operators.graphalgo import (
    PR_SCALE,
    bfs_distances,
    pagerank_fixed_point,
    project_bipartite,
    symmetric_edges,
    triangle_counts,
)
from bran_spark.operators.sampling import stratified_sample


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "subj string, obj string")


def _local_pagerank(adj: dict[str, list[str]], iters: int) -> dict[str, int]:
    """Reference implementation of the exact integer recurrence."""
    base = PR_SCALE * 15 // 100
    rank = {u: PR_SCALE for u in adj}
    for _ in range(iters):
        sums = {u: 0 for u in adj}
        for u, nbrs in adj.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                sums[v] += c
        rank = {u: base + (85 * sums[u]) // 100 for u in adj}
    return rank


def test_pagerank_matches_local_reference(spark):
    pairs = [("a", "x"), ("a", "y"), ("b", "x"), ("c", "y"), ("c", "z")]
    adj: dict[str, list[str]] = {}
    for s, o in pairs:
        adj.setdefault(s, []).append(o)
        adj.setdefault(o, []).append(s)
    expect = _local_pagerank(adj, iters=5)
    got = {
        r["entity"]: r["rank_fp"]
        for r in pagerank_fixed_point(
            symmetric_edges(_edges(spark, pairs)), iters=5
        ).collect()
    }
    assert got == expect
    # probability mass is conserved up to integer-floor loss (never grows)
    assert sum(got.values()) <= len(adj) * PR_SCALE


def test_triangle_counts_no_vertex_broadcast_by_default(spark):
    """Scale guard: the |V|-sized degree-key attach must NOT be broadcast
    — a 10^8-node vertex set would OOM the broadcast. Plan: zero
    BroadcastExchange anywhere (wedge + closing joins are self-joins of
    the edge list)."""
    from bran_spark.operators.graphalgo import oriented_edges

    pairs = [(f"c{i}", f"d{i % 4}") for i in range(16)]
    proj = project_bipartite(_edges(spark, pairs)).localCheckpoint(eager=True)
    # the key-attach lives BEFORE triangle_counts' lineage-truncating
    # checkpoint, so assert on oriented_edges' own plan
    plan_default = (
        oriented_edges(proj)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" not in plan_default


def test_pagerank_partition_invariant(spark):
    pairs = [(f"c{i}", f"d{i % 3}") for i in range(20)]
    sym = symmetric_edges(_edges(spark, pairs))
    a = sorted(pagerank_fixed_point(sym.repartition(1), iters=3).collect())
    b = sorted(pagerank_fixed_point(sym.repartition(7), iters=3).collect())
    assert a == b


def test_triangle_counts_k4(spark):
    # K4: 4 triangles total, each node in exactly C(3,2)=3 of them
    nodes = ["a", "b", "c", "d"]
    e = [
        (u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]
    ]
    edges = spark.createDataFrame(e, "u string, v string")
    got = {r["entity"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {n: 3 for n in nodes}


def test_triangle_counts_path_has_none(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "u string, v string"
    )
    assert triangle_counts(edges).count() == 0


def test_project_bipartite_drops_hot_pivot(spark):
    # pivot "hot" links 5 sources (> max 3) and must not generate edges;
    # pivot "ok" links s1,s2 only
    pairs = [(f"s{i}", "hot") for i in range(5)] + [("s1", "ok"), ("s2", "ok")]
    proj = project_bipartite(_edges(spark, pairs), max_pivot_deg=3).collect()
    assert {(r["u"], r["v"]) for r in proj} == {("s1", "s2")}


def test_bfs_distances_path(spark):
    pairs = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5")]
    sym = symmetric_edges(spark.createDataFrame(pairs, "subj string, obj string"))
    seeds = spark.createDataFrame([("n0",)], "u string")
    got = {r["entity"]: r["dist"] for r in bfs_distances(sym, seeds, max_hops=3).collect()}
    # n4/n5 are beyond 3 hops and absent
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}


def test_stratified_sample_deterministic_and_nested(spark, testdata_dir):
    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    lo = stratified_sample(docs, "lang", {"en": 0.1}, default_rate=0.2)
    hi = stratified_sample(docs, "lang", {"en": 0.3}, default_rate=0.5)
    lo_ids = {r["doc_id"] for r in lo.select("doc_id").collect()}
    lo_ids2 = {r["doc_id"] for r in lo.select("doc_id").collect()}
    hi_ids = {r["doc_id"] for r in hi.select("doc_id").collect()}
    assert lo_ids == lo_ids2          # deterministic across runs
    assert lo_ids <= hi_ids           # threshold samples are nested
    n = docs.count()
    assert 0 < len(lo_ids) < n


def test_duplicated_ngram_stats_flags_shared_passage(spark):
    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " tail a"),
        (2, shared + " tail b"),
        (3, "totally different words with no overlap at all here"),
    ]
    from bran_spark.operators.dedup import duplicated_ngram_stats

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in duplicated_ngram_stats(df, "doc_id", "text", n=8).collect()}
    assert got[1]["n_dup"] >= 1 and got[2]["n_dup"] >= 1
    assert got[3]["n_dup"] == 0
    assert 0 < got[1]["dup_frac"] <= 1.0


def test_tfidf_top_terms_ranks_distinctive_word(spark):
    from bran_spark.operators.search import tfidf_top_terms

    rows = [
        (1, "common common zebra"),
        (2, "common common common"),
        (3, "common words only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = tfidf_top_terms(df, k=1).collect()
    d1 = next(r for r in top if r["doc_id"] == 1)
    assert d1["term"] == "zebra"      # unique term beats the stop-ish word
    assert d1["df"] == 1


def test_canonical_surface_forms_argmax_and_tiebreak(spark):
    from bran_spark.operators.linking import canonical_surface_forms

    rows = [
        ("M1", "aspirin"), ("M1", "aspirin"), ("M1", "asa"),
        ("M2", "b-form"), ("M2", "a-form"),   # tie → lexicographic
    ]
    df = spark.createDataFrame(rows, "mesh_id string, text string")
    got = {r["mesh_id"]: (r["surface"], r["n_mentions"]) for r in canonical_surface_forms(df).collect()}
    assert got == {"M1": ("aspirin", 2), "M2": ("a-form", 1)}


def test_label_propagation_two_cliques(spark):
    # two disjoint triangles: each converges to its own min label
    e = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
         ("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    sym = symmetric_edges(spark.createDataFrame(e, "subj string, obj string"))
    from bran_spark.operators.graphalgo import label_propagation

    got = {r["entity"]: r["label"] for r in label_propagation(sym, iters=4).collect()}
    assert {got[n] for n in ("a1", "a2", "a3")} == {"a1"}
    assert {got[n] for n in ("b1", "b2", "b3")} == {"b1"}


def test_cooccurrence_pmi_known_values(spark):
    import math

    from bran_spark.operators.graphalgo import cooccurrence_pmi

    # 4 docs: (c1,d1) together twice, c1 in 3 docs, d1 in 2 docs
    rows = [
        (1, "c1", "Chemical"), (1, "d1", "Disease"),
        (2, "c1", "Chemical"), (2, "d1", "Disease"),
        (3, "c1", "Chemical"), (3, "d2", "Disease"),
        (4, "c2", "Chemical"), (4, "d2", "Disease"),
    ]
    ent = spark.createDataFrame(rows, "doc_id long, mesh_id string, type string")
    got = {(r["subj"], r["obj"]): r for r in cooccurrence_pmi(ent).collect()}
    r = got[("c1", "d1")]
    assert r["n_co"] == 2
    assert r["pmi"] == round(math.log((2 * 4) / (3 * 2)), 6)


def test_negative_samples_deterministic_and_flagged(spark):
    from bran_spark.operators.sampling import negative_samples

    pos = spark.createDataFrame(
        [("s1", "o1"), ("s1", "o2"), ("s2", "o1")], "subj string, obj string"
    )
    pool = spark.createDataFrame([("o1",), ("o2",), ("o3",)], "ent string")
    a = sorted(map(tuple, negative_samples(pos, pool, k=2).collect()))
    b = sorted(map(tuple, negative_samples(pos, pool, k=2).collect()))
    assert a == b                      # deterministic
    assert len(a) == 6                 # k negatives per positive
    for subj, obj, i, neg, coll in a:
        # collision flag is consistent with the positive set
        is_pos = (subj, neg) in {("s1", "o1"), ("s1", "o2"), ("s2", "o1")}
        assert coll == int(is_pos)


def test_ancestor_closure_diamond_shortest_depth(spark):
    from bran_spark.operators.graphalgo import ancestor_closure

    # diamond: d -> b -> a, d -> c -> a, plus direct d -> a
    e = [("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("d", "a")]
    df = spark.createDataFrame(e, "child string, parent string")
    got = {(r["child"], r["ancestor"]): r["depth"] for r in ancestor_closure(df).collect()}
    assert got[("d", "a")] == 1      # direct edge wins over the 2-hop paths
    assert got[("d", "b")] == 1 and got[("b", "a")] == 1
    assert len(got) == 5


def test_ancestor_closure_matches_fixture_ancestors(spark, fx_dir):
    from bran_spark.operators.graphalgo import ancestor_closure

    d = spark.read.parquet(f"{fx_dir}/mesh_dict.parquet")
    edges = d.select(
        F.col("mesh_id").alias("child"), F.explode("parents").alias("parent")
    )
    got = (
        ancestor_closure(edges, max_depth=10)
        .groupBy("child")
        .agg(F.sort_array(F.collect_set("ancestor")).alias("anc"))
    )
    stored = d.select(
        F.col("mesh_id").alias("child"), F.sort_array(F.col("ancestors")).alias("anc2")
    ).where(F.size("ancestors") > 0)
    joined = stored.join(got, "child", "left")
    bad = joined.where(
        F.col("anc").isNull() | (F.col("anc") != F.col("anc2"))
    ).count()
    assert bad == 0  # closure reproduces the generator's precomputed ancestors


def test_graph_ops_handle_empty_edges(spark):
    from bran_spark.operators.graphalgo import (
        ancestor_closure,
        label_propagation,
    )

    empty_pairs = spark.createDataFrame([], "subj string, obj string")
    sym = symmetric_edges(empty_pairs)
    assert pagerank_fixed_point(sym, iters=2).count() == 0
    assert label_propagation(sym, iters=2).count() == 0
    assert triangle_counts(
        spark.createDataFrame([], "u string, v string")
    ).count() == 0
    assert ancestor_closure(
        spark.createDataFrame([], "child string, parent string")
    ).count() == 0
    seeds = spark.createDataFrame([("x",)], "u string")
    got = bfs_distances(sym, seeds, max_hops=2).collect()
    assert [(r["entity"], r["dist"]) for r in got] == [("x", 0)]


def test_weighted_sample_favors_heavy_weights_and_is_deterministic(spark):
    from bran_spark.operators.sampling import weighted_sample

    # 200 light docs (w=1) vs 20 heavy docs (w=1000): heavy docs should be
    # strongly over-represented in a k=20 draw
    rows = [(i, 1) for i in range(200)] + [(1000 + i, 1000) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = [r["doc_id"] for r in weighted_sample(df, "w", k=20, id_col="doc_id").collect()]
    b = [r["doc_id"] for r in weighted_sample(df, "w", k=20, id_col="doc_id").collect()]
    assert a == b                                   # deterministic
    heavy = sum(1 for d in a if d >= 1000)
    assert heavy >= 15                              # ~uniform would give ~2


def test_quantize_embeddings_roundtrip_error_bounded(spark, testdata_dir):
    import math

    from bran_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet").limit(50)
    q = quantize_embeddings(emb)
    rows = q.collect()
    assert all(-127 <= r["qval"] <= 127 for r in rows)
    # reconstruction: |x - q*scale| <= scale/2 (+ rounding slack)
    orig = {
        (r["vec_id"], i): float(x)
        for r in emb.collect()
        for i, x in enumerate(r["embedding"])
    }
    for r in rows:
        x = orig[(r["vec_id"], r["dim_idx"])]
        err = abs(x - r["qval"] * r["scale"])
        assert err <= r["scale"] * 0.5 + 1e-9, (r, x, err)


def _local_ppr(
    adj: dict[str, list[str]], seeds: set[str], iters: int
) -> dict[str, int]:
    """Reference implementation of the seeded integer recurrence."""
    base = PR_SCALE * 15 // 100
    rank = {u: (PR_SCALE if u in seeds else 0) for u in adj}
    for _ in range(iters):
        sums = {u: 0 for u in adj}
        for u, nbrs in adj.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                sums[v] += c
        rank = {
            u: (base if u in seeds else 0) + (85 * sums[u]) // 100 for u in adj
        }
    return rank


def test_personalized_pagerank_matches_local_reference(spark):
    from bran_spark.operators.graphalgo import personalized_pagerank

    # path a-b-c-d plus an isolated pair x-y; seed = {a}. (Synchronous PR
    # oscillates on bipartite-ish paths, so no ordering assertions — the
    # contract is exact equality with the recurrence.)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
    adj: dict[str, list[str]] = {}
    for s, o in pairs:
        adj.setdefault(s, []).append(o)
        adj.setdefault(o, []).append(s)
    expect = {
        u: r for u, r in _local_ppr(adj, {"a"}, iters=5).items() if r > 0
    }
    sym = symmetric_edges(_edges(spark, pairs))
    seeds = spark.createDataFrame([("a",)], "u string")
    got = {
        r.entity: r.rank_fp
        for r in personalized_pagerank(sym, seeds, iters=5).collect()
    }
    assert got == expect
    # the disconnected component receives no teleport or walk mass
    assert "x" not in got and "y" not in got
    assert "x" not in got and "y" not in got


def test_personalized_pagerank_all_seeds_matches_global(spark):
    from bran_spark.operators.graphalgo import (
        pagerank_fixed_point,
        personalized_pagerank,
    )

    # seeding EVERY node reduces PPR to the global recurrence exactly
    sym = symmetric_edges(
        _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    )
    seeds = sym.select("u").distinct()
    ppr = {
        r.entity: r.rank_fp
        for r in personalized_pagerank(sym, seeds, iters=4).collect()
    }
    glob = {
        r.entity: r.rank_fp
        for r in pagerank_fixed_point(sym, iters=4).collect()
    }
    assert ppr == glob


def test_weighted_sssp_prefers_cheap_multi_hop_path(spark):
    from bran_spark.operators.graphalgo import weighted_sssp

    wedges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 1), ("c", "b", 2), ("b", "d", 1)],
        "u string, v string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "u string")
    got = {r.entity: r.dist for r in weighted_sssp(wedges, seeds, iters=4).collect()}
    assert got == {"a": 0, "c": 1, "b": 3, "d": 4}  # a->c->b beats a->b (10)

    # bounded-round contract: with 1 round only direct edges are relaxed
    one = {r.entity: r.dist for r in weighted_sssp(wedges, seeds, iters=1).collect()}
    assert one == {"a": 0, "b": 10, "c": 1}


def test_adamic_adar_scores_and_cuts(spark):
    """AA on a planted graph: two shared low-degree neighbors produce the
    hand-computed 2/ln 2 score; adjacent pairs are excluded even with
    enough common neighbors; wedge centers above the hub cap contribute
    nothing."""
    import math

    from bran_spark.operators.graphalgo import adamic_adar, symmetric_edges

    edges = [("z1", "a"), ("z1", "b"), ("z2", "a"), ("z2", "b"),
             ("p", "q"), ("p", "c1"), ("q", "c1"), ("p", "c2"), ("q", "c2")]
    # hub h connects f0..f5 — with max_hub_deg=5 its wedges must vanish
    edges += [("h", f"f{i}") for i in range(6)]
    sym = symmetric_edges(_edges(spark, edges))
    out = {(r.u, r.v): (r.common, r.aa_score)
           for r in adamic_adar(sym, max_hub_deg=5, min_common=2).collect()}
    # deg(z1)=deg(z2)=2 -> score = 2/ln 2; (a,b) non-adjacent
    assert out[("a", "b")][0] == 2
    assert abs(out[("a", "b")][1] - 2 / math.log(2)) < 1e-5
    # z1,z2 share neighbors a,b (deg 3 each: z1/z2 + p-side? no — deg(a)=2)
    assert ("p", "q") not in out          # adjacent, despite common=2
    assert all(not (u.startswith("f") and v.startswith("f"))
               for u, v in out)           # hub wedges cut


def test_cycle_residue_trims_dag_keeps_cycles(spark):
    """A DAG trims to empty; a 2-cycle with an acyclic tail leaves exactly
    the cycle nodes; a path CONNECTING two cycles survives with them."""
    from bran_spark.operators.graphalgo import cycle_residue

    def run(edges):
        df = spark.createDataFrame(edges, "u string, v string")
        return {r.node for r in cycle_residue(df, max_rounds=8).collect()}

    assert run([("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]) == set()
    assert run([("t1", "x"), ("t2", "t1"), ("x", "y"), ("y", "x"),
                ("y", "z")]) == {"x", "y"}
    # cycle1 (a,b) -> bridge m -> cycle2 (c,d): bridge is entangled
    assert run([("a", "b"), ("b", "a"), ("b", "m"), ("m", "c"),
                ("c", "d"), ("d", "c")]) == {"a", "b", "m", "c", "d"}


def test_luby_mis_independent_maximal_deterministic(spark):
    """MIS invariants on a planted graph: no two selected nodes adjacent
    (independence), every unselected node has a selected neighbor
    (maximality), isolated nodes always selected, reruns identical."""
    from bran_spark.operators.graphalgo import luby_mis, symmetric_edges

    edges = [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(20)]
    edges += [("iso_partner", "hub")] + [(f"n{i}", "hub") for i in range(0, 20, 4)]
    pairs = _edges(spark, [(a, b) for a, b in edges if a != b])
    sym = symmetric_edges(pairs)
    # lone is disconnected entirely: append as an isolated self-row via union
    mis = {r.node for r in luby_mis(sym, max_rounds=8).collect()}
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    for u in mis:
        assert not (adj.get(u, set()) & mis), f"{u} adjacent to MIS member"
    for u in set(adj) - mis:
        assert adj[u] & mis, f"{u} not blocked by any MIS member"
    again = {r.node for r in luby_mis(sym, max_rounds=8).collect()}
    assert mis == again


def test_harmonic_centrality_path_graph_exact(spark):
    """Hand-computed harmonic sums on a path a-b-c-d with seeds {a, b}:
    multi-seed contributions add 1/d per seed; seeds reached by the other
    seed count it; hop bound truncates honestly."""
    from bran_spark.operators.graphalgo import harmonic_centrality, symmetric_edges

    sym = symmetric_edges(_edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    seeds = spark.createDataFrame([("a",), ("b",)], "u string")
    out = {r.entity: (r.n_reached, r.harmonic)
           for r in harmonic_centrality(sym, seeds, max_hops=3).collect()}
    # d(a,·): b=1 c=2 d=3 ; d(b,·): a=1 c=1 d=2
    assert out["c"] == (2, round(1 / 2 + 1 / 1 + 1e-9, 6))
    assert out["d"] == (2, round(1 / 3 + 1 / 2 + 1e-9, 6))
    assert out["a"] == (1, round(1.0 + 1e-9, 6))     # reached by seed b
    assert out["b"] == (1, round(1.0 + 1e-9, 6))     # reached by seed a
    # hop bound: with max_hops=1 d is unreached
    short = {r.entity for r in
             harmonic_centrality(sym, seeds, max_hops=1).collect()}
    assert "d" not in short


def test_luby_mis_empty_graph(spark):
    from bran_spark.operators.graphalgo import luby_mis

    empty = spark.createDataFrame([], "u string, v string")
    assert luby_mis(empty, max_rounds=2).count() == 0


# ---------------------------------------------------------------------------
# transitive reduction and AMIE-style rule mining (round-3 additions)
# ---------------------------------------------------------------------------


def test_transitive_reduction_drops_shortcut_edge(spark):
    from bran_spark.operators.graphalgo import transitive_reduction

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")],
        "child string, parent string",
    )
    out = {
        (r.child, r.parent)
        for r in transitive_reduction(edges, max_depth=6).collect()
    }
    # a->c is implied by a->b->c; d->e has no alternative path
    assert out == {("a", "b"), ("b", "c"), ("d", "e")}


def test_transitive_reduction_keeps_diamond_edges(spark):
    from bran_spark.operators.graphalgo import transitive_reduction

    # diamond a->{b,c}->d: every edge is on SOME shortest path, none is
    # implied by a 2-hop alternative between ITS OWN endpoints
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "child string, parent string",
    )
    out = {
        (r.child, r.parent)
        for r in transitive_reduction(edges, max_depth=6).collect()
    }
    assert out == {("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")}


def test_transitive_reduction_long_shortcut(spark):
    from bran_spark.operators.graphalgo import transitive_reduction

    # a->e is implied only by the 4-hop chain: needs the closure, not just
    # a single 2-hop probe
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "e")],
        "child string, parent string",
    )
    out = {
        (r.child, r.parent)
        for r in transitive_reduction(edges, max_depth=6).collect()
    }
    assert ("a", "e") not in out and len(out) == 4


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_mine_path_rules_support_confidence(spark):
    from bran_spark.operators.graphalgo import mine_path_rules

    # works_in(x,y) & located_in(y,z) => based_in(x,z) holds for 2 of the
    # 3 distinct body pairs
    rows = [
        ("p1", "works_in", "o1"),
        ("p2", "works_in", "o1"),
        ("p3", "works_in", "o2"),
        ("o1", "located_in", "n1"),
        ("o2", "located_in", "n2"),
        ("p1", "based_in", "n1"),
        ("p2", "based_in", "n1"),
    ]
    out = {
        (r.p1, r.p2, r.p3): (r.support, r.body_size, r.confidence)
        for r in mine_path_rules(_triples(spark, rows)).collect()
    }
    assert out[("works_in", "located_in", "based_in")] == (2, 3, 0.666667)


def test_mine_path_rules_hub_cut_binds(spark):
    from bran_spark.operators.graphalgo import mine_path_rules

    # hub mid-node h has in+out degree 6 > cap 4: every body pair through
    # it disappears; the rule through the cold mid node survives
    rows = (
        [("a%d" % i, "p", "h") for i in range(3)]
        + [("h", "q", "b%d" % i) for i in range(3)]
        + [("x", "p", "m"), ("m", "q", "y"), ("x", "r", "y")]
    )
    uncut = mine_path_rules(_triples(spark, rows))
    assert {r.body_size for r in uncut.where("p1='p' AND p2='q'").collect()} == {10}
    cut = mine_path_rules(_triples(spark, rows), max_mid_deg=4)
    got = {
        (r.p1, r.p2, r.p3): (r.support, r.body_size)
        for r in cut.collect()
    }
    assert got == {("p", "q", "r"): (1, 1)}


def test_align_predicates_hand_example(spark):
    from bran_spark.operators.graphalgo import align_predicates

    # ext(p)= {(a,b),(a,c),(d,e)}, ext(q)={(a,b),(a,c)} subset,
    # ext(r)={(a,c),(d,e),(x,y)} partial overlap with p
    rows = [
        ("a", "p", "b"), ("a", "p", "c"), ("d", "p", "e"),
        ("a", "q", "b"), ("a", "q", "c"),
        ("a", "r", "c"), ("d", "r", "e"), ("x", "r", "y"),
        # duplicate assertion must not inflate extension sizes
        ("a", "p", "b"),
    ]
    out = {
        (row.p1, row.p2): (row.n_common, row.n1, row.n2,
                           row.jaccard, row.containment)
        for row in align_predicates(_triples(spark, rows)).collect()
    }
    assert out[("p", "q")] == (2, 3, 2, 0.666667, 1.0)
    assert out[("p", "r")] == (2, 3, 3, 0.5, 0.666667)
    assert out[("q", "r")] == (1, 2, 3, 0.25, 0.5)


def test_apply_rules_infers_missing_heads_only(spark):
    from bran_spark.operators.graphalgo import apply_rules, mine_path_rules

    # p&q => r holds for (a,c1) but is missing for (b,c2); low-confidence
    # compositions must not fire
    rows = [
        ("a", "p", "m1"), ("m1", "q", "c1"), ("a", "r", "c1"),
        ("b", "p", "m2"), ("m2", "q", "c2"),
    ]
    t = _triples(spark, rows)
    rules = mine_path_rules(t)
    out = apply_rules(t, rules, min_confidence=0.4).collect()
    assert [(r.subj, r.pred, r.obj, r.confidence) for r in out] == [
        ("b", "r", "c2", 0.5)
    ]
    # raising the bar past the rule's 0.5 confidence silences inference
    assert apply_rules(t, rules, min_confidence=0.8).count() == 0


def test_predicate_profile_flags(spark):
    from bran_spark.operators.graphalgo import predicate_profile

    rows = [
        # f: functional AND inverse-functional (a bijection)
        ("a", "f", "1"), ("b", "f", "2"),
        # g: functional but many-to-one on the object side
        ("a", "g", "z"), ("b", "g", "z"),
        # h: neither (a fans out, z fans in)
        ("a", "h", "z"), ("a", "h", "y"), ("b", "h", "z"),
    ]
    out = {r.pred: r for r in predicate_profile(_triples(spark, rows)).collect()}
    assert (out["f"].functional, out["f"].inverse_functional) == (True, True)
    assert (out["g"].functional, out["g"].inverse_functional) == (True, False)
    assert (out["h"].functional, out["h"].inverse_functional) == (False, False)
    assert out["h"].n_triples == 3 and out["h"].max_out == 2 and out["h"].max_in == 2
    assert out["h"].avg_out == 1.5


def test_mine_and_apply_with_shared_body(spark):
    from bran_spark.operators.graphalgo import (
        apply_rules,
        composition_body,
        mine_path_rules,
    )

    rows = [
        ("a", "p", "m1"), ("m1", "q", "c1"), ("a", "r", "c1"),
        ("b", "p", "m2"), ("m2", "q", "c2"),
    ]
    t = _triples(spark, rows)
    body = composition_body(t)
    rules_shared = mine_path_rules(t, body=body)
    rules_plain = mine_path_rules(t)
    assert sorted(map(tuple, rules_shared.collect())) == sorted(
        map(tuple, rules_plain.collect())
    )
    out = apply_rules(t, rules_shared, min_confidence=0.4, body=body).collect()
    assert [(r.subj, r.pred, r.obj) for r in out] == [("b", "r", "c2")]


def test_mine_path_rules_pca_confidence(spark):
    from bran_spark.operators.graphalgo import mine_path_rules

    # body (works_in, located_in) = {(p1,n1),(p2,n1),(p3,n2)}; only p1 and
    # p2 have ANY based_in edge, so the PCA denominator drops p3's pair:
    # standard confidence 2/3, PCA confidence 2/2
    rows = [
        ("p1", "works_in", "o1"),
        ("p2", "works_in", "o1"),
        ("p3", "works_in", "o2"),
        ("o1", "located_in", "n1"),
        ("o2", "located_in", "n2"),
        ("p1", "based_in", "n1"),
        ("p2", "based_in", "n1"),
    ]
    out = {
        (r.p1, r.p2, r.p3): (r.confidence, r.pca_body, r.pca_confidence)
        for r in mine_path_rules(_triples(spark, rows)).collect()
    }
    assert out[("works_in", "located_in", "based_in")] == (0.666667, 2, 1.0)


def test_edge_support_counts_triangles_per_edge(spark):
    from bran_spark.operators.graphalgo import edge_support

    # K4 on 1..4 plus pendant edge (4,9): every K4 edge lies on 2
    # triangles, the pendant on none.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4 + [(4, 9)], "u long, v long")
    got = {(r.u, r.v): r.support for r in edge_support(e).collect()}
    assert got[(4, 9)] == 0
    assert all(got[p] == 2 for p in k4)


def test_ktruss_peeling_cascades(spark):
    import pytest as _pytest

    from bran_spark.operators.graphalgo import ktruss

    # two triangles sharing edge (1,2): outer edges have support 1, the
    # shared edge 2. k=4 needs support >= 2: round 1 peels the four
    # outer edges, which strands (1,2) at support 0 -> round 2 peels it.
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "u long, v long"
    )
    assert ktruss(e, k=4, iters=2).count() == 0
    # k=3 (support >= 1) keeps everything, supports recomputed in place
    got = {(r.u, r.v): r.support for r in ktruss(e, k=3, iters=2).collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1, (1, 4): 1, (2, 4): 1}
    with _pytest.raises(ValueError):
        ktruss(e, k=2)


def test_ktruss_converged_iterate_is_stable(spark):
    from bran_spark.operators.graphalgo import ktruss

    # K4: 4-truss in one round; extra rounds must be no-ops
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4, "u long, v long")
    one = sorted(tuple(r) for r in ktruss(e, k=4, iters=1).collect())
    three = sorted(tuple(r) for r in ktruss(e, k=4, iters=3).collect())
    assert one == three == [(a, b, 2) for a, b in k4]


def _local_hits(edges, iters, scale=10**6):
    """Reference implementation of the exact integer HITS recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: scale for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(iters):
        raw = {n: 0 for n in nodes}
        for u, v in edges:
            raw[v] += hub[u]
        tot = sum(raw.values())
        auth = {n: raw[n] * scale // tot for n in nodes}
        raw = {n: 0 for n in nodes}
        for u, v in edges:
            raw[u] += auth[v]
        tot = sum(raw.values())
        hub = {n: raw[n] * scale // tot for n in nodes}
    return hub, auth


def test_hits_matches_local_reference(spark):
    from bran_spark.operators.graphalgo import hits_fixed_point

    # bipartite-ish with a pure source (a), pure sink (z), and a node
    # playing both roles (x) — hub and auth must separate them
    pairs = [("a", "x"), ("a", "y"), ("b", "x"), ("c", "y"),
             ("c", "z"), ("x", "z")]
    hub, auth = _local_hits(pairs, iters=4)
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in hits_fixed_point(_edges(spark, pairs), iters=4).collect()
    }
    assert got == {n: (hub[n], auth[n]) for n in hub}
    # role separation: the pure source has auth 0, the pure sink hub 0
    assert got["a"][1] == 0 and got["z"][0] == 0
    # normalization: each side's mass never exceeds scale
    assert sum(h for h, _ in got.values()) <= 10**6
    assert sum(a for _, a in got.values()) <= 10**6


def test_skipgram_pairs_window_arithmetic(spark):
    from bran_spark.operators.graphalgo import skipgram_pairs

    def walk(start, wid, seq):
        return [(start, wid, i, n) for i, n in enumerate(seq)]

    rows = (
        walk("s1", 0, ["a", "b", "c", "a"])  # repeat outside the window
        + walk("s1", 1, ["a", "b", "a"])     # repeat INSIDE the window
        + walk("s2", 0, ["x", "a"])          # cross-walk isolation
    )
    df = spark.createDataFrame(
        rows, "start string, walk_id int, step int, node string"
    )
    got = {
        (r.center, r.context): r.n_pairs
        for r in skipgram_pairs(df, window=2).collect()
    }
    assert got == {
        # walk 1: [a b c a] -> |i-j|<=2; (a,a) at distance 3 excluded
        # walk 2: [a b a] -> contributes (a,a) twice (0->2 and 2->0)
        ("a", "b"): 2 + 2,   # walk1: i0->j1, i3->j1; walk2: i0->j1, i2->j1
        ("a", "c"): 2,
        ("b", "a"): 2 + 2,
        ("b", "c"): 1,
        ("c", "a"): 2,
        ("c", "b"): 1,
        ("a", "a"): 2,       # positional, not value, exclusion
        ("x", "a"): 1,
        ("a", "x"): 1,
    }


def test_clustering_coefficient_hand_values(spark):
    from bran_spark.operators.graphalgo import clustering_coefficient

    # triangle a-b-c plus pendant d on a, isolated edge x-y
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("x", "y")]
    df = spark.createDataFrame(pairs, "u string, v string")
    got = {
        r.entity: (r.degree, r.n_triangles, r.clustering)
        for r in clustering_coefficient(df).collect()
    }
    # a: deg 3, 1 triangle -> 2/(3*2) = 0.333333
    assert got["a"] == (3, 1, round(2 / 6, 6))
    assert got["b"] == (2, 1, 1.0) and got["c"] == (2, 1, 1.0)
    # degree-1 nodes: coefficient 0 by convention
    assert got["d"] == (1, 0, 0.0)
    assert got["x"] == (1, 0, 0.0) and got["y"] == (1, 0, 0.0)


def test_propagate_labels_majority_ties_and_clamping(spark):
    from bran_spark.operators.graphalgo import propagate_labels

    # seeds: a=X, b=Y, c=Y. u touches a,b,c -> majority Y at hop 1.
    # t touches a,b only -> 1 vs 1 tie -> lexicographically smaller X.
    # w touches only u -> labeled at hop 2 with u's label.
    # z is isolated -> absent from the output.
    pairs = [("a", "u"), ("b", "u"), ("c", "u"), ("a", "t"), ("b", "t"),
             ("u", "w")]
    sym = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u string, v string"
    )
    seeds = spark.createDataFrame(
        [("a", "X"), ("b", "Y"), ("c", "Y")], "node string, label string"
    )
    got = {
        r.node: (r.label, r.hop)
        for r in propagate_labels(sym, seeds, iters=3).collect()
    }
    assert got == {
        "a": ("X", 0), "b": ("Y", 0), "c": ("Y", 0),
        "u": ("Y", 1), "t": ("X", 1), "w": ("Y", 2),
    }
    # clamping: a seed adjacent to opposite-label nodes never flips
    assert got["a"] == ("X", 0)


def test_degree_assortativity_signs(spark):
    from bran_spark.operators.graphalgo import (
        degree_assortativity,
        symmetric_edges,
    )

    # star: the hub (deg 4) only touches leaves (deg 1) -> r = -1
    star = [("h", x) for x in ["a", "b", "c", "d"]]
    r = degree_assortativity(symmetric_edges(_edges(spark, star))).collect()[0]
    assert r.assortativity == -1.0 and r.n_edge_ends == 8

    # cycle: every degree equal -> zero variance -> NULL by contract
    cyc = [("a", "b"), ("b", "c"), ("c", "a")]
    r2 = degree_assortativity(symmetric_edges(_edges(spark, cyc))).collect()[0]
    assert r2.assortativity is None

    # two cliques bridged by one edge: mildly disassortative, in (-1, 0)
    k3a = [("a", "b"), ("b", "c"), ("c", "a")]
    k3b = [("x", "y"), ("y", "z"), ("z", "x")]
    r3 = degree_assortativity(
        symmetric_edges(_edges(spark, k3a + k3b + [("a", "x")]))
    ).collect()[0]
    assert r3.assortativity is not None and -1.0 < r3.assortativity < 0.0


def _local_pagerank_directed(edges, iters, scale=10**9):
    """Reference implementation of the directed + dangling recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {n: 0 for n in nodes}
    for u, _ in edges:
        out[u] += 1
    rank = {n: scale for n in nodes}
    base = scale * 15 // 100
    for _ in range(iters):
        sums = {n: 0 for n in nodes}
        for u, v in edges:
            sums[v] += rank[u] // out[u]
        dang = sum(rank[n] for n in nodes if out[n] == 0)
        rank = {
            n: base + (85 * (sums[n] + dang // len(nodes))) // 100
            for n in nodes
        }
    return rank


def test_pagerank_directed_dangling_mass(spark):
    from bran_spark.operators.graphalgo import pagerank_directed

    # chain into a sink plus a side branch: c and e are pure sinks
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")]
    edges = set(pairs)
    expect = _local_pagerank_directed(edges, iters=4)
    got = {
        r.node: r.rank_fp
        for r in pagerank_directed(
            _edges(spark, pairs), iters=4
        ).collect()
    }
    assert got == expect
    # mass conservation up to integer-floor loss: without the dangling
    # redistribution the total would collapse toward 15% of N*scale
    assert sum(got.values()) > 0.9 * len(expect) * 10**9


def test_diameter_sweep_path_and_star(spark):
    from bran_spark.operators.graphalgo import diameter_sweep, symmetric_edges

    # path a-b-c-d-e: seed=a (min id), ecc(a)=4; periphery=e; sweep 2
    # from e gives the exact diameter 4
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    r = diameter_sweep(symmetric_edges(_edges(spark, path)), max_hops=8).collect()[0]
    assert (r.seed, r.periphery, r.ecc_seed, r.diameter_lb, r.n_reached) == (
        "a", "e", 4, 4, 5,
    )

    # star with center z: seed=a (a leaf), ecc=2, periphery=the smallest
    # OTHER leaf at dist 2, diameter stays 2
    star = [("z", x) for x in ["a", "b", "c"]]
    r2 = diameter_sweep(symmetric_edges(_edges(spark, star)), max_hops=8).collect()[0]
    assert (r2.seed, r2.periphery, r2.ecc_seed, r2.diameter_lb) == ("a", "b", 2, 2)


def test_llr_association_closed_form_and_independence(spark):
    import math

    from bran_spark.operators.graphalgo import llr_association

    # 4 docs: c1-d1 co-occur in 2; c1 alone in 1; d1 alone in 1
    ent = spark.createDataFrame(
        [
            (1, "c1", "Chemical"), (1, "d1", "Disease"),
            (2, "c1", "Chemical"), (2, "d1", "Disease"),
            (3, "c1", "Chemical"),
            (4, "d1", "Disease"),
        ],
        "doc_id int, mesh_id string, type string",
    )
    row = llr_association(ent).head()
    assert (row.subj, row.obj, row.n_co) == ("c1", "d1", 2)
    k11, k12, k21, k22, n = 2.0, 1.0, 1.0, 0.0, 4.0

    def xlnx(x):
        return x * math.log(x) if x > 0 else 0.0

    g2 = 2 * (
        xlnx(k11) + xlnx(k12) + xlnx(k21) + xlnx(k22)
        - xlnx(k11 + k12) - xlnx(k21 + k22)
        - xlnx(k11 + k21) - xlnx(k12 + k22)
        + xlnx(n)
    )
    assert abs(row.llr - round(g2, 6)) < 1e-9
    # perfectly independent 2x2 (all cells equal) -> G^2 = 0
    ind = spark.createDataFrame(
        [
            (1, "c", "Chemical"), (1, "d", "Disease"),
            (2, "c", "Chemical"),
            (3, "d", "Disease"),
            (4, "x", "Chemical"),  # 4th doc, no c/d
        ],
        "doc_id int, mesh_id string, type string",
    )
    r2 = [r for r in llr_association(ind).collect() if r.subj == "c" and r.obj == "d"][0]
    assert abs(r2.llr) < 1e-6


def test_pathsim_hand_values_and_hub_normalization(spark):
    from bran_spark.operators.graphalgo import pathsim_pairs

    # a and b share intermediate d1 equally; hub h connects via many
    # intermediates (high self-paths) so raw counts favor it, pathsim not
    wt = spark.createDataFrame(
        [
            ("a", "d1", 2), ("b", "d1", 2),
            ("h", "d1", 2), ("h", "d2", 5), ("h", "d3", 5),
        ],
        "subj string, obj string, w long",
    )
    out = {(r.id_a, r.id_b): r for r in pathsim_pairs(wt, k=10).collect()}
    ab = out[("a", "b")]
    # paths(a,b) = 4; self a = 4, self b = 4 -> pathsim = 8/8 = 1
    assert ab.paths_ab == 4 and ab.pathsim == 1.0
    ah = out[("a", "h")]
    # paths(a,h) = 4; self h = 4 + 25 + 25 = 54 -> 8 / 58
    assert ah.paths_ab == 4
    assert abs(ah.pathsim - round(8 / 58, 6)) < 1e-9
    assert ab.pathsim > ah.pathsim


def test_community_quality_two_cliques(spark):
    from bran_spark.operators.graphalgo import community_quality, symmetric_edges

    # two triangles joined by one bridge edge; labels = the planted split
    pairs = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
         ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
         ("a1", "b1")],
        "subj string, obj string",
    )
    sym = symmetric_edges(pairs)
    labels = spark.createDataFrame(
        [(n, n[0]) for n in ["a1", "a2", "a3", "b1", "b2", "b3"]],
        "entity string, label string",
    )
    out = {r.label: r for r in community_quality(sym, labels).collect()}
    # m = 7 edges; each community: e_in = 3, deg_sum = 7
    for lbl in ("a", "b"):
        r = out[lbl]
        assert r.n_nodes == 3 and r.e_in == 3 and r.deg_sum == 7
        assert abs(r.q_term - round(3 / 7 - (7 / 14) ** 2, 6)) < 1e-9
    # total modularity of the planted split is meaningfully positive
    assert sum(r.q_term for r in out.values()) > 0.3


def test_link_prediction_features_closed_form(spark):
    from bran_spark.operators.graphalgo import (
        link_prediction_features,
        symmetric_edges,
    )
    import math

    # path a-z-b plus z-c: non-edge pairs through z; a-b also share z only
    pairs = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z"), ("a", "w"), ("b", "w")],
        "subj string, obj string",
    )
    out = {
        (r.u, r.v): r
        for r in link_prediction_features(
            symmetric_edges(pairs), min_common=1
        ).collect()
    }
    ab = out[("a", "b")]
    # shared neighbors: z (deg 3), w (deg 2); deg_a = deg_b = 2
    assert ab.common == 2
    assert abs(ab.aa_score - round(1 / math.log(3) + 1 / math.log(2) + 1e-9, 6)) < 1e-9
    assert abs(ab.ra_score - round(1 / 3 + 1 / 2 + 1e-9, 6)) < 1e-9
    assert ab.jaccard == 1.0          # 2 / (2 + 2 - 2)
    assert ab.pref_att == 4
    # existing edges never appear
    assert ("a", "z") not in out and ("z", "a") not in out


def test_topk_neighbor_graph_mutuality_drops_hub_tail(spark):
    from bran_spark.operators.graphalgo import topk_neighbor_graph

    # hub connects to 4 nodes; with k=1 mutual, only the strongest
    # reciprocal edge survives
    e = []
    for node, w in [("a", 10), ("b", 5), ("c", 3), ("d", 1)]:
        e += [("hub", node, w), (node, "hub", w)]
    e += [("c", "d", 2), ("d", "c", 2)]  # weak clique on the side
    edges = spark.createDataFrame(e, "u string, v string, w long")
    out = {(r.u, r.v) for r in topk_neighbor_graph(edges, k=1).collect()}
    # hub's top-1 is a; a's top-1 is hub -> mutual both directions
    assert ("hub", "a") in out and ("a", "hub") in out
    # b's top-1 is hub but hub's top-1 is a -> dropped
    assert ("b", "hub") not in out
    # d's top-1 is c (w=2 > 1); c's top-1 is hub -> dropped
    assert ("d", "c") not in out


def test_boruvka_spanning_forest_exact_mst(spark):
    from bran_spark.operators.graphalgo import boruvka_spanning_forest

    # weighted square with diagonal: max spanning tree is unique
    #   a-b:5, b-c:4, c-d:3, d-a:1, a-c:2  -> MaxST = {ab, bc, cd} (w=12)
    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 4), ("c", "d", 3), ("d", "a", 1),
         ("a", "c", 2)],
        "u string, v string, w long",
    )
    msf = {(r.u, r.v) for r in boruvka_spanning_forest(edges, minimum=False).collect()}
    assert msf == {("a", "b"), ("b", "c"), ("c", "d")}
    # minimum objective: da(1) + ac(2) join a,c,d; b attaches via bc(4)
    mst = {(r.u, r.v) for r in boruvka_spanning_forest(edges, minimum=True).collect()}
    assert mst == {("d", "a"), ("a", "c"), ("b", "c")}
    # forest case: two disjoint edges stay two trees
    forest = spark.createDataFrame(
        [("a", "b", 1), ("x", "y", 9)], "u string, v string, w long"
    )
    out = {(r.u, r.v) for r in boruvka_spanning_forest(forest).collect()}
    assert out == {("a", "b"), ("x", "y")}


def test_maximal_matching_valid_maximal_and_weight_aware(spark):
    from bran_spark.operators.graphalgo import maximal_matching

    # star: only one of the center's edges can match -> the heaviest
    star = spark.createDataFrame(
        [("s", "l1", 3), ("s", "l2", 5), ("s", "l3", 9), ("s", "l4", 1)],
        "u string, v string, w long",
    )
    m = maximal_matching(star).collect()
    assert [(r.u, r.v) for r in m] == [("s", "l3")]
    # path a-b-c-d equal weights: any valid maximal matching; verify
    # vertex-disjointness + maximality (no live edge fully unmatched)
    path = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 5), ("c", "d", 5)],
        "u string, v string, w long",
    )
    got = maximal_matching(path).collect()
    used = [x for r in got for x in (r.u, r.v)]
    assert len(used) == len(set(used))  # a matching
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    for u, v in edges:  # maximal: every edge touches a matched vertex
        assert u in used or v in used
    # determinism
    again = maximal_matching(path).collect()
    assert sorted((r.u, r.v) for r in again) == sorted((r.u, r.v) for r in got)


def test_geo_near_pairs_matches_brute_force(spark):
    import math
    import random

    from bran_spark.operators.geo import geo_near_pairs

    random.seed(11)
    pts = [
        (i, random.uniform(-60, 60), random.uniform(-180, 180))
        for i in range(80)
    ]
    # plant a tight cluster so the result is non-empty
    pts += [(100, 10.0, 20.0), (101, 10.1, 20.1), (102, 10.2, 20.2)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r.id_a, r.id_b): r.dist_km
        for r in geo_near_pairs(df, radius_km=50.0).collect()
    }

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, [a[1], a[2], b[1], b[2]])
        x = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(x))

    expect = {}
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            a, b = sorted([pts[i], pts[j]])
            d = hav(a, b)
            if round(d, 6) <= 50.0:
                expect[(a[0], b[0])] = round(d, 6)
    assert got.keys() == expect.keys()
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-6
    assert (100, 101) in got and (101, 102) in got


def test_geo_near_pairs_wraps_antimeridian(spark):
    from bran_spark.operators.geo import geo_near_pairs

    df = spark.createDataFrame(
        [(1, 0.0, 179.99), (2, 0.0, -179.99), (3, 0.0, 0.0)],
        "id long, lat double, lon double",
    )
    got = {(r.id_a, r.id_b): r.dist_km for r in geo_near_pairs(df).collect()}
    assert (1, 2) in got  # ~2.2 km across the dateline
    assert got[(1, 2)] < 5.0
    assert len(got) == 1


def test_geo_near_pairs_rejects_ring_narrower_than_probe(spark):
    # 2*rx+1 > n_lon would let pmod map distinct dj offsets onto the same
    # (ci, cj) key, breaking the each-pair-meets-at-exactly-one-key
    # no-dedup invariant -> must refuse, like the cell_deg-divides-360 guard
    import pytest

    from bran_spark.operators.geo import geo_near_pairs

    df = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 0.0, 20.0)], "id long, lat double, lon double"
    )
    with pytest.raises(ValueError, match="longitude.*ring"):
        geo_near_pairs(df, radius_km=10000.0, cell_deg=45.0).collect()

