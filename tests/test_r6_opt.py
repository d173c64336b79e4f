"""Round-6 optimization equivalence tests: every operator whose INTERNALS
changed for performance must still compute the identical result.

- rdfs_closure's fused combo-bitmask path (one corpus shuffle) vs the
  row-level derivation-store formulation (rdfs_derivations +
  aggregate_closure) — including the >64-combo chunked-mask branch.
- mine_path_rules' assume_distinct fast path and the pre-aggregated PCA
  join vs the same mining over a dup-containing input.
- entity_summarization / transe_rank_eval assume_distinct equivalence.
- property_path ('plus', p, k) rejects k < 1 (ADVICE r5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_rdfs_closure_fused_equals_derivation_store(spark):
    from bran_spark.operators.reasoning import (
        aggregate_closure,
        prepare_ontology,
        rdfs_closure,
        rdfs_derivations,
    )

    triples = spark.createDataFrame(
        [
            ("a", "p", "b"), ("a", "p", "b"),  # duplicate triple
            ("b", "q", "c"), ("c", "r", "a"), ("d", "p", "a"),
        ],
        ["subj", "pred", "obj"],
    )
    schema = spark.createDataFrame(
        [
            ("p", "subPropertyOf", "q"),
            ("q", "subPropertyOf", "r"),
            ("p", "domain", "A"),
            ("q", "domain", "B"),
            ("r", "range", "C"),
            ("A", "subClassOf", "Top"),
            ("C", "subClassOf", "Top"),
        ],
        ["s", "p", "o"],
    )
    fused = rdfs_closure(triples, schema)
    store = aggregate_closure(
        rdfs_derivations(triples, prepare_ontology(schema))
    )
    cols = ["entity", "cls", "n_derivations"]
    assert _rows(fused, cols) == _rows(store, cols)


def test_rdfs_closure_chunked_masks_past_64_combos(spark):
    """71 domain-declared predicates -> >64 combos forces the multi-mask
    chunked branch; result must equal the derivation-store twin."""
    from bran_spark.operators.reasoning import (
        aggregate_closure,
        prepare_ontology,
        rdfs_closure,
        rdfs_derivations,
    )

    n = 71
    triples = spark.createDataFrame(
        [(f"e{i % 7}", f"p{i}", f"o{i % 5}") for i in range(n)],
        ["subj", "pred", "obj"],
    )
    schema = spark.createDataFrame(
        [(f"p{i}", "domain", f"C{i % 3}") for i in range(n)],
        ["s", "p", "o"],
    )
    fused = rdfs_closure(triples, schema)
    store = aggregate_closure(
        rdfs_derivations(triples, prepare_ontology(schema))
    )
    cols = ["entity", "cls", "n_derivations"]
    got = _rows(fused, cols)
    assert got == _rows(store, cols)
    # some entity must aggregate >1 combo for the popcount to matter
    assert max(r[2] for r in got) > 1


def test_mine_path_rules_assume_distinct_and_pca_preagg(spark):
    from bran_spark.operators.graphalgo import mine_path_rules

    dup = spark.createDataFrame(
        [
            ("x1", "a", "y1"), ("x1", "a", "y1"),
            ("y1", "b", "z1"), ("x1", "c", "z1"),
            ("x2", "a", "y1"), ("y1", "b", "z2"),
            ("x2", "c", "z9"),
        ],
        ["subj", "pred", "obj"],
    )
    cols = [
        "p1", "p2", "p3", "support", "body_size",
        "confidence", "pca_body", "pca_confidence",
    ]
    base = _rows(mine_path_rules(dup), cols)
    fast = _rows(
        mine_path_rules(dup.distinct(), assume_distinct=True), cols
    )
    assert base == fast


def test_entity_summarization_assume_distinct(spark):
    from bran_spark.operators.kgquality import entity_summarization

    dup = spark.createDataFrame(
        [
            ("s1", "p", "o1"), ("s1", "p", "o1"), ("s1", "q", "o2"),
            ("s2", "p", "o1"), ("s2", "q", "o3"), ("s2", "q", "o3"),
        ],
        ["subj", "pred", "obj"],
    )
    cols = ["subj", "rank", "pred", "obj", "n_pred", "n_po"]
    assert _rows(entity_summarization(dup, k=2), cols) == _rows(
        entity_summarization(dup.distinct(), k=2, assume_distinct=True),
        cols,
    )


def test_transe_eval_assume_distinct(spark):
    from bran_spark.operators.kglearn import transe_rank_eval

    dup = spark.createDataFrame(
        [
            ("A:1", "p", "B:1"), ("A:1", "p", "B:1"),
            ("A:2", "p", "B:2"), ("A:1", "q", "B:2"),
            ("A:3", "p", "B:1"),
        ],
        ["subj", "pred", "obj"],
    )
    cols = ["pred", "n_test", "hits_at_k", "mrr", "mean_rank"]
    base = _rows(transe_rank_eval(dup, test_sample_mod=1), cols)
    fast = _rows(
        transe_rank_eval(dup.distinct(), test_sample_mod=1, assume_distinct=True),
        cols,
    )
    assert base == fast


def test_property_path_plus_rejects_nonpositive_k(spark):
    from bran_spark.operators.reasoning import property_path

    t = spark.createDataFrame([("a", "p", "b")], ["subj", "pred", "obj"])
    with pytest.raises(ValueError, match="k >= 1"):
        property_path(t, ("plus", "p", 0)).collect()


def test_kg_relational_triples_match_duckdb_union(spark, testdata_dir):
    """The lifted KG (the decoded view of the coded builder) is the DuckDB
    oracle's distinct triple set, and its rows are already distinct: the
    sorted row lists must be equal, so a duplicate row fails. The coded
    view has the same row count."""
    import duckdb

    from bran_spark.plans.oracle_queries import (
        _KG_TRIPLES_UNION_SQL,
        _kg_relational_triples,
        _kg_relational_triples_coded,
    )

    con = duckdb.connect()
    for t in ("orders", "customer", "supplier", "nation", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{testdata_dir}/{t}.parquet'")
    want = sorted(con.execute(
        f"SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_UNION_SQL})"
    ).fetchall())
    cols = ["subj", "pred", "obj"]
    assert _rows(_kg_relational_triples(spark, testdata_dir), cols) == want
    assert _kg_relational_triples_coded(spark, testdata_dir).count() == len(want)


def test_mention_dict_candidates_matches_groupby_formulation(spark):
    """The r06 broadcast/pre-aggregated candidate shape must equal the
    old melt-and-aggregate formulation row for row."""
    from bran_spark.operators.linking import mention_dict_candidates

    mesh = spark.createDataFrame(
        [
            ("D1", "Chemical", "Aspirin", ["asa", "acetyl"]),
            ("D2", "Disease", "Asthma", ["ast"]),
            ("D3", "Disease", "Astigmatism", []),
        ],
        ["mesh_id", "type", "canonical_name", "synonyms"],
    )
    mentions = spark.createDataFrame(
        [
            ("m1", "Chemical", "D1", " aspirin "),
            ("m2", "Disease", "D2", "asthma"),
            ("m3", "Disease", "D1", "astigmatism"),
            ("m4", "Chemical", None, "asa"),
        ],
        ["mention_id", "type", "mesh_id", "text"],
    )
    got = mention_dict_candidates(mentions, mesh, prefix_len=3, max_block=50)
    # reference: explicit block join + per-pair aggregation
    names = (
        mesh.select(
            "mesh_id",
            F.col("type").alias("dict_type"),
            F.lower("canonical_name").alias("canon"),
            F.explode(
                F.array_union(F.array(F.col("canonical_name")), F.col("synonyms"))
            ).alias("name0"),
        )
        .select("mesh_id", "dict_type", "canon", F.lower("name0").alias("name"))
        .distinct()
        .withColumn("block", F.substring("name", 1, 3))
    )
    m = mentions.select(
        "mention_id",
        F.col("type").alias("m_type"),
        F.col("mesh_id").alias("gold_id"),
        F.lower(F.trim(F.col("text"))).alias("surface"),
    ).withColumn("block", F.substring("surface", 1, 3))
    ref = (
        m.join(names, "block")
        .groupBy("mention_id", "mesh_id")
        .agg(
            F.max(F.col("surface") == F.col("canon")).alias("agree_name"),
            F.max(F.col("surface") == F.col("name")).alias("agree_syn"),
            F.max(F.col("m_type") == F.col("dict_type")).alias("agree_type"),
            F.max(F.col("gold_id") == F.col("mesh_id")).alias("is_match"),
        )
    )
    cols = ["mention_id", "mesh_id", "agree_name", "agree_syn",
            "agree_type", "is_match"]
    assert _rows(got, cols) == _rows(ref, cols)
    assert len(_rows(got, cols)) > 0


def _truncations(monkeypatch):
    """Count the materializations ``iterate`` itself decides on."""
    from bran_spark.operators import fixpoint

    calls = []
    real = fixpoint.materialize

    def counting(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(fixpoint, "materialize", counting)
    return calls


_LOOP_PAIRS = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
               ("e", "a"), ("b", "d")]


def _duck_pairs():
    import duckdb

    con = duckdb.connect()
    values = ", ".join(f"('{s}', '{o}')" for s, o in _LOOP_PAIRS)
    con.execute(
        f"CREATE TABLE pairs AS SELECT * FROM (VALUES {values}) t(subj, obj)"
    )
    return con


def test_lazy_loops_match_references_past_truncation(spark, monkeypatch):
    """Each fixed-round loop at its registry round count and at 4× that
    count — deep enough that ``iterate`` materializes mid-loop — equals its
    reference unrolled to the same count: the DuckDB oracle SQL for
    PageRank and HITS, local recurrences for the others. The linear
    chains and truth discovery's two rounds stay fully lazy at registry
    counts."""
    from decimal import ROUND_HALF_UP, Decimal

    from bran_spark.operators.graphalgo import (
        hits_fixed_point,
        katz_centrality,
        pagerank_fixed_point,
        personalized_pagerank,
        symmetric_edges,
        weighted_sssp,
    )
    from bran_spark.operators.linking import truth_discovery
    from bran_spark.plans.oracle_queries import _hits_iter_sql, _pr_iter_sql

    pairs = spark.createDataFrame(_LOOP_PAIRS, ["subj", "obj"])
    sym = symmetric_edges(pairs)
    seeds = spark.createDataFrame([("a",)], ["u"])
    adj: dict[str, list[str]] = {}
    for s, o in _LOOP_PAIRS:
        adj.setdefault(s, []).append(o)
        adj.setdefault(o, []).append(s)
    weight = {(u, v): (ord(u) + 2 * ord(v)) % 7 + 1
              for u in adj for v in adj[u]}
    wedges = spark.createDataFrame(
        [(u, v, w) for (u, v), w in weight.items()], "u string, v string, w long"
    )
    claim_rows = [
        ("A", "k1", "v"), ("B", "k1", "v"), ("C", "k1", "w"), ("D", "k1", "w"),
        ("A", "k2", "x"), ("C", "k2", "y"), ("D", "k2", "y"),
        ("B", "k3", "z"), ("C", "k3", "z"), ("D", "k3", "u"),
        ("A", "k4", "p"), ("B", "k4", "q"), ("D", "k4", "q"), ("C", "k5", "r"),
    ]
    claims = spark.createDataFrame(
        claim_rows, "source string, key string, value string"
    )
    con = _duck_pairs()
    truncated = _truncations(monkeypatch)

    def pr_ref(n):
        scale = 10**12
        sql = f"""
        WITH sym AS (SELECT subj AS u, obj AS v FROM pairs
                     UNION SELECT obj AS u, subj AS v FROM pairs),
        deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
        r0 AS (SELECT u, deg, CAST({scale} AS BIGINT) AS rank FROM deg)
        {_pr_iter_sql(n, scale * 15 // 100)}
        SELECT u, rank FROM r{n}"""
        return sorted(con.execute(sql).fetchall())

    def hits_ref(n):
        sql = "WITH _ AS (SELECT 1)" + _hits_iter_sql(n, 10**6)
        return sorted(con.execute(sql).fetchall())

    def ppr_ref(n, scale=10**12):
        base = scale * 15 // 100
        rank = {u: (scale if u == "a" else 0) for u in adj}
        for _ in range(n):
            sums = dict.fromkeys(adj, 0)
            for u, nbrs in adj.items():
                for v in nbrs:
                    sums[v] += rank[u] // len(nbrs)
            rank = {u: (base if u == "a" else 0) + 85 * sums[u] // 100
                    for u in adj}
        return sorted((u, r) for u, r in rank.items() if r > 0)

    def katz_ref(n, scale=1_000_000):
        x = dict.fromkeys(adj, scale)
        for _ in range(n):
            x = {v: scale + 5 * sum(x[u] for u, w in _LOOP_PAIRS if w == v)
                 // 100 for v in adj}
        return sorted(x.items())

    def r6(x):  # Spark's ROUND(x, 6) on a double: HALF_UP on its decimal
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def truth_ref(n):
        trust = {s: 1.0 for s, _, _ in claim_rows}
        for _ in range(n):
            vote: dict[tuple, float] = {}
            for s, k, v in claim_rows:
                vote[k, v] = vote.get((k, v), 0.0) + trust[s]
            vote = {kv: r6(x) for kv, x in vote.items()}
            tot: dict[str, float] = {}
            for (k, _), x in vote.items():
                tot[k] = tot.get(k, 0.0) + x
            conf = {(k, v): r6(x / r6(tot[k])) for (k, v), x in vote.items()}
            mine = {s: [] for s in trust}
            for s, k, v in claim_rows:
                mine[s].append(conf[k, v])
            trust = {s: r6(sum(c) / len(c)) for s, c in mine.items()}
        best = {}
        for (k, v), c in conf.items():
            if k not in best or (c, v) > (best[k][1], best[k][0]):
                best[k] = (v, c)
        return sorted((k, v, c) for k, (v, c) in best.items())

    def sssp_ref(n):
        dist = {"a": 0}
        for _ in range(n):
            nxt = dict(dist)
            for (u, v), w in weight.items():
                if u in dist:
                    nxt[v] = min(nxt.get(v, dist[u] + w), dist[u] + w)
            dist = nxt
        return sorted(dist.items())

    loops = [  # (name, registry count, lazy at that count?, run, ref)
        ("pagerank", 5, True,
         lambda n: pagerank_fixed_point(sym, iters=n), pr_ref),
        ("ppr", 5, True,
         lambda n: personalized_pagerank(sym, seeds, iters=n), ppr_ref),
        ("hits", 4, False, lambda n: hits_fixed_point(pairs, iters=n), hits_ref),
        ("katz", 4, True, lambda n: katz_centrality(pairs, iters=n), katz_ref),
        ("sssp", 4, False, lambda n: weighted_sssp(wedges, seeds, iters=n),
         sssp_ref),
        ("truth", 2, True, lambda n: truth_discovery(claims, iters=n),
         truth_ref),
    ]
    for name, n, lazy, run, ref in loops:
        for rounds in (n, 4 * n):
            truncated.clear()
            got = sorted(tuple(r) for r in run(rounds).collect())
            assert got == ref(rounds), (name, rounds)
            if rounds > n:
                assert truncated, (name, rounds)
            elif lazy:
                assert not truncated, (name, rounds)


def _node2vec_replay(edges, p, q, n_walks, walk_len):
    """Local replay of node2vec_walks' hash-driven Gumbel-max sampling."""
    import hashlib
    import math

    adj: dict[str, set[str]] = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
        adj.setdefault(o, set()).add(s)
    nbrs = {k: sorted(v) for k, v in adj.items()}

    def h8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    inv_p, inv_q = round(1e6 / p), round(1e6 / q)
    out = []
    for start in nbrs:
        for wid in range(n_walks):
            cur = start
            out.append((start, wid, 0, cur))
            prev, cur = cur, nbrs[cur][h8(f"{cur}:{wid}:1") % len(nbrs[cur])]
            out.append((start, wid, 1, cur))
            for t in range(2, walk_len + 1):
                best = None
                for w in nbrs[cur]:
                    wt = (inv_p if w == prev
                          else 1000000 if w in adj[prev] else inv_q)
                    u = ((h8(f"{start}:{cur}:{w}:{wid}:{t}") % 1000000)
                         + 0.5) / 1000000.0
                    sc = round(math.log(wt) - math.log(-math.log(u)), 6)
                    if best is None or (sc, w) > best:
                        best = (sc, w)
                prev, cur = cur, best[1]
                out.append((start, wid, t, cur))
    return sorted(out)


def test_node2vec_matches_replay_past_truncation(spark, monkeypatch):
    """node2vec at q266's walk length stays one lazy plan; at 4× that
    length ``iterate`` materializes mid-walk. Both equal the local replay."""
    from bran_spark.operators.graphalgo import node2vec_walks, symmetric_edges

    sym = symmetric_edges(spark.createDataFrame(_LOOP_PAIRS, ["subj", "obj"]))
    truncated = _truncations(monkeypatch)
    for walk_len in (3, 12):
        truncated.clear()
        got = sorted(
            tuple(r)
            for r in node2vec_walks(
                sym, p=4.0, q=0.25, n_walks=2, walk_len=walk_len
            ).collect()
        )
        assert got == _node2vec_replay(_LOOP_PAIRS, 4.0, 0.25, 2, walk_len)
        assert bool(truncated) == (walk_len > 3)


def test_loop_plans_stay_under_plan_bound(spark):
    """q56, q161, q266, q144 and q219 built at 4× their registry round
    counts return plans under fixpoint.MAX_PLAN_NODES. Plan size does not
    depend on the data, so small inputs stand in for the registry's."""
    from bran_spark.operators.fixpoint import MAX_PLAN_NODES, _plan_nodes
    from bran_spark.operators.graphalgo import (
        hits_fixed_point,
        node2vec_walks,
        pagerank_fixed_point,
        symmetric_edges,
    )
    from bran_spark.operators.linking import truth_discovery
    from bran_spark.operators.sessions import stationary_distribution

    pairs = spark.createDataFrame(_LOOP_PAIRS, ["subj", "obj"])
    sym = symmetric_edges(pairs)
    claims = spark.createDataFrame(
        [("A", "k1", "v"), ("B", "k1", "w"), ("A", "k2", "x")],
        "source string, key string, value string",
    )
    trans = spark.createDataFrame(
        [("A", "B", 3), ("B", "A", 2), ("B", "C", 1), ("C", "A", 4)],
        "from_type string, to_type string, n long",
    )
    built = {
        "q56": pagerank_fixed_point(sym, iters=20),
        "q161": hits_fixed_point(pairs, iters=16),
        "q266": node2vec_walks(sym, p=4.0, q=0.25, n_walks=2, walk_len=12),
        "q144": truth_discovery(claims, iters=8),
        "q219": stationary_distribution(trans, iters=32),
    }
    for name, df in built.items():
        assert _plan_nodes(df) < MAX_PLAN_NODES, (name, _plan_nodes(df))
