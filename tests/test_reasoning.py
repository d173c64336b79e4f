"""Unit tests for ontology reasoning: RDFS entailment materialization
and SPARQL 1.1 property-path evaluation (bran_spark/operators/reasoning.py).

All on hand-built graphs small enough to enumerate the expected
entailments by hand; the sf0.01 corpus-scale check is the DuckDB twin
(q292/q293 in the oracle registry, exercised by test_oracle_subset-style
mirrors and the driver)."""
from __future__ import annotations

import pytest

from bran_spark.operators.reasoning import (
    _transitive_closure_small,
    disjointness_audit,
    domain_conformance,
    property_path,
    rdfs_closure,
)


def _pairs(df):
    return {tuple(r) for r in df.collect()}


class TestTransitiveClosure:
    def test_chain(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], ["s", "o"]
        )
        closed = {
            ("a", "b"), ("b", "c"), ("c", "d"),
            ("a", "c"), ("b", "d"), ("a", "d"),
        }
        assert _pairs(_transitive_closure_small(edges)) == closed
        # an already-closed edge set converges in its first round: the
        # row count is compared against the input's, not a second round
        again = spark.createDataFrame(sorted(closed), ["s", "o"])
        assert _pairs(_transitive_closure_small(again, max_iters=1)) == closed

    def test_deep_chain_squares(self, spark):
        # depth 9 needs only ceil(log2(9)) = 4 squaring rounds; with
        # max_iters=5 a linear (per-hop) fixpoint would NOT converge,
        # so passing proves the iterated-squaring claim.
        edges = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(9)], ["s", "o"]
        )
        clo = _pairs(_transitive_closure_small(edges, max_iters=5))
        assert len(clo) == 9 * 10 // 2  # all i<j pairs of a 10-chain
        assert ("n0", "n9") in clo

    def test_cycle_raises(self, spark):
        edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["s", "o"])
        # a 2-cycle converges (closure = {ab, ba, aa, bb}) — it must NOT
        # raise; non-convergence is only reachable via depth > 2^max_iters
        clo = _pairs(_transitive_closure_small(edges))
        assert clo == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}
        with pytest.raises(RuntimeError, match="did not converge"):
            deep = spark.createDataFrame(
                [(f"n{i}", f"n{i+1}") for i in range(9)], ["s", "o"]
            )
            _transitive_closure_small(deep, max_iters=2)


class TestRdfsClosure:
    def test_all_four_rules(self, spark):
        triples = spark.createDataFrame(
            [("ord1", "placed_by", "cust1"), ("cust1", "in_city", "paris")],
            ["subj", "pred", "obj"],
        )
        schema = spark.createDataFrame(
            [
                ("in_city", "subPropertyOf", "located_in"),
                ("placed_by", "domain", "Order"),
                ("placed_by", "range", "Customer"),
                ("located_in", "range", "Place"),
                ("Customer", "subClassOf", "Agent"),
                ("Place", "subClassOf", "Thing"),
            ],
            ["s", "p", "o"],
        )
        got = {
            (r.entity, r.cls): r.n_derivations
            for r in rdfs_closure(triples, schema).collect()
        }
        assert got == {
            # rdfs2 on placed_by
            ("ord1", "Order"): 1,
            # rdfs3 on placed_by, then rdfs9 Customer->Agent
            ("cust1", "Customer"): 1,
            ("cust1", "Agent"): 1,
            # rdfs7 lifts in_city->located_in, rdfs3 gives Place,
            # rdfs9 lifts Place->Thing
            ("paris", "Place"): 1,
            ("paris", "Thing"): 1,
        }

    def test_derivation_count_distinct(self, spark):
        # same (entity, cls) reached via two different predicates:
        # n_derivations must count both, but a duplicate TRIPLE only once
        triples = spark.createDataFrame(
            [
                ("o1", "placed_by", "c1"),
                ("o1", "placed_by", "c1"),  # dup row
                ("o1", "billed_to", "c1"),
            ],
            ["subj", "pred", "obj"],
        )
        schema = spark.createDataFrame(
            [
                ("placed_by", "range", "Customer"),
                ("billed_to", "range", "Customer"),
            ],
            ["s", "p", "o"],
        )
        got = {
            (r.entity, r.cls): r.n_derivations
            for r in rdfs_closure(triples, schema).collect()
        }
        assert got == {("c1", "Customer"): 2}


class TestDisjointnessAudit:
    def test_violation_found_and_clean_entity_silent(self, spark):
        typed = spark.createDataFrame(
            [
                ("e1", "Party", 2), ("e1", "Place", 1),  # violates
                ("e2", "Party", 1),                       # clean
                ("e3", "Place", 1), ("e3", "Agent", 1),  # not a pair
            ],
            ["entity", "cls", "n_derivations"],
        )
        disjoint = spark.createDataFrame(
            [("Party", "Place")], ["cls_a", "cls_b"]
        )
        got = {tuple(r) for r in disjointness_audit(typed, disjoint).collect()}
        assert got == {("e1", "Party", "Place", 2, 1)}


class TestDomainConformance:
    def test_subclass_conforms_wrong_type_does_not(self, spark):
        triples = spark.createDataFrame(
            [
                ("C:1", "in_nation", "N:1"),  # Customer ⊆ Party: ok
                ("S:1", "in_nation", "N:1"),  # Supplier ⊆ Party: ok
                ("N:1", "in_nation", "N:2"),  # Nation ⊄ Party: violation
                ("Z:9", "in_nation", "N:3"),  # unmapped prefix: violation
            ],
            ["subj", "pred", "obj"],
        )
        schema = spark.createDataFrame(
            [
                ("in_nation", "domain", "Party"),
                ("Customer", "subClassOf", "Party"),
                ("Supplier", "subClassOf", "Party"),
            ],
            ["s", "p", "o"],
        )
        pm = spark.createDataFrame(
            [("C", "Customer"), ("S", "Supplier"), ("N", "Nation")],
            ["prefix", "cls"],
        )
        [r] = domain_conformance(triples, schema, pm).collect()
        assert (r.pred, r.domain) == ("in_nation", "Party")
        assert (r.n_triples, r.n_conforming, r.conformance) == (4, 2, 0.5)

    def test_exact_domain_match(self, spark):
        triples = spark.createDataFrame(
            [("N:1", "in_region", "R:1")], ["subj", "pred", "obj"]
        )
        schema = spark.createDataFrame(
            [("in_region", "domain", "Nation"),
             ("Nation", "subClassOf", "Place")],
            ["s", "p", "o"],
        )
        pm = spark.createDataFrame([("N", "Nation")], ["prefix", "cls"])
        [r] = domain_conformance(triples, schema, pm).collect()
        assert r.conformance == 1.0


@pytest.fixture()
def kg(spark):
    return spark.createDataFrame(
        [
            ("o1", "placed_by", "c1"),
            ("o2", "placed_by", "c1"),
            ("o1", "contains", "p1"),
            ("o2", "contains", "p2"),
            ("c1", "in_nation", "n1"),
            ("n1", "in_region", "r1"),
        ],
        ["subj", "pred", "obj"],
    )


class TestPropertyPath:
    def test_single_pred(self, spark, kg):
        assert _pairs(property_path(kg, "placed_by")) == {
            ("o1", "c1"), ("o2", "c1"),
        }

    def test_inv(self, spark, kg):
        assert _pairs(property_path(kg, ("inv", "placed_by"))) == {
            ("c1", "o1"), ("c1", "o2"),
        }

    def test_seq(self, spark, kg):
        got = _pairs(property_path(kg, ("seq", "placed_by", "in_nation")))
        assert got == {("o1", "n1"), ("o2", "n1")}

    def test_alt(self, spark, kg):
        got = _pairs(property_path(kg, ("alt", "in_nation", "in_region")))
        assert got == {("c1", "n1"), ("n1", "r1")}

    def test_plus_bounded(self, spark, kg):
        p = ("plus", ("alt", "in_nation", "in_region"), 2)
        assert _pairs(property_path(kg, p)) == {
            ("c1", "n1"), ("n1", "r1"), ("c1", "r1"),
        }

    def test_plus_diamond_dedups_walks(self, spark):
        # two distinct walks a->{b,c}->d must yield ONE (a, d) pair
        g = spark.createDataFrame(
            [("a", "e", "b"), ("a", "e", "c"), ("b", "e", "d"), ("c", "e", "d")],
            ["subj", "pred", "obj"],
        )
        got = _pairs(property_path(g, ("plus", "e", 2)))
        assert got == {
            ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d"),
        }

    def test_full_flagship_path(self, spark, kg):
        # the q293 expression on the toy graph
        path = (
            "alt",
            ("seq", "placed_by",
             ("plus", ("alt", "in_nation", "in_region"), 2)),
            ("seq", ("inv", "placed_by"), "contains"),
        )
        assert _pairs(property_path(kg, path)) == {
            ("o1", "n1"), ("o2", "n1"),   # order -> nation
            ("o1", "r1"), ("o2", "r1"),   # order -> region (2 hops)
            ("c1", "p1"), ("c1", "p2"),   # customer -> parts ordered
        }

    def test_unknown_op_raises(self, spark, kg):
        with pytest.raises(ValueError, match="unknown path op"):
            property_path(kg, ("star", "placed_by"))


class TestMaterializeInverses:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, ["subj", "pred", "obj"])

    def test_missing_reversals_only(self, spark):
        from bran_spark.operators.reasoning import materialize_inverses

        kg = self._mk(spark, [
            ("p1", "supplied_by", "s1"),
            ("p2", "supplied_by", "s2"),
            ("s2", "supplies", "p2"),   # already asserted: suppressed
        ])
        inv = spark.createDataFrame(
            [("supplied_by", "supplies")], ["pred", "inv_pred"]
        )
        got = {tuple(r) for r in materialize_inverses(kg, inv).collect()}
        assert got == {("s1", "supplies", "p1")}

    def test_symmetric_property_self_pair(self, spark):
        from bran_spark.operators.reasoning import materialize_inverses

        kg = self._mk(spark, [
            ("a", "adjacent_to", "b"),
            ("b", "adjacent_to", "a"),  # symmetric already closed
            ("c", "adjacent_to", "d"),  # missing its mirror
        ])
        inv = spark.createDataFrame(
            [("adjacent_to", "adjacent_to")], ["pred", "inv_pred"]
        )
        got = {tuple(r) for r in materialize_inverses(kg, inv).collect()}
        assert got == {("d", "adjacent_to", "c")}

    def test_duplicate_assertions_yield_one_candidate(self, spark):
        from bran_spark.operators.reasoning import materialize_inverses

        kg = self._mk(spark, [
            ("p1", "supplied_by", "s1"),
            ("p1", "supplied_by", "s1"),
        ])
        inv = spark.createDataFrame(
            [("supplied_by", "supplies")], ["pred", "inv_pred"]
        )
        assert materialize_inverses(kg, inv).count() == 1
