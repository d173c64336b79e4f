"""Relational operator properties (SURVEY.md §5.2): detection recovers the
gold mentions exactly, alignment, salting exactness, LSE
partition-invariance."""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints must resolve here
import pyspark.sql.functions as F

from bran_spark.functions.bpe import full_text_col, load_codec, with_tokens
from bran_spark.operators.mentions import align_mentions_to_tokens, detect_mentions
from bran_spark.operators.pairs import salted_count_distinct
from bran_spark.operators.pooling import lse_pool


def _tokenized(spark, fx_dir, limit=None):
    docs = spark.read.parquet(f"{fx_dir}/documents_interleaved.parquet")
    if limit:
        docs = docs.limit(limit)
    codec_bc = spark.sparkContext.broadcast(
        load_codec(spark, f"{fx_dir}/bpe_merges.parquet", f"{fx_dir}/vocab.parquet")
    )
    return with_tokens(docs.withColumn("full_text", full_text_col()), codec_bc)


def test_detection_recovers_gold_mentions(spark, fx_dir):
    """Dictionary detection must reproduce the PubTator-style gold mention
    table exactly (the grammar embeds surfaces from the same dictionary)."""
    toks = _tokenized(spark, fx_dir)
    mesh = spark.read.parquet(f"{fx_dir}/mesh_dict.parquet")
    det = detect_mentions(toks, mesh).select(
        "doc_id", "type", "mesh_id", "start", "end", "text"
    )
    gold = spark.read.parquet(f"{fx_dir}/mentions.parquet").select(
        "doc_id", "type", "mesh_id", "start", "end", "text"
    )
    assert det.exceptAll(gold).count() == 0
    assert gold.exceptAll(det).count() == 0


def test_align_covers_every_mention(spark, fx_dir):
    toks = _tokenized(spark, fx_dir, limit=80)
    gold = spark.read.parquet(f"{fx_dir}/mentions.parquet").join(
        toks.select("doc_id"), "doc_id", "left_semi"
    )
    aligned = align_mentions_to_tokens(gold, toks)
    assert aligned.count() == gold.count()
    assert aligned.filter("tok_end <= tok_start").count() == 0


def test_salted_count_distinct_exact(spark, testdata_dir):
    ev = spark.read.parquet(f"{testdata_dir}/events.parquet")
    plain = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("expected")
    )
    salted = salted_count_distinct(ev, ["event_type"], "user_id", buckets=7)
    j = plain.join(salted, "event_type")
    assert j.filter("expected != distinct_count").count() == 0


def test_lse_pool_matches_numpy_and_partition_invariant(spark, testdata_dir):
    li = spark.read.parquet(f"{testdata_dir}/lineitem.parquet").select(
        "l_returnflag", F.col("l_discount").alias("score")
    )
    a = {
        r.l_returnflag: r.pooled_score
        for r in lse_pool(li.repartition(1), ["l_returnflag"]).collect()
    }
    b = {
        r.l_returnflag: r.pooled_score
        for r in lse_pool(li.repartition(16), ["l_returnflag"]).collect()
    }
    rows = li.collect()
    groups: dict[str, list[float]] = {}
    for r in rows:
        groups.setdefault(r.l_returnflag, []).append(r.score)
    for k, vals in groups.items():
        m = max(vals)
        exact = m + math.log(sum(math.exp(v - m) for v in vals))
        assert abs(a[k] - exact) < 1e-9
        assert abs(b[k] - exact) < 1e-9


def test_interleave_short_docs_no_phantom_spans(spark):
    """Docs with <= title_words words must yield exactly one text span (the
    title) and no empty 'body' span — the sequence(0, -1) descending-range
    regression — and the span-offset invariant must hold for every doc,
    including the trailing media span's offset."""
    from bran_spark.sources.interleave import interleave_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "one two three four five six"),
            (3, "w1 w2 w3 w4 w5 w6 w7"),
            (4, " ".join(f"t{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.spans for r in interleave_documents(docs).collect()}
    for did, spans in out.items():
        pos = 0
        for s in spans:
            if s.media_ref != "":
                assert s.offset == pos, f"doc {did}: media offset drifted"
            else:
                assert s.text != "", f"doc {did}: phantom empty text span"
                assert s.offset == pos, f"doc {did}: span offset invariant"
                pos += len(s.text) + 1
    n_text = lambda d: len([s for s in out[d] if s.media_ref == ""])  # noqa: E731
    assert n_text("1") == 1   # 3 words -> title only
    assert n_text("2") == 1   # exactly title_words -> title only
    assert n_text("3") == 2   # 7 words -> title + 1 body chunk
    assert n_text("4") == 3   # 30 words -> title + 2 body chunks


def _lse_pool_grouped_pandas(scores, keys: list[str], score_col: str = "score"):
    """P5 reference: LSE pooling as a grouped-aggregate pandas UDF —
    numerically-stable logsumexp per group, computed in NumPy over Arrow
    batches."""
    import numpy as np

    @F.pandas_udf("double")
    def _lse(v: pd.Series) -> float:  # Series→scalar hints ⇒ GROUPED_AGG
        m = v.max()
        return float(m + np.log(np.exp((v - m).to_numpy()).sum()))

    return scores.groupBy(*keys).agg(_lse(F.col(score_col)).alias("pooled"))


def test_lse_pool_pandas_udaf_matches_relational(spark):
    """P5: the grouped pandas-UDAF logsumexp equals the relational A2 form
    to float tolerance (different summation order → not bitwise)."""
    import random

    random.seed(7)
    rows = [(f"g{i % 5}", random.uniform(-4, 4)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, score double")
    rel = {r["k"]: r["pooled_score"] for r in lse_pool(df, ["k"]).collect()}
    pdu = {r["k"]: r["pooled"] for r in _lse_pool_grouped_pandas(df, ["k"]).collect()}
    assert rel.keys() == pdu.keys()
    for k in rel:
        assert abs(rel[k] - pdu[k]) < 1e-9


def test_sentence_udtf_matches_posexplode_twin(spark):
    """The UDTF's procedural split equals the JVM split+posexplode
    formulation row-for-row (the relational twin q73's oracle replays)."""
    from bran_spark.functions.text import SENTENCE_BOUNDARY_RE, make_sentence_udtf

    spark.udtf.register("split_sentences_t", make_sentence_udtf())
    df = spark.createDataFrame(
        [(1, "alpha beta a gamma. delta!"), (2, "a a solo"), (3, "")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("udtf_docs_t")
    got = {
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in spark.sql(
            "SELECT doc_id, s.sent_idx, s.sentence "
            "FROM udtf_docs_t, LATERAL split_sentences_t(text) s"
        ).collect()
    }
    twin = (
        df.select(
            "doc_id",
            F.posexplode(F.split("text", SENTENCE_BOUNDARY_RE)).alias("i", "seg"),
        )
        .select("doc_id", F.col("i").cast("int").alias("i"), F.trim("seg").alias("s"))
        .where(F.col("s") != "")
    )
    assert got == {(r["doc_id"], r["i"], r["s"]) for r in twin.collect()}
    assert (1, 1, "gamma") in got  # split on the filler word kept index 1


def test_kcore_peels_tail_nodes(spark):
    from bran_spark.operators.graphalgo import kcore, symmetric_edges

    # K4 core plus a pendant chain: chain must be peeled, K4 survives with
    # in-core degree 3
    e = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("e", "f")]
    sym = symmetric_edges(spark.createDataFrame(e, "subj string, obj string"))
    got = {r["entity"]: r["degree"] for r in kcore(sym, k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_contract_rules_catch_seeded_violations(spark):
    from bran_spark.operators.contracts import (
        contract_report,
        rule_foreign_key,
        rule_in_range,
        rule_not_null,
        rule_unique,
    )

    child = spark.createDataFrame(
        [(1, 10.0), (1, None), (2, 999.0), (9, 5.0)], "k long, v double"
    )
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    rep = {
        r["rule"]: (r["n_checked"], r["n_violations"])
        for r in contract_report(
            [
                rule_unique(child, "k"),
                rule_foreign_key(child, "k", parent, "k"),
                rule_not_null(child, "v"),
                rule_in_range(child, "v", 0, 100),
            ]
        ).collect()
    }
    assert rep["unique:k"] == (4, 1)      # k=1 duplicated once
    assert rep["fk:k"] == (4, 1)          # k=9 orphaned
    assert rep["not_null:v"] == (4, 1)
    assert rep["range:v"] == (4, 2)       # NULL and 999 both violate


def test_deterministic_walks_stay_on_edges(spark):
    from bran_spark.operators.graphalgo import deterministic_walks, symmetric_edges

    pairs = [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")]
    sym = symmetric_edges(spark.createDataFrame(pairs, "subj string, obj string"))
    edges = {(r["u"], r["v"]) for r in sym.collect()}
    walks = deterministic_walks(sym, n_walks=2, walk_len=3)
    rows = walks.collect()
    # every node has 2 walks of 4 steps (0..3)
    n_nodes = len({u for u, _ in edges})
    assert len(rows) == n_nodes * 2 * 4
    # consecutive steps follow real edges
    by_walk = {}
    for r in rows:
        by_walk.setdefault((r["start"], r["walk_id"]), {})[r["step"]] = r["node"]
    for path in by_walk.values():
        for t in range(1, 4):
            assert (path[t - 1], path[t]) in edges
    # deterministic across runs
    again = sorted(map(tuple, walks.collect()))
    assert sorted(map(tuple, rows)) == again


def test_chunk_documents_overlap_and_tail(spark):
    """size=4, stride=3 over 10 words: starts 0,3,6,9 — consecutive chunks
    overlap by one word, the tail chunk is short, indices/counts exact."""
    from bran_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [("d1", "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9")], "doc_id string, text string"
    )
    rows = sorted(
        chunk_documents(docs, size=4, stride=3).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [(r.chunk_idx, r.start_tok, r.n_chunk_toks) for r in rows] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)
    ]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w3 w4 w5 w6"   # stride<size ⇒ overlap
    assert rows[3].chunk_text == "w9"            # short tail, never dropped


def test_keyword_contexts_boundaries(spark):
    """Hits at word 0 and the last word clamp the window instead of
    erroring or shifting."""
    from bran_spark.functions.text import keyword_contexts

    docs = spark.createDataFrame(
        [("d1", "hit a b c d e hit")], "doc_id string, text string"
    )
    got = {
        r.idx: r.context
        for r in keyword_contexts(docs, ["hit"], window=2).collect()
    }
    assert got == {0: "hit a b", 6: "d e hit"}


def test_containment_catches_subset_duplication(spark):
    """A short doc quoted whole inside a long doc: containment(short)=1.0
    even though symmetric Jaccard is far below any dedup threshold."""
    from bran_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [("short", quote), ("long", filler + " " + quote + " tail0 tail1")],
        "doc_id string, text string",
    )
    rows = containment_pairs(
        docs, "doc_id", "text", n=3, min_containment=0.9, max_df=10
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    by_id = {
        "short": r.containment_a if r.id_a == "short" else r.containment_b,
        "long": r.containment_b if r.id_a == "short" else r.containment_a,
    }
    assert by_id["short"] == 1.0       # every shingle of the quote is in long
    assert by_id["long"] < 0.2
    # symmetric jaccard misses the pair entirely at the same strictness
    jac = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.9, max_df=10
    ).collect()
    assert jac == []


def test_triple_provenance_bounded_evidence(spark):
    """Evidence list caps at k in ASCENDING numeric doc order while support
    counts ALL docs; aggregation state is rank-cut before any collect."""
    from bran_spark.operators.pooling import triple_provenance

    rows = [(d, "C1", "D1") for d in (10, 2, 33, 4, 25)] + [(7, "C2", "D2")]
    pos = spark.createDataFrame(rows, "doc_id long, subj string, obj string")
    got = {
        (r.subj, r.obj): (r.support, r.evidence_docs)
        for r in triple_provenance(pos, ["subj", "obj"], "doc_id", k=3).collect()
    }
    assert got == {
        ("C1", "D1"): (5, "2,4,10"),   # numeric order, capped at 3 of 5
        ("C2", "D2"): (1, "7"),
    }


def test_unigram_logprob_orders_in_vs_out_of_distribution(spark):
    """A doc made of corpus-common words must outscore one of hapax
    gibberish, and the hot/cold join split must not change any value
    (hot_words=0 forces the pure-shuffle path — same result)."""
    from bran_spark.operators.quality import unigram_logprob

    docs = spark.createDataFrame(
        [("common", "the the the cat sat"),
         ("rare", "zxqv wkjh pqrs mnbv"),
         ("filler", "the cat the cat the cat the")],
        "doc_id string, text string",
    )
    split = {r.doc_id: r.logprob
             for r in unigram_logprob(docs, "doc_id", "text").collect()}
    assert split["common"] > split["rare"]
    noslplit = {r.doc_id: r.logprob
                for r in unigram_logprob(docs, "doc_id", "text",
                                         hot_words=0).collect()}
    assert split == noslplit


def test_rebalance_mix_hits_target_shares(spark):
    """Per-group survivor counts land near share*total; a group absent
    from the target is dropped; determinism across reruns."""
    from bran_spark.operators.sampling import rebalance_mix

    rows = [(i, f"s{i % 4}") for i in range(4000)]   # 1000 docs per group
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = rebalance_mix(
        df, "source", {"s0": 0.6, "s1": 0.4}, target_total=1000
    )
    counts = {r.source: r.n for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"s0", "s1"}               # s2/s3 dropped
    assert abs(counts["s0"] - 600) < 80              # md5-coin tolerance
    assert abs(counts["s1"] - 400) < 80
    again = rebalance_mix(
        df, "source", {"s0": 0.6, "s1": 0.4}, target_total=1000
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_bootstrap_prf_distribution_properties(spark):
    """Poisson-bootstrap P/R/F1: B rows, deterministic across reruns, the
    resample F1s spread AROUND the point estimate, and a degenerate input
    (all TP) pins every resample at f1=1."""
    from bran_spark.operators.evaluate import bootstrap_prf

    per_doc = spark.createDataFrame(
        [(d, (d * 7) % 3, (d * 5) % 2, (d * 11) % 2) for d in range(60)],
        "doc_id long, tp long, fp long, fn long",
    )
    out = bootstrap_prf(per_doc, n_resamples=25).collect()
    assert len(out) == 25
    f1s = [r.f1 for r in out]
    assert len(set(f1s)) > 5                     # resampling actually varies
    assert all(0.0 <= v <= 1.0 for v in f1s)
    again = bootstrap_prf(per_doc, n_resamples=25).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    perfect = spark.createDataFrame(
        [(d, 3, 0, 0) for d in range(20)], "doc_id long, tp long, fp long, fn long"
    )
    pf = bootstrap_prf(perfect, n_resamples=10).collect()
    assert all(r.f1 == 1.0 or (r.precision == 0.0 and r.recall == 0.0) for r in pf)


def test_contrastive_pairs_structure_and_determinism(spark):
    """Positives appear in both directions with their Jaccard weight;
    each anchor gets k_neg negatives drawn without any global rank
    (rendezvous buckets), never equal to the anchor; reruns identical."""
    from bran_spark.operators.sampling import contrastive_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base), (2, base + " iota")]
    rows += [(i, f"filler{i} " + " ".join(f"w{i}_{j}" for j in range(8)))
             for i in range(10, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = contrastive_pairs(
        docs, n=3, min_jaccard=0.3, max_df=10, k_neg=2, buckets=8
    ).collect()
    pos = [(r.anchor, r.partner, r.weight) for r in out if r.kind == "pos"]
    neg = [(r.anchor, r.partner) for r in out if r.kind == "neg"]
    assert {(a, p) for a, p, _ in pos} == {(1, 2), (2, 1)}
    assert all(w > 0.3 for _, _, w in pos)
    assert len(neg) == 4                       # 2 anchors × k_neg
    assert all(a != p for a, p in neg)
    again = contrastive_pairs(
        docs, n=3, min_jaccard=0.3, max_df=10, k_neg=2, buckets=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_keyword_contexts_escapes_backslashes_and_quotes(spark):
    """Terms containing backslashes or quotes are matched literally —
    Spark's SQL lexer would otherwise eat \\x as a C-style escape."""
    from bran_spark.functions.text import keyword_contexts

    docs = spark.createDataFrame(
        [("d1", r"start a\b mid o'x end")], "doc_id string, text string"
    )
    got = {(r.term, r.idx) for r in
           keyword_contexts(docs, [r"a\b", "o'x"], window=1).collect()}
    assert got == {(r"a\b", 1), ("o'x", 3)}


def test_alias_clusters_group_spelling_variants(spark):
    """The composed ER flow (trigram blocking → Levenshtein verify →
    components): spelling variants of one name land in one alias group
    whose canonical alias is the minimum id's name; unrelated names never
    join it."""
    from bran_spark.operators.components import connected_components
    from bran_spark.operators.linking import name_neardup_pairs

    import pyspark.sql.functions as F

    d = spark.createDataFrame(
        [("M1", "aspirin"), ("M2", "aspirine"), ("M3", "asperin"),
         ("M4", "ibuprofen"), ("M5", "warfarin")],
        "mesh_id string, canonical_name string",
    )
    names = d.select("mesh_id", F.lower("canonical_name").alias("s"))
    cand = name_neardup_pairs(d, min_jaccard=0.2, max_df=50).select("id_a", "id_b")
    verified = (
        cand.join(names.select(F.col("mesh_id").alias("id_a"),
                               F.col("s").alias("sa")), "id_a")
        .join(names.select(F.col("mesh_id").alias("id_b"),
                           F.col("s").alias("sb")), "id_b")
        .where(F.levenshtein("sa", "sb") <= 2)
        .select("id_a", "id_b")
    )
    comps = {r.node: r.component for r in connected_components(verified).collect()}
    assert comps.get("M1") == comps.get("M2") == comps.get("M3") == "M1"
    assert "M4" not in comps and "M5" not in comps  # isolated, never enter edges


def test_importance_resample_prefers_target_like_docs(spark):
    """DSIR draw: docs sharing the target slice's vocabulary dominate the
    top-k; smoothing keeps target-unseen words finite; the hot-word
    broadcast split never changes results; deterministic across reruns."""
    from bran_spark.operators.sampling import importance_resample

    a_words = ["alpha", "beta", "gamma", "delta"]
    b_words = ["omega", "sigma", "tau", "rho"]
    rows = [
        (i, " ".join(a_words[(i + j) % 4] for j in range(8)), "A")
        for i in range(40)
    ] + [
        (i, " ".join(b_words[(i + j) % 4] for j in range(8)), "B")
        for i in range(40, 80)
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string, dom string")
    target = raw.where("dom = 'A'").where("doc_id < 10")
    out = importance_resample(raw, target, "doc_id", "text", k=20).collect()
    assert len(out) == 20
    by_id = {r.doc_id: r for r in out}
    # in-domain docs carry positive logratio, off-domain strongly negative
    for r in out:
        assert (r.logratio > 0) == (r.doc_id < 40)
    n_a = sum(1 for d in by_id if d < 40)
    assert n_a >= 14  # Gumbel noise may admit a few off-domain draws
    again = importance_resample(raw, target, "doc_id", "text", k=20).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    no_hot = importance_resample(
        raw, target, "doc_id", "text", k=20, hot_words=0
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, no_hot))


def test_confusion_by_slices_sum_to_global(spark):
    """Per-slice cells: hand-checked P/R/F1 per chemical, and the slice
    tp/fp/fn totals reproduce the global confusion() micro numbers."""
    from bran_spark.operators.evaluate import confusion, confusion_by

    pred = spark.createDataFrame(
        [(1, "C1", "D1"), (1, "C1", "D2"), (1, "C2", "D1"), (2, "C1", "D1")],
        "doc_id long, chem_mesh string, dis_mesh string",
    )
    gold = spark.createDataFrame(
        [(1, "C1", "D1"), (1, "C2", "D2"), (2, "C1", "D1"), (2, "C2", "D1")],
        "doc_id long, chem_mesh string, dis_mesh string",
    )
    per = {r.slice: r for r in confusion_by(pred, gold, "chem_mesh").collect()}
    assert (per["C1"].tp, per["C1"].fp, per["C1"].fn) == (2, 1, 0)
    assert (per["C2"].tp, per["C2"].fp, per["C2"].fn) == (0, 1, 2)
    assert per["C1"].precision == 2 / 3 and per["C1"].recall == 1.0
    g = confusion(pred, gold).head()
    assert (sum(r.tp for r in per.values()),
            sum(r.fp for r in per.values()),
            sum(r.fn for r in per.values())) == (g.tp, g.fp, g.fn)


def test_rendezvous_assign_consistency_on_resize(spark):
    """HRW invariant: growing 8->9 shards moves only ~1/9 of keys (a
    mod-N scheme would move ~8/9); assignment is deterministic and every
    shard receives work."""
    from bran_spark.operators.sampling import rendezvous_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a8 = {r.doc_id: r.shard for r in rendezvous_assign(df, "doc_id", 8).collect()}
    a9 = {r.doc_id: r.shard for r in rendezvous_assign(df, "doc_id", 9).collect()}
    moved = sum(1 for d in a8 if a8[d] != a9[d])
    assert 2000 / 9 * 0.5 < moved < 2000 / 9 * 1.8   # ~222 expected
    assert set(a8.values()) == set(range(8))
    again = {r.doc_id: r.shard for r in rendezvous_assign(df, "doc_id", 8).collect()}
    assert a8 == again


def test_bloom_audit_fpr_regimes(spark):
    """A generously-sized filter yields zero/near-zero measured FPR; a
    tiny filter saturates and flags most probes; est >= 0 and counts are
    consistent."""
    from bran_spark.operators.dedup import bloom_audit

    mem = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    prb = spark.createDataFrame([(i,) for i in range(1000, 1400)], "doc_id long")
    wide = bloom_audit(mem, prb, "doc_id", m_bits=65536, k_hashes=3).head()
    assert wide.n_members == 200 and wide.n_probes == 400
    assert wide.fpr <= wide.fpr_bound + 0.01
    tiny = bloom_audit(mem, prb, "doc_id", m_bits=64, k_hashes=3).head()
    assert tiny.fpr > 0.5          # saturated filter flags most probes
    assert tiny.n_bits_set <= 64


def test_greedy_set_cover_prefers_new_coverage(spark):
    """Greedy picks the biggest-vocab doc first, then the doc adding the
    most NEW words — not the second-biggest doc that mostly overlaps."""
    from bran_spark.operators.sampling import greedy_set_cover

    a = " ".join(f"w{i}" for i in range(10))          # 10 fresh words
    b = " ".join(f"w{i}" for i in range(9)) + " x1"   # 1 new after a
    c = "y1 y2 y3 y4 y5"                              # 5 new
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = greedy_set_cover(df, "doc_id", "text", pool=10, k=3).collect()
    assert [(r.rank, r.id, r.gain) for r in out] == [
        (1, 1, 10), (2, 3, 5), (3, 2, 1)
    ]
    assert [r.covered_total for r in out] == [10, 15, 16]


def test_ewma_scores_half_life_arithmetic(spark):
    """Closed-form EWMA equals the hand recurrence: at one half-life the
    previous mass halves; per-key isolation holds."""
    from datetime import datetime

    from bran_spark.operators.asof import ewma_scores

    h = 3600.0
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 7, t0, 10.0),
        (2, 7, datetime(2024, 1, 1, 1, 0, 0), 4.0),    # +1 half-life
        (3, 7, datetime(2024, 1, 1, 2, 0, 0), 2.0),    # +2 half-lives
        (4, 9, datetime(2024, 1, 1, 5, 0, 0), 100.0),  # other key
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r.ewma
           for r in ewma_scores(ev, "user_id", "ts", "value",
                                "event_id", half_life_s=h).collect()}
    assert abs(out[1] - 10.0) < 1e-4
    assert abs(out[2] - (4.0 + 10.0 * 0.5)) < 1e-4
    assert abs(out[3] - (2.0 + 4.0 * 0.5 + 10.0 * 0.25)) < 1e-4
    assert abs(out[4] - 100.0) < 1e-4                  # key isolation


def test_entity_salience_downweights_ubiquitous_entities(spark):
    """A corpus-wide entity (df = N, idf = 0) scores zero; a topical
    entity mentioned 3x in one doc tops that doc's ranking."""
    from bran_spark.operators.pooling import entity_salience

    rows = []
    for d in range(1, 5):
        rows.append((d, "UBIQ"))
    rows += [(1, "TOPIC")] * 3 + [(2, "OTHER")]
    m = spark.createDataFrame(rows, "doc_id long, mesh_id string")
    out = {(r.doc_id, r.mesh_id): r for r in entity_salience(m, k=3).collect()}
    assert out[(1, "TOPIC")].rank == 1 and out[(1, "TOPIC")].salience > 1.0
    assert abs(out[(1, "UBIQ")].salience) < 1e-4   # idf ln(4/4) = 0
    assert out[(2, "OTHER")].rank == 1


def test_calibration_bins_hand_example(spark):
    from bran_spark.operators.evaluate import calibration_bins

    # sigmoid(0)=0.5 -> bin 5; sigmoid(-100)~0 -> bin 0; sigmoid(100)~1
    # -> clamped to bin 9
    rows = [(-100.0, 0), (-100.0, 1), (0.0, 1), (100.0, 1), (100.0, 0)]
    df = spark.createDataFrame(rows, "s double, label int")
    out = {r.bin: (r.n, r.avg_conf, r.frac_pos, r.gap)
           for r in calibration_bins(df).collect()}
    assert set(out) == {0, 5, 9}
    assert out[0] == (2, 0.0, 0.5, 0.5)
    assert out[5] == (1, 0.5, 1.0, 0.5)
    assert out[9] == (2, 1.0, 0.5, 0.5)


def test_merge_support_states_equals_batch(spark):
    from bran_spark.operators.pooling import merge_support_states

    rows = [("t1", 1), ("t1", 2), ("t1", 2), ("t2", 3), ("t2", 4), ("t3", 5)]
    df = spark.createDataFrame(rows, "triple string, doc_id int")

    def state(d):
        return d.groupBy("triple").agg(
            F.countDistinct("doc_id").cast("long").alias("support"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    batches = [state(df.where(F.col("doc_id") % 3 == i)) for i in range(3)]
    merged = {
        (r.triple): (r.support, r.n)
        for r in merge_support_states(batches, ["triple"]).collect()
    }
    full = {(r.triple): (r.support, r.n) for r in state(df).collect()}
    assert merged == full == {"t1": (2, 3), "t2": (2, 2), "t3": (1, 1)}


def test_truth_discovery_demotes_disagreeing_source(spark):
    from bran_spark.operators.linking import truth_discovery

    # A and B agree everywhere; C disagrees everywhere it overlaps — after
    # trust iteration C's vote share collapses, but its uncontested solo
    # claim still resolves at confidence 1.0
    rows = [
        ("A", "k1", "v"), ("B", "k1", "v"), ("C", "k1", "w"),
        ("A", "k2", "v2"), ("B", "k2", "v2"), ("C", "k2", "w2"),
        ("C", "k3", "w3"),
    ]
    df = spark.createDataFrame(rows, "source string, key string, value string")
    out = {r.key: (r.value, r.confidence)
           for r in truth_discovery(df, iters=2).collect()}
    assert out["k1"][0] == "v" and out["k2"][0] == "v2"
    assert out["k3"] == ("w3", 1.0)
    # round-2 share of the consensus value beats the plain 2/3 majority of
    # round 1 (trust reweighting did something)
    assert out["k1"][1] > 0.667


def test_temperature_mix_flattens_and_is_deterministic(spark):
    """temperature_mix derives shares as tokens^alpha: the small source's
    keep RATE must far exceed the big source's (flattening), and the
    exact surviving set matches a pure-Python replay of the md5 coin."""
    import hashlib
    import math

    from bran_spark.operators.sampling import temperature_mix

    rows = [(i, "big", 100) for i in range(400)] + [
        (1000 + i, "small", 100) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    out = {
        (r.doc_id, r.source)
        for r in temperature_mix(
            df, alpha=0.5, target_tokens=10_000
        ).collect()
    }

    toks = {"big": 40_000.0, "small": 2_000.0}
    z = sum(math.sqrt(t) for t in toks.values())
    thr = {
        g: math.floor(
            min(1.0, 10_000 * round(math.sqrt(t) / z, 6) / t) * 1_000_000
        )
        for g, t in toks.items()
    }
    # flattening: the small source keeps a much larger fraction
    assert thr["small"] > 3 * thr["big"]

    def coin(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:8], 16) % 1_000_000

    expect = {
        (i, g)
        for (i, g, _) in rows
        if coin(i) < thr[g]
    }
    assert out == expect and len(out) > 0


def test_mil_bags_at_least_one_semantics(spark):
    from bran_spark.operators.pairs import mil_bags

    labeled = spark.createDataFrame(
        [
            ("d1", "c1", "x1", 1),
            ("d2", "c1", "x1", 0),  # noisy bag: 1 of 2 docs positive
            ("d3", "c2", "x2", 0),
            ("d4", "c2", "x2", 0),  # all-negative bag
        ],
        "doc_id string, chem_mesh string, dis_mesh string, label int",
    )
    bags = {(r.chem_mesh, r.dis_mesh): r for r in mil_bags(labeled).collect()}
    noisy = bags[("c1", "x1")]
    assert noisy.n_docs == 2 and noisy.n_pos_docs == 1
    assert noisy.bag_label == 1 and noisy.pos_frac == 0.5
    neg = bags[("c2", "x2")]
    assert neg.bag_label == 0 and neg.n_pos_docs == 0 and neg.pos_frac == 0.0


def test_assertion_status_negation_window(spark):
    from bran_spark.operators.mentions import assertion_status

    dim = spark.createDataFrame(
        [("aspirin", "C1", "Chemical"), ("fever", "D1", "Disease"),
         ("cough", "D2", "Disease")],
        "surface string, mesh_id string, type string",
    )
    docs = spark.createDataFrame(
        [
            # cue directly before the only fever mention -> un-asserted
            (1, "aspirin gave no fever today"),
            # cue too far (3 words before) -> asserted at window=2
            (2, "aspirin no x y fever"),
            # one negated + one clean mention of the same disease -> asserted
            (3, "aspirin no fever but later fever returned"),
            # cue AFTER the mention does not negate
            (4, "aspirin fever no cough"),
        ],
        "doc_id int, text string",
    )
    out = {
        (r.doc_id, r.chem_mesh, r.dis_mesh): r.asserted
        for r in assertion_status(docs, dim, cues=["no"], window=2).collect()
    }
    assert out[(1, "C1", "D1")] is False
    assert out[(2, "C1", "D1")] is True
    assert out[(3, "C1", "D1")] is True
    assert out[(4, "C1", "D1")] is True      # cue after mention
    assert out[(4, "C1", "D2")] is False     # 'no cough' negated


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from bran_spark.functions.bpe import bpe_pair_counts

    docs = spark.createDataFrame(
        [("1", "abab abab cd"), ("2", "abab x")],
        "doc_id string, text string",
    )
    out = {r.pair: r.freq for r in bpe_pair_counts(docs, "text", k=10).collect()}
    # 'abab' occurs 3 times; pairs per occurrence: ab, ba, ab -> ab:6, ba:3
    assert out["ab"] == 6 and out["ba"] == 3 and out["cd"] == 1
    assert "x" not in out  # single-char words contribute nothing


def test_roc_auc_perfect_random_and_ties(spark):
    from bran_spark.operators.evaluate import roc_auc

    perfect = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], "label int, s double"
    )
    assert roc_auc(perfect).head().auc == 1.0
    inverted = spark.createDataFrame(
        [(0, 0.9), (0, 0.8), (1, 0.2), (1, 0.1)], "label int, s double"
    )
    assert roc_auc(inverted).head().auc == 0.0
    # all scores tied -> AUC 0.5 by the tie correction
    tied = spark.createDataFrame(
        [(1, 0.5), (1, 0.5), (0, 0.5), (0, 0.5)], "label int, s double"
    )
    assert roc_auc(tied).head().auc == 0.5
    # one class empty -> NULL
    onecls = spark.createDataFrame([(1, 0.5), (1, 0.2)], "label int, s double")
    assert roc_auc(onecls).head().auc is None


def test_burst_scores_flags_planted_spike(spark):
    import datetime as dt

    from bran_spark.operators.sessions import burst_scores

    base = dt.datetime(2024, 1, 1)
    rows = []
    # type 'steady': 2 events/hour for 8 hours; hour 5 gets 20 (burst)
    for h in range(8):
        n = 20 if h == 5 else 2
        for i in range(n):
            rows.append((f"e{h}_{i}", base + dt.timedelta(hours=h, minutes=i % 50), "steady"))
    # type 'flat': identical counts -> zero variance -> no z, no burst
    for h in range(4):
        rows.append((f"f{h}", base + dt.timedelta(hours=h), "flat"))
    ev = spark.createDataFrame(rows, "event_id string, ts timestamp, event_type string")
    out = burst_scores(ev, z_threshold=2.0).collect()
    bursts = [(r.event_type, r.n) for r in out if r.burst]
    assert bursts == [("steady", 20)]
    assert all(r.z is None and not r.burst for r in out if r.event_type == "flat")


def test_transition_matrix_orders_by_ts_then_id(spark):
    from bran_spark.operators.sessions import transition_matrix

    ev = spark.createDataFrame(
        [
            # user 1: a -> b -> c; the b/c share a timestamp, id breaks it
            (1, 1, "2024-01-01 00:00:00", "a"),
            (2, 1, "2024-01-01 00:01:00", "b"),
            (3, 1, "2024-01-01 00:01:00", "c"),
            # user 2: a -> c
            (4, 2, "2024-01-01 00:00:00", "a"),
            (5, 2, "2024-01-01 00:05:00", "c"),
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.from_type, r.to_type): (r.n, r.prob)
        for r in transition_matrix(ev).collect()
    }
    assert out[("a", "b")] == (1, 0.5) and out[("a", "c")] == (1, 0.5)
    assert out[("b", "c")] == (1, 1.0)
    assert ("c", "b") not in out  # tie resolved by event_id, not reversed


def test_stationary_distribution_matches_analytic_chain(spark):
    from bran_spark.operators.sessions import stationary_distribution

    # P = [[.5,.5],[.25,.75]] -> pi = (1/3, 2/3); lambda2 = .25 so 8
    # synchronous rounds land within ~.25^8 of the fixed point.
    trans = spark.createDataFrame(
        [("A", "A", 1), ("A", "B", 1), ("B", "A", 1), ("B", "B", 3)],
        "from_type string, to_type string, n long",
    )
    out = {r.event_type: r for r in stationary_distribution(trans, iters=8).collect()}
    assert abs(out["A"].share - 1 / 3) < 1e-3
    assert abs(out["B"].share - 2 / 3) < 1e-3
    # integer fixed point: reruns are bit-identical, not just close
    again = {
        r.event_type: r.p_fp
        for r in stationary_distribution(trans, iters=8).collect()
    }
    assert again == {k: r.p_fp for k, r in out.items()}


def test_conformal_coverage_order_statistic_and_guarantee(spark):
    from bran_spark.operators.evaluate import conformal_coverage

    # calib scores 1..9 -> n=9, k = floor(0.1*10) = 1 -> tau = 1.0
    calib = spark.createDataFrame([(float(i),) for i in range(1, 10)], "s double")
    test = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (9.9,)], "s double"
    )
    row = conformal_coverage(calib, test, alpha=0.1).head()
    assert row.n_calib == 9 and row.k == 1 and row.tau == 1.0
    assert row.n_test == 4 and row.n_covered == 3 and row.coverage == 0.75
    assert row.target == 0.9
    # alpha=0.5 with n=9 -> k = floor(0.5*10) = 5 -> tau = 5.0 (median)
    row2 = conformal_coverage(calib, calib, alpha=0.5).head()
    assert row2.k == 5 and row2.tau == 5.0
    assert abs(row2.coverage - 5 / 9) < 1e-6  # scores >= 5.0 among 1..9
    # degenerate calibration set: n=5, alpha=0.1 -> floor(0.1*6)=0. No
    # finite order statistic honors 0.9 coverage; clamping to the min
    # score would deliver only 5/6 — report tau=-inf / full coverage.
    tiny = spark.createDataFrame([(float(i),) for i in range(1, 6)], "s double")
    row3 = conformal_coverage(tiny, test, alpha=0.1).head()
    assert row3.n_calib == 5 and row3.k == 0
    assert row3.tau == float("-inf")
    assert row3.n_covered == 4 and row3.coverage == 1.0


def test_support_precision_curve_monotone_grid(spark):
    from bran_spark.operators.pairs import (
        mil_bags,
        support_precision_curve,
    )

    labeled = spark.createDataFrame(
        [
            # pair A: support 3, gold
            ("d1", "c1", "x1", 1), ("d2", "c1", "x1", 0), ("d3", "c1", "x1", 0),
            # pair B: support 2, not gold
            ("d1", "c2", "x2", 0), ("d2", "c2", "x2", 0),
            # pair C: support 1, gold
            ("d9", "c3", "x3", 1),
        ],
        "doc_id string, chem_mesh string, dis_mesh string, label int",
    )
    curve = {
        r.support_ge: r
        for r in support_precision_curve(mil_bags(labeled)).collect()
    }
    assert curve[3].n_pairs == 1 and curve[3].precision == 1.0
    assert curve[3].recall == 0.5
    assert curve[2].n_pairs == 2 and curve[2].n_gold == 1
    assert curve[1].n_pairs == 3 and curve[1].n_gold == 2
    assert curve[1].recall == 1.0
    # n_pairs cumulative from above is monotone increasing as support drops
    assert curve[1].n_pairs >= curve[2].n_pairs >= curve[3].n_pairs


def test_sorted_neighborhood_window_and_determinism(spark):
    from bran_spark.operators.linking import sorted_neighborhood_pairs

    names = spark.createDataFrame(
        [("e1", "Alpha"), ("e2", "alphb"), ("e3", "beta"), ("e4", "gamma")],
        "mesh_id string, canonical_name string",
    )
    out = {
        (r.id_a, r.id_b): r.dist
        for r in sorted_neighborhood_pairs(names, window=2).collect()
    }
    # sort order: alpha(e1), alphb(e2), beta(e3), gamma(e4)
    assert out[("e1", "e2")] == 1 and out[("e1", "e3")] == 2
    assert out[("e2", "e3")] == 1 and out[("e2", "e4")] == 2
    assert out[("e3", "e4")] == 1
    assert ("e4", "e1") not in out  # no wraparound; last entity pairs forward only
    # candidate budget: at most w pairs per entity
    assert len(out) == 5


def test_ab_assignment_sticky_and_chi_square(spark):
    from bran_spark.operators.sampling import ab_assignment_srm

    users = spark.createDataFrame(
        [(i,) for i in range(200)] + [(0,), (1,)],  # dupes collapse
        "user_id int",
    )
    out = {r.arm: r for r in ab_assignment_srm(users, "user_id", n_arms=2).collect()}
    assert set(out) == {0, 1}
    total = sum(r.n_units for r in out.values())
    assert total == 200  # distinct units
    for r in out.values():
        assert r.expected == 100.0
        assert abs(r.chi2_term - round((r.n_units - 100) ** 2 / 100, 6)) < 1e-9
    # determinism: same ids -> identical assignment counts on rerun
    again = {r.arm: r.n_units for r in ab_assignment_srm(users, "user_id").collect()}
    assert again == {a: r.n_units for a, r in out.items()}
    # an arm with ZERO units must still emit its chi-square cell — a
    # single user across 3 arms leaves 2 arms empty, and those empty
    # arms carry the strongest mismatch evidence (expected-vs-0).
    one = spark.createDataFrame([(42,)], "user_id int")
    cells = {r.arm: r for r in ab_assignment_srm(one, "user_id", n_arms=3).collect()}
    assert set(cells) == {0, 1, 2}
    assert sum(r.n_units for r in cells.values()) == 1
    for r in cells.values():
        assert abs(r.expected - 1 / 3) < 1e-6
        if r.n_units == 0:
            assert abs(r.chi2_term - round((1 / 3) ** 2 / (1 / 3), 6)) < 1e-6


def test_ab_effect_welch_t_on_planted_shift(spark):
    from bran_spark.operators.sampling import ab_effect

    units = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (1, 4)],
        "arm int, y long",
    )
    row = ab_effect(units, scale=1).head()
    assert row.n_ctl == 3 and row.n_trt == 3
    assert row.mean_ctl == 2.0 and row.mean_trt == 3.0 and row.diff == 1.0
    # sample var 1.0 each arm -> Welch se = sqrt(1/3 + 1/3)
    assert abs(row.se - 0.816497) < 1e-6
    assert abs(row.t_stat - 1.224745) < 1e-6
    # arms outside {0,1} are ignored, not miscounted
    extra = units.union(
        spark.createDataFrame([(2, 1000)], "arm int, y long")
    )
    assert ab_effect(extra, scale=1).head().n_ctl == 3


def test_cuped_effect_removes_covariate_variance(spark):
    from bran_spark.operators.sampling import cuped_effect

    # y = 2x + 100·arm exactly, same x distribution in both arms:
    # theta = 2, diff_x = 0, diff_adj = diff_raw = 100, rho² = cov²/(vx·vy)
    units = spark.createDataFrame(
        [
            (0, 100, 200), (0, 200, 400), (0, 300, 600),
            (1, 100, 300), (1, 200, 500), (1, 300, 700),
        ],
        "arm int, x long, y long",
    )
    row = cuped_effect(units, scale=1).head()
    assert row.n_ctl == 3 and row.n_trt == 3
    assert abs(row.theta - 2.0) < 1e-9
    assert row.diff_raw == 100.0 and row.diff_adj == 100.0
    assert abs(row.var_reduction - 0.914286) < 1e-6
    # a covariate-free world: x constant -> var_x = 0 -> theta undefined;
    # the operator must not mask it as 0 (NULL/NaN is the honest answer)
    flat = spark.createDataFrame(
        [(0, 5, 10), (0, 5, 20), (1, 5, 30), (1, 5, 40)],
        "arm int, x long, y long",
    )
    t = cuped_effect(flat, scale=1).head().theta
    import math

    assert t is None or math.isnan(t)


def test_neyman_allocation_favors_variable_strata(spark):
    from bran_spark.operators.sampling import neyman_allocation

    rows = []
    # stratum 'flat': 100 rows, constant value -> sd 0 -> alloc 0
    rows += [("flat", 5.0)] * 100
    # stratum 'wild': 100 rows alternating 0/10 -> sd 5
    rows += [("wild", 0.0), ("wild", 10.0)] * 50
    # stratum 'mild': 200 rows alternating 4/6 -> sd 1, n twice as big
    rows += [("mild", 4.0), ("mild", 6.0)] * 100
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {
        r.stratum: r
        for r in neyman_allocation(df, "event_type", "value", budget=700).collect()
    }
    assert out["flat"].alloc == 0 and out["flat"].sd == 0.0
    # weights: wild = 100*5 = 500, mild = 200*1 = 200 -> 5/7 and 2/7
    assert abs(out["wild"].alloc_frac - round(5 / 7, 6)) < 1e-9
    # floor(700 * 0.714286) = floor(500.0002) = 500;
    # floor(700 * 0.285714) = floor(199.9998) = 199 — the rounded-frac
    # contract: remainders are distributed downstream, never invented
    assert out["wild"].alloc == 500
    assert out["mild"].alloc == 199


def test_acronym_pairs_schwartz_hearst_initials_rule(spark):
    from bran_spark.operators.linking import acronym_pairs

    docs = spark.createDataFrame(
        [
            (1, "patients with hepatocellular carcinoma (HCC) were treated"),
            (2, "the united states (US) signed the pact"),
            (3, "random trailing words here (XYZ) do not form initials"),
            (4, "relapsed hepatocellular carcinoma (HCC) cases"),
            (5, "no parenthetical at all in this document"),
            (6, "short (AB) needs two candidate words before it"),
            # anchor rule: the interior 'p' of purple is skipped; the
            # first SF char must land on a word START
            (7, "fresh purple apple (PA) juice"),
            # length gate: long form would be 5 words > min(2+5, 2*2)
            (8, "the apple pie crust dish tart (AT) slice"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.short_form, r.long_form): r.n_docs
        for r in acronym_pairs(docs).collect()
    }
    assert out[("HCC", "hepatocellular carcinoma")] == 2
    assert out[("US", "united states")] == 1
    assert out[("PA", "purple apple")] == 1
    assert all(sf != "XYZ" for sf, _ in out)
    # doc 6: no word-start subsequence for "AB" in the window
    assert all(sf != "AB" for sf, _ in out)
    assert all(sf != "AT" for sf, _ in out)  # length gate


def test_ambiguity_profile_entropy_and_majority(spark):
    from bran_spark.operators.mentions import ambiguity_profile

    m = spark.createDataFrame(
        [("aspirin", "E1")] * 3
        + [("cold", "E2"), ("cold", "E2"), ("cold", "E3"), ("cold", "E3")]
        + [("rare", "E4")],
        "text string, mesh_id string",
    )
    out = {r.surface: r for r in ambiguity_profile(m).collect()}
    import math

    assert out["aspirin"].n_entities == 1 and out["aspirin"].entropy == 0.0
    assert math.copysign(1, out["aspirin"].entropy) > 0  # +0.0, never -0.0
    assert out["cold"].n_mentions == 4 and out["cold"].n_entities == 2
    assert out["cold"].majority_share == 0.5
    assert abs(out["cold"].entropy - round(math.log(2), 6)) < 1e-9
    assert out["rare"].n_mentions == 1


def test_confident_joint_flags_planted_label_error(spark):
    from bran_spark.operators.evaluate import confident_joint

    df = spark.createDataFrame(
        [
            (1, 0.9), (1, 0.8), (1, 0.7),
            (0, 0.2), (0, 0.1), (0, 0.3),
            (0, 0.95),  # mislabeled: model is confident it is class 1
        ],
        "label int, p double",
    )
    out = {
        (r.noisy_label, r.est_true): r for r in confident_joint(df).collect()
    }
    # t1 = mean(.9,.8,.7) = .8 ; t0 = mean(.8,.9,.7,.05) = .6125
    assert out[(1, 1)].n == 2
    assert out[(0, 0)].n == 3
    assert out[(0, 1)].n == 1  # the planted label error, off-diagonal
    assert (1, 0) not in out
    assert abs(out[(0, 1)].frac - round(1 / 6, 6)) < 1e-9


def test_isotonic_calibration_pools_violators(spark):
    from bran_spark.operators.evaluate import isotonic_calibration

    # 4 bins, raw rates .1 / .4 / .3 / .8 with equal weight 10: PAVA
    # pools the (.4, .3) violation to .35 and leaves the ends alone.
    rows = []
    spec = [(0.1, 1), (0.3, 4), (0.6, 3), (0.9, 8)]  # (p, n_pos of 10)
    for p, npos in spec:
        rows += [(p, 1)] * npos + [(p, 0)] * (10 - npos)
    df = spark.createDataFrame(rows, "p double, label int")
    out = {r.bin: r for r in isotonic_calibration(df, n_bins=4).collect()}
    assert [out[b].rate_raw for b in range(4)] == [0.1, 0.4, 0.3, 0.8]
    assert [out[b].rate_iso for b in range(4)] == [0.1, 0.35, 0.35, 0.8]
    # monotone and mass-preserving (pooled means keep the weighted sum)
    iso = [out[b].rate_iso for b in range(4)]
    assert iso == sorted(iso)
    assert abs(sum(out[b].n * out[b].rate_iso for b in range(4)) - 16) < 1e-6
    # already-monotone input is a fixed point
    mono = []
    for p, npos in [(0.1, 2), (0.3, 5), (0.6, 7), (0.9, 9)]:
        mono += [(p, 1)] * npos + [(p, 0)] * (10 - npos)
    df2 = spark.createDataFrame(mono, "p double, label int")
    out2 = isotonic_calibration(df2, n_bins=4).collect()
    assert all(r.rate_iso == r.rate_raw for r in out2)


def test_review_fixes_degenerate_stats_session6(spark):
    """Session-6 review repro cases: float residue must never fabricate
    statistics — zero spread/variance is detected in exact integers."""
    import math

    from bran_spark.operators.sampling import ab_effect, cuped_effect
    from bran_spark.operators.sessions import stationary_distribution

    # both arms flat at scale=100 (the NaN/1e7-t repro): se=0, t NULL
    flat = spark.createDataFrame(
        [(0, 300)] * 5 + [(1, 400)] * 7, "arm int, y long"
    )
    r = ab_effect(flat, scale=100).head()
    assert r.se == 0.0 and r.t_stat is None and r.diff == 1.0
    # one flat arm: genuine finite t from the other arm's variance
    half = spark.createDataFrame(
        [(0, 300)] * 5 + [(1, 300), (1, 500), (1, 400)], "arm int, y long"
    )
    r2 = ab_effect(half, scale=100).head()
    assert r2.t_stat is not None and math.isfinite(r2.t_stat)
    # constant covariate at scale=100 (residue passed the float guard):
    # theta/diff_adj NULL regardless of which constant
    for const in (300, 700):
        cu = spark.createDataFrame(
            [(0, const, 10), (0, const, 20), (1, const, 30), (1, const, 40)],
            "arm int, x long, y long",
        )
        row = cuped_effect(cu, scale=100).head()
        assert row.theta is None and row.diff_adj is None
    # pure funnel chain drains all integer mass: NULL shares, no abort
    funnel = spark.createDataFrame(
        [("A", "B", 5)], "from_type string, to_type string, n long"
    )
    out = stationary_distribution(funnel, iters=4).collect()
    assert all(r.share is None for r in out)


def test_fleiss_kappa_null_votes_not_a_category(spark):
    from bran_spark.operators.weaksup import fleiss_kappa

    df = spark.createDataFrame(
        [("i1", 1, 1, None), ("i2", 1, 0, None), ("i3", 1, 1, 1),
         ("i4", 0, 0, 0)],
        "item string, r1 int, r2 int, r3 int",
    )
    row = fleiss_kappa(df, "item", ["r1", "r2", "r3"]).head()
    assert row.n_categories == 2  # NULL abstentions are not a category
    assert row.kappa is None  # incomplete rating matrix -> undefined


def test_maximal_matching_wide_weights_no_collision(spark):
    from bran_spark.operators.graphalgo import maximal_matching

    # weights >= 1e8 used to truncate in the 9-char priority field and
    # collide; the heavier edge must win the shared vertex
    g = spark.createDataFrame(
        [("a", "b", 110_000_000), ("b", "c", 200_000_000)],
        "u string, v string, w long",
    )
    got = [(r.u, r.v) for r in maximal_matching(g).collect()]
    assert got == [("b", "c")]


def test_decayed_support_clamps_future_evidence(spark):
    from bran_spark.operators.kgquality import decayed_support

    ev = spark.createDataFrame(
        [("s", "o", "2045-01-01 00:00:00"), ("s", "o", "2002-01-01 00:00:00")],
        "subj string, obj string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = decayed_support(ev, ref_time="2002-01-01").head()
    # future row clamped to weight 1, never 2^(+43) amplification
    assert row.support == 2.0


def test_ucb_allocation_explores_undersampled_arm(spark):
    import math

    from bran_spark.operators.sampling import ucb_allocation

    # arm 0: well-sampled, mean 2.0; arm 1: one lucky pull, mean 3.0
    units = spark.createDataFrame(
        [(0, 2)] * 99 + [(1, 3)], "arm int, y long"
    )
    out = {r.arm: r for r in ucb_allocation(units, scale=1).collect()}
    assert out[0].mean == 2.0 and out[1].mean == 3.0
    # exploration bonus dominates for n=1
    assert abs(out[1].ucb - round(3 + math.sqrt(2 * math.log(100)), 6)) < 1e-6
    assert out[1].is_best and not out[0].is_best
    # equal ucb would tie-break arm-asc deterministically (same inputs
    # rerun -> identical flags)
    again = {r.arm: r.is_best for r in ucb_allocation(units, scale=1).collect()}
    assert again == {a: r.is_best for a, r in out.items()}


def test_journey_entropy_scripted_vs_uniform(spark):
    import math

    from bran_spark.operators.sessions import journey_entropy

    trans = spark.createDataFrame(
        [
            ("script", "next", 50),             # one successor -> H = 0
            ("coin", "h", 25), ("coin", "t", 25),  # uniform 2-way -> ln 2
        ],
        "from_type string, to_type string, n long",
    )
    out = {r.from_type: r for r in journey_entropy(trans).collect()}
    assert out["script"].entropy == 0.0
    assert out["script"].predictability is None  # n_out = 1: undefined
    assert abs(out["coin"].entropy - round(math.log(2), 6)) < 1e-9
    assert out["coin"].predictability == 0.0  # exactly uniform


def test_poststratified_effect_corrects_composition_bias(spark):
    from bran_spark.operators.sampling import poststratified_effect

    # Simpson-style composition bias: within each stratum the effect is
    # exactly +1, but arm 1 over-samples the high-baseline stratum so
    # the raw diff is inflated. Post-stratification recovers +1.
    rows = (
        [(0, "lo", 10)] * 8 + [(1, "lo", 11)] * 2   # lo: 10 vs 11
        + [(0, "hi", 20)] * 2 + [(1, "hi", 21)] * 8  # hi: 20 vs 21
    )
    units = spark.createDataFrame(rows, "arm int, stratum string, y long")
    row = poststratified_effect(units, scale=1).head()
    assert row.n_units == 20 and row.n_strata_used == 2
    # raw: mean1 = (11*2 + 21*8)/10 = 19.0; mean0 = (10*8+20*2)/10 = 12.0
    assert row.diff_raw == 7.0
    assert row.diff_post == 1.0  # the true within-stratum effect
    # a stratum missing an arm is excluded, not silently averaged
    extra = units.union(
        spark.createDataFrame([(0, "only0", 99)], "arm int, stratum string, y long")
    )
    row2 = poststratified_effect(extra, scale=1).head()
    assert row2.n_strata == 3 and row2.n_strata_used == 2
    assert row2.diff_post == 1.0


def test_cohort_retention_matrix_counts(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.sessions import cohort_retention

    rows = [
        # u1, u2 start week of 2024-01-01 (Mon); u1 returns next week
        (1, "2024-01-02 10:00:00"), (2, "2024-01-03 10:00:00"),
        (1, "2024-01-09 10:00:00"),
        # u3 starts the following week
        (3, "2024-01-10 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (str(r.cohort_week), r.week_offset): r
        for r in cohort_retention(ev).collect()
    }
    assert out[("2024-01-01", 0)].n_cohort == 2
    assert out[("2024-01-01", 0)].retention == 1.0
    assert out[("2024-01-01", 1)].n_active == 1
    assert out[("2024-01-01", 1)].retention == 0.5
    assert out[("2024-01-08", 0)].n_cohort == 1


def test_sequential_looks_obf_crossing(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.sampling import sequential_looks

    # arm derives from md5(user_id); find ids per arm first, then plant
    # a huge treatment lift that should cross only at later looks
    ids = list(range(40))

    def arm_of(u):
        import hashlib

        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

    rows = []
    for u in ids:
        a = arm_of(u)
        for d, day in enumerate(["2024-01-02", "2024-01-10", "2024-01-20"]):
            # control earns 1.00, treatment 3.00 per period + jitter
            val = (1.0 if a == 0 else 3.0) + (u % 3) * 0.01
            rows.append((u, f"{day} 12:00:00", val))
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    looks = ["2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"]
    out = {r.look: r for r in sequential_looks(ev, looks).collect()}
    assert len(out) == 4
    # z grows with accumulating data; the late lenient boundary crosses
    zs = [abs(out[lk].z) for lk in looks]
    assert zs[2] >= zs[0]
    assert out[looks[3]].crossed  # boundary 2.024 with a 3x lift
    # boundaries are monotone decreasing (alpha spending)
    bs = [out[lk].boundary for lk in looks]
    assert bs == sorted(bs, reverse=True)


def test_sequential_looks_scale_consistency(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.sampling import sequential_looks

    rows = [
        (u, "2024-01-02 00:00:00", float(1 + (u % 2)))
        for u in range(30)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    looks = ["2024-01-08"]
    a = sequential_looks(ev, looks, bounds=(4.049,), scale=100).head()
    b = sequential_looks(ev, looks, bounds=(4.049,), scale=1).head()
    # unit-term diff must be identical whatever the integerization
    # factor (the hardcoded *100 bug scaled diff by 100/scale)
    assert abs(a.diff - b.diff) < 1e-6
    assert abs((a.z or 0) - (b.z or 0)) < 1e-4
