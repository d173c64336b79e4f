"""Dedup + similarity operators on planted duplicates (controlled truth)."""

from __future__ import annotations

import pyspark.sql.functions as F

from bran_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from bran_spark.operators.similarity import cosine_topk, lsh_bucket_topk


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base.replace("kappa", "lambda")),        # near dup of 1
        (4, "one two three four five six seven eight nine ten"),
        (5, "completely different words entirely unrelated content here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_planted_dup(spark):
    g = exact_dedup_groups(_docs(spark), "doc_id", "text")
    dups = {r.keep_id: r.n_dups for r in g.filter("n_dups > 1").collect()}
    assert dups == {1: 2}


def test_ngram_jaccard_ranks_near_dup(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", n=3, min_jaccard=0.2, max_df=10
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0          # identical
    assert 0.2 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_minhash_lsh_recall_on_dups(spark):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(_docs(spark), "doc_id", "text", n=3, bands=4).collect()
    }
    assert (1, 2) in got          # exact dup always collides
    assert (1, 3) in got          # near dup collides in ≥1 band w.h.p.
    assert (4, 5) not in got


def test_simhash_hamming_property(spark):
    sh = {r.id: r.simhash for r in simhash(_docs(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) == 0
    assert ham(sh[1], sh[3]) <= ham(sh[1], sh[5])


def _emb(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        rows.append((i, rng.normal(0, 1, 16).astype(float).tolist(), 0))
    v = rows[7][1]
    rows.append((100, [x + 0.01 for x in v], 0))  # planted near-dup of 7
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_embedding_neardup_and_topk(spark):
    emb = _emb(spark)
    nd = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs(
            emb, min_cos=0.95, bands=((0, 3, 5, 9), (1, 4, 6, 10), (2, 7, 8, 11))
        ).collect()
    }
    assert (7, 100) in nd and nd[(7, 100)] > 0.99
    tk = cosine_topk(emb, query_id=7, k=3).collect()
    assert tk[0].vec_id == 100 and tk[0].cos > 0.99
    lk = lsh_bucket_topk(emb, query_id=7, k=3, dims=(0, 3, 5, 9)).collect()
    assert lk[0].vec_id == 100  # near-dup shares the sign bucket


def test_ivf_multiprobe_all_cells_equals_exact(spark):
    """Probing every cell must reduce IVF to the exact brute-force scan —
    the invariant that pins multi-probe's correctness; and the kmeans
    trainer path must return the same top hit for the planted near-dup."""
    from bran_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    exact = [(r.vec_id, r.cos) for r in cosine_topk(emb, query_id=7, k=5).collect()]
    allprobe = [
        (r.vec_id, r.cos)
        for r in ivf_topk(emb, query_id=7, k=5, n_centroids=4, n_probe=4).collect()
    ]
    assert allprobe == exact
    km = ivf_topk(
        emb, query_id=7, k=3, n_centroids=4, n_probe=2, trainer="kmeans"
    ).collect()
    assert km[0].vec_id == 100 and km[0].cos > 0.99


def test_ann_recall_vs_exact(spark, testdata_dir):
    """Index-quality gate: recall@10 of the approximate searches against the
    exact cosine top-10, averaged over several query points — the metric
    that justifies the bucket-pruned scan designs. Floors are deliberately
    modest (single-probe LSH trades recall for a 2^bits scan cut); the
    multi-probe IVF must do strictly better than its single-cell form on
    average."""
    from bran_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    queries = [0, 7, 19, 42]

    def ids(df):
        return {r["vec_id"] for r in df.collect()}

    r_lsh, r_ivf1, r_ivfm = [], [], []
    for q in queries:
        exact = ids(cosine_topk(emb, q, k=10))
        r_lsh.append(len(ids(lsh_bucket_topk(emb, q, k=10)) & exact) / 10)
        r_ivf1.append(len(ids(ivf_topk(emb, q, k=10)) & exact) / 10)
        r_ivfm.append(
            len(ids(ivf_topk(emb, q, k=10, n_probe=3)) & exact) / 10
        )
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    # single-probe 4-bit sign-LSH scans ~1/16 of the table; on
    # near-uniform synthetic embeddings its recall is intrinsically near
    # that scan fraction — the floor asserts the bucket scan is not broken,
    # not that one probe is a good index (multi-band q55 is the real path)
    assert avg(r_lsh) >= 0.025, r_lsh
    assert avg(r_ivf1) >= 0.1, r_ivf1
    assert avg(r_ivfm) >= avg(r_ivf1), (r_ivfm, r_ivf1)
    assert avg(r_ivfm) >= 0.5, r_ivfm


def test_sign_lsh_centering_resists_positive_bias(spark):
    """Skew-resistance gate for the centered sign-LSH: on an ALL-POSITIVE
    embedding store (post-ReLU shape — every coordinate > 0), raw sign
    bits put every vector in the all-ones bucket (intra-bucket self-join
    degenerates to O(N²)); centering on the per-dimension mean must spread
    the corpus across many buckets, and near-identical pairs must still
    collide and verify."""
    import numpy as np

    from bran_spark.operators.dedup import (
        DEFAULT_SIGN_BANDS,
        embedding_neardup_pairs,
    )
    from bran_spark.operators.similarity import banded_sign_keys, dim_means

    rng = np.random.default_rng(11)
    rows = []
    for i in range(80):
        v = rng.uniform(0.5, 1.5, 32)          # strictly positive
        rows.append((i, v.tolist()))
    # plant a near-duplicate of vector 0
    rows.append((999, (np.array(rows[0][1]) + 1e-4).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # uncentered (zero offsets, the raw sign bits): every band key is
    # all-ones — one bucket holds everything
    dims = tuple(sorted({d for b in DEFAULT_SIGN_BANDS for d in b}))
    zero = {d: 0.0 for d in dims}
    raw = banded_sign_keys(emb, "vec_id", "embedding", DEFAULT_SIGN_BANDS, zero)
    assert raw.select("key").distinct().count() == 1

    # centered: buckets spread (≥8 distinct keys per band on 81 vectors)
    off = dim_means(emb, "embedding", dims)
    centered = banded_sign_keys(emb, "vec_id", "embedding", DEFAULT_SIGN_BANDS, off)
    per_band = centered.groupBy("band").agg(
        F.countDistinct("key").alias("nk")
    ).collect()
    assert all(r.nk >= 8 for r in per_band), per_band
    # largest bucket within any band far below N (the O(N²) guard)
    top = (
        centered.groupBy("band", "key").count()
        .agg(F.max("count").alias("mx")).head().mx
    )
    assert top <= 30, top

    # the planted near-dup still collides and verifies at high cosine
    pairs = {(r.id_a, r.id_b)
             for r in embedding_neardup_pairs(emb, min_cos=0.999).collect()}
    assert (0, 999) in pairs


def test_cosine_topk_gemm_equivalent_to_jvm_form(spark, testdata_dir):
    """The Arrow/GEMM-batched exact top-k must agree with the JVM
    aggregate-expression form: same ids in order, cos within float noise."""
    from bran_spark.operators.similarity import cosine_topk, cosine_topk_gemm

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    for q in (0, 19):
        a = cosine_topk(emb, q, k=10).collect()
        b = cosine_topk_gemm(emb, q, k=10).collect()
        assert [r.vec_id for r in a] == [r.vec_id for r in b]
        for ra, rb in zip(a, b):
            assert abs(ra.cos - rb.cos) <= 2e-6


def test_product_quantize_codes_cluster_structure(spark):
    """Planted two-blob structure PER BLOCK: vectors in the same blob get
    the same per-block code, blobs get different codes, and a rerun is
    bit-identical (deterministic train+encode)."""
    import numpy as np

    from bran_spark.operators.similarity import product_quantize

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        blob = i % 2
        base = np.full(16, 5.0 if blob else -5.0)
        v = np.concatenate([base + rng.normal(0, 0.3, 16) for _ in range(2)])
        rows.append((i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = product_quantize(emb, m=2, k=2, iters=3, d=32)
    codes = {(r.vec_id, r.block): r.code for r in out.collect()}
    assert len(codes) == 80                       # 40 vectors × 2 blocks
    for b in (0, 1):
        even = {codes[(i, b)] for i in range(0, 40, 2)}
        odd = {codes[(i, b)] for i in range(1, 40, 2)}
        assert len(even) == 1 and len(odd) == 1 and even != odd, (b, even, odd)
    again = {(r.vec_id, r.block): r.code
             for r in product_quantize(emb, m=2, k=2, iters=3, d=32).collect()}
    assert codes == again


def test_pq_adc_ranks_query_blob_first(spark):
    """ADC search over PQ codes retrieves the query's quantization cell:
    every top-k hit comes from the query's blob (the other blob's codeword
    is strictly farther in every block). Within a cell all codes are
    identical — PQ cannot rank finer than its codebook, which is exactly
    why real deployments re-rank ADC candidates with exact distances."""
    import numpy as np

    from bran_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(7)
    rows = []
    for i in range(30):
        blob = i % 2
        base = np.full(16, 4.0 if blob else -4.0)
        v = np.concatenate([base + rng.normal(0, 0.2, 16) for _ in range(2)])
        rows.append((i, v.tolist()))
    rows.append((500, (np.asarray(rows[0][1]) + 1e-3).tolist()))  # near-copy of 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pq_topk(emb, query_id=0, k=10, m=2, codewords=2, iters=3, d=32).collect()
    # all hits from the query's blob (even ids + the near-copy)...
    assert all(r.vec_id % 2 == 0 or r.vec_id == 500 for r in got)
    # ...and they all share ONE approx distance (same cell ⇒ same codes)
    assert len({r.approx_dist for r in got}) == 1
    # the excluded blob would score strictly worse: its own query-distance
    # table entries are larger in every block
    full = pq_topk(emb, query_id=0, k=31, m=2, codewords=2, iters=3, d=32).collect()
    even_d = max(r.approx_dist for r in full if r.vec_id % 2 == 0 or r.vec_id == 500)
    odd_d = min(r.approx_dist for r in full if r.vec_id % 2 == 1)
    assert odd_d > even_d


def test_ivf_pq_all_probes_equals_global_adc(spark, testdata_dir):
    """With n_probe = all cells, IVF pruning is a no-op and the composed
    IVF-PQ ranking must equal the global ADC top-k exactly; with one probe
    the result is a subset of the global ranking."""
    from bran_spark.operators.similarity import ivf_pq_topk, pq_topk

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    kw = dict(m=4, codewords=8, iters=2, d=64)
    full = [tuple(r) for r in pq_topk(emb, 0, k=10, **kw).collect()]
    allp = [tuple(r) for r in
            ivf_pq_topk(emb, 0, k=10, n_centroids=8, n_probe=8, **kw).collect()]
    assert full == allp
    one = {r.vec_id for r in
           ivf_pq_topk(emb, 0, k=10, n_centroids=8, n_probe=1, **kw).collect()}
    ranked_all = {r.vec_id for r in pq_topk(emb, 0, k=2000, **kw).collect()}
    assert one <= ranked_all and len(one) > 0


def test_decontaminate_flags_only_leaked_docs(spark):
    from bran_spark.operators.dedup import decontaminate

    # bench prompt = an 8-word span that doc 11 contains verbatim (shifted),
    # doc 12 shares only a 7-word prefix of it, doc 13 is unrelated.
    span = "red orange yellow green blue indigo violet ultraviolet"
    corpus = spark.createDataFrame(
        [
            (11, "intro words " + span + " trailing words"),
            (12, "red orange yellow green blue indigo violet other tail"),
            (13, "completely unrelated content with enough words to shingle"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, span + " extra bench context")], "bench_id long, btext string"
    )
    got = {
        r.doc_id: (r.n_hits, r.n_bench_docs)
        for r in decontaminate(
            corpus, bench, "doc_id", "text", "bench_id", "btext", n=8
        ).collect()
    }
    assert 11 in got and got[11][1] == 1
    assert 12 not in got  # 7-word overlap < n never fires
    assert 13 not in got


def test_mask_duplicate_spans_removes_shared_window_only(spark):
    from bran_spark.operators.dedup import mask_duplicate_spans

    shared = "aa bb cc dd ee ff gg hh"  # 8 words, appears in docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, "u1 u2 " + shared + " u3 u4"),
            (2, shared + " v1 v2 v3"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),  # >= n words, all unique
            (4, "short doc"),                    # < n words: passes through
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in mask_duplicate_spans(df, "doc_id", "text", n=8).collect()}
    # the shared window is cut from BOTH docs; unique words survive
    assert got[1].clean_text == "u1 u2 u3 u4"
    assert got[2].clean_text == "v1 v2 v3"
    assert got[1].n_dup_windows == 1 and got[2].n_dup_windows == 1
    assert got[3].clean_text == got[3].clean_text and got[3].n_dup_windows == 0
    assert got[3].n_kept == got[3].n_words == 9
    assert got[4].clean_text == "short doc" and got[4].n_words == 2


def test_mask_duplicate_spans_within_doc_repeat(spark):
    from bran_spark.operators.dedup import mask_duplicate_spans

    # the same 8-word window twice INSIDE one doc also triggers removal
    span = "p1 p2 p3 p4 p5 p6 p7 p8"
    df = spark.createDataFrame(
        [(1, span + " mid " + span), (2, "q1 q2 q3 q4 q5 q6 q7 q8 q9")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in mask_duplicate_spans(df, "doc_id", "text", n=8).collect()}
    assert got[1].clean_text == "mid"
    assert got[2].n_kept == 9


def test_semantic_dedup_keeps_one_per_tight_group(spark):
    from bran_spark.operators.dedup import semantic_dedup

    # two tight groups on orthogonal axes + one isolated vector; within a
    # group every vector is a tiny perturbation (cosine ~ 1) of the seed.
    def v(axis, eps, d=8):
        x = [0.0] * d
        x[axis] = 1.0
        x[(axis + 1) % d] = eps
        return x

    # ids 1/2/3 are the k=3 lowest-id seeds — one per group, so Lloyd
    # converges to one cell per group and the intra-cell sweep sees every
    # tight pair (a seed set inside ONE group would split it across cells:
    # correct but a weaker test of the prune).
    rows = [
        (1, v(0, 0.0)), (4, v(0, 0.01)), (5, v(0, 0.02)),   # group A
        (2, v(3, 0.0)), (6, v(3, 0.015)),                   # group B
        (3, v(6, 0.0)),                                     # isolated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in semantic_dedup(emb, tau=0.97, k=3, iters=2).collect()}
    # lowest id in each tight group survives; the isolated vector survives
    assert kept == {1, 2, 3}


def test_chunk_neardup_profile_cross_doc_only(spark):
    """q113 semantics: a chunk repeated across docs counts; a doc whose
    chunks are unique contributes zero even if it IS the copy source."""
    from bran_spark.plans.oracle_queries import QUERIES
    import os, tempfile

    para = " ".join(f"w{i}" for i in range(64))          # one shared chunk
    uniq = " ".join(f"u{i}" for i in range(64))
    other = " ".join(f"z{i}" for i in range(64))
    df = spark.createDataFrame(
        [
            (1, para + " " + uniq, "en", "s", 1),
            (2, para + " " + other, "en", "s", 1),
            (3, " ".join(f"q{i}" for i in range(80)), "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory(dir="/root/repo") as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r.doc_id: (r.n_chunks, r.n_dup_chunks)
            for r in QUERIES["q113_chunk_neardup_profile"](spark, td).collect()
        }
    assert got[1] == (2, 1) and got[2] == (2, 1)  # the shared first chunk
    assert got[3] == (2, 0)                        # all-unique doc untouched


def test_containment_sample_mod_subspace_consistency(spark):
    """Mod-p sampled containment: exact duplicates still score 1.0 in the
    sampled subspace (every sampled shingle is shared), and the sampled
    per-doc index is a strict subset of the exact one."""
    from bran_spark.operators.dedup import containment_pairs, _shingle_common_sizes

    # long docs so the 1/4 sample keeps several shingles per doc
    base = " ".join(f"t{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(f"z{i}" for i in range(120)))],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in containment_pairs(
            df, "doc_id", "text", n=3, min_containment=0.4, max_df=10,
            sample_mod=4,
        ).collect()
    }
    assert pairs[(1, 2)] == (1.0, 1.0)
    assert all(a == b == 1.0 for a, b in pairs.values())  # 3 is disjoint

    _, exact_sizes = _shingle_common_sizes(df, "doc_id", "text", 3, 10)
    _, samp_sizes = _shingle_common_sizes(
        df, "doc_id", "text", 3, 10, sample_mod=4
    )
    ex = {r.id: r.n_sh for r in exact_sizes.collect()}
    sm = {r.id: r.n_sh for r in samp_sizes.collect()}
    for i in sm:
        assert 0 < sm[i] < ex[i]


def test_winnow_fingerprints_coverage_guarantees(spark):
    """Winnowing invariants (Schleimer et al. 2003): every window of 4
    consecutive shingle hashes contributes >=1 selected position (no
    coverage gap), a shared run >= window+n-1 words yields >=1 common
    fingerprint value across docs, and a shorter-than-n doc still emits
    its single truncated-shingle fingerprint."""
    from bran_spark.operators.dedup import winnow_fingerprints

    vocab = [f"w{(i * 7) % 23}" for i in range(40)]
    doc_a = " ".join(vocab)
    # doc_b embeds a 20-word span of doc_a inside unrelated words
    span = " ".join(vocab[10:30])
    doc_b = "x1 x2 x3 " + span + " y1 y2 y3"
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b), (2, "solo")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, "doc_id", "text", n=3, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.fp))
    pos_a = sorted(p for p, _ in by_doc[0])
    n_sh = 40 - 3 + 1
    for j in range(n_sh - 4 + 1):
        assert any(j <= p <= j + 3 for p in pos_a), f"gap at window {j}"
    # guaranteed common fingerprint on the shared 20-word run
    assert {f for _, f in by_doc[0]} & {f for _, f in by_doc[1]}
    assert by_doc[2] == [(0, by_doc[2][0][1])]  # single truncated shingle


def test_embedding_outliers_flags_planted_corrupt_vector(spark):
    """A wrong-scale vector and a far-from-centroid vector are flagged at
    |z|>3 among tight inliers; degenerate zero-variance inputs stay
    finite (no NaN/inf) thanks to the sd floor."""
    from bran_spark.operators.similarity import embedding_outliers

    base = [[1.0 + 0.01 * ((i * 7 + j) % 5) for j in range(8)]
            for i in range(60)]
    rows = [(i, base[i]) for i in range(60)]
    rows.append((100, [50.0] * 8))               # wrong scale -> huge norm
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in embedding_outliers(df).collect()}
    assert out[100].is_outlier == 1
    assert sum(r.is_outlier for r in out.values()) <= 3   # inliers stay in
    const = spark.createDataFrame(
        [(i, [1.0] * 4) for i in range(10)], "vec_id long, embedding array<double>"
    )
    cz = embedding_outliers(const).collect()
    assert all(abs(r.norm_z) < 1e6 and abs(r.dist_z) < 1e6 for r in cz)


def test_winnow_overlap_pairs_find_shared_run(spark):
    """Docs sharing a long word run pair up on shared fingerprints;
    disjoint-vocabulary docs never do."""
    from bran_spark.operators.dedup import winnow_overlap_pairs

    run = " ".join(f"r{(i * 5) % 31}" for i in range(30))
    rows = [
        (0, "a1 a2 a3 " + run),
        (1, run + " b1 b2 b3"),
        (2, " ".join(f"c{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.shared
             for r in winnow_overlap_pairs(df, "doc_id", "text").collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 3
    assert all(2 not in p for p in pairs)


def test_jl_project_shape_linearity_determinism(spark):
    """JL sketch: 16 outputs per vector; doubling the input doubles the
    output (linearity of the fixed ±1 matrix); reruns identical."""
    from bran_spark.operators.similarity import jl_project

    rows = [(0, [float((i * 3) % 7) for i in range(32)]),
            (1, [2.0 * ((i * 3) % 7) for i in range(32)])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = jl_project(df, in_dims=32, out_dims=16).collect()
    v0 = {r.o: r.val for r in out if r.vec_id == 0}
    v1 = {r.o: r.val for r in out if r.vec_id == 1}
    assert len(v0) == len(v1) == 16
    for o in v0:
        assert abs(v1[o] - 2 * v0[o]) < 1e-4
    again = jl_project(df, in_dims=32, out_dims=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ann_recall_counts_hits_per_query(spark):
    """Recall arithmetic: full overlap -> 1.0, half -> 0.5, disjoint ->
    0.0 (left join keeps the zero-hit query)."""
    from bran_spark.operators.similarity import ann_recall

    ex = spark.createDataFrame(
        [(q, v) for q in (1, 2, 3) for v in range(4)],
        "query_id long, vec_id long",
    )
    ap = spark.createDataFrame(
        [(1, 0), (1, 1), (1, 2), (1, 3),        # all 4
         (2, 0), (2, 1), (2, 90), (2, 91)],     # half
        "query_id long, vec_id long",           # q3 absent entirely
    )
    out = {r.query_id: r for r in ann_recall(ex, ap).collect()}
    assert (out[1].n_hit, out[1].recall) == (4, 1.0)
    assert (out[2].n_hit, out[2].recall) == (2, 0.5)
    assert (out[3].n_hit, out[3].recall) == (0, 0.0)


def test_semdedup_finds_planted_intra_cluster_dups(spark):
    from bran_spark.operators.dedup import semdedup_pairs

    # two tight groups far apart; seeds (k=2) are the lowest ids 0 and 1,
    # one per group so Lloyd keeps the planted split
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (3, [0.01, 0.99, 0.0, 0.0]),   # near-dup of 1
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    pairs = semdedup_pairs(emb, k=2, iters=2, threshold=0.95).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(0, 2), (1, 3)}
    assert all(r.cos >= 0.95 for r in pairs)
    # cross-cluster pair (0,1) is invisible by design even at threshold 0
    all_pairs = semdedup_pairs(emb, k=2, iters=2, threshold=-1.0).collect()
    assert (0, 1) not in {(r.id_a, r.id_b) for r in all_pairs}


def test_minhash_jaccard_audit_exact_on_identical_docs(spark):
    from bran_spark.operators.dedup import minhash_jaccard_audit

    docs = spark.createDataFrame(
        [
            ("a", "one two three four five six"),
            ("b", "one two three four five six"),   # identical -> J = 1
            ("c", "one two three four seven eight"), # shares shingles with a/b
            ("z", "totally different words here now"),
        ],
        "doc_id string, text string",
    )
    out = {
        (r.id_a, r.id_b): r
        for r in minhash_jaccard_audit(docs, "doc_id", "text", n=3, bands=8).collect()
    }
    ab = out[("a", "b")]
    assert ab.exact_jaccard == 1.0 and ab.est_jaccard == 1.0 and ab.abs_err == 0.0
    # a: shingles of 6 words n=3 -> 4 distinct; c shares 'one two three',
    # 'two three four' -> J = 2 / (4 + 4 - 2) = 1/3
    if ("a", "c") in out:
        assert abs(out[("a", "c")].exact_jaccard - round(1 / 3, 6)) < 1e-9
    # estimates live on the 1/8 grid and within [0, 1]
    for r in out.values():
        assert 0.0 <= r.est_jaccard <= 1.0
        assert abs(r.est_jaccard * 8 - round(r.est_jaccard * 8)) < 1e-9


def test_mutual_nearest_neighbors_reciprocity(spark):
    from bran_spark.operators.similarity import mutual_nearest_neighbors

    import math

    # angle chain at 0deg / 20deg / 45deg: NN(v1)=v2, NN(v2)=v1 (20 < 25
    # apart), NN(v3)=v2 but NOT reciprocated -> only (1,2) is mutual
    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [(1, vec(0)), (2, vec(20)), (3, vec(45))]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    bands = ((0, 1), (2, 3), (0, 2), (1, 3))
    out = {
        (r.id_a, r.id_b)
        for r in mutual_nearest_neighbors(emb, bands=bands).collect()
    }
    assert out == {(1, 2)}


def test_embedding_covariance_matches_numpy_exactly(spark):
    import numpy as np

    from bran_spark.operators.similarity import embedding_covariance

    rng = [[1.0, 2.0, 3.0], [2.0, 4.0, 5.0], [3.0, 6.0, 9.0], [4.0, 8.0, 11.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    )
    out = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(df, "embedding", (0, 1, 2)).collect()
    }
    x = np.array(rng)
    exp = np.cov(x, rowvar=False, bias=True)  # population covariance
    for i in range(3):
        for j in range(i, 3):
            assert abs(out[(i, j)] - round(exp[i, j], 6)) < 1e-9, (i, j)


def test_gram_covariance_equals_relational_path(spark, testdata_dir):
    from bran_spark.operators.similarity import (
        embedding_covariance,
        gram_covariance,
    )

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    rel = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(emb, "embedding", tuple(range(8))).collect()
    }
    gram = {
        (r.i, r.j): r.cov
        for r in gram_covariance(emb, "embedding", dim=8).collect()
    }
    assert set(rel) == set(gram)
    for k in rel:
        # both 6-dp rounded; partial-sum order may differ by one ulp at
        # the rounding boundary, never more
        assert abs(rel[k] - gram[k]) <= 1e-6 + 1e-12, k


def test_pca_project_recovers_planted_principal_axis(spark):
    import numpy as np

    from bran_spark.operators.similarity import pca_project

    # variance planted along (1,1,0)/sqrt(2) in 4-d; tiny noise on dim 2
    base = np.array([1.0, 1.0, 0.0, 0.0]) / np.sqrt(2.0)
    rows = []
    for i in range(40):
        t = (i - 19.5) / 4.0
        v = t * base
        v = v + np.array([0.0, 0.0, 0.01 * ((i % 3) - 1), 0.0])
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pca_project(df, k=2, dim=4).collect()
    proj = {r.vec_id: r.proj for r in out}
    assert len(proj) == 40 and all(len(p) == 2 for p in proj.values())
    # component 1 carries the planted spread: its sample variance must
    # dominate component 2's by orders of magnitude
    p1 = np.array([proj[i][0] for i in range(40)])
    p2 = np.array([proj[i][1] for i in range(40)])
    assert p1.var() > 100 * max(p2.var(), 1e-12)
    # projection along the planted axis reproduces t up to global sign
    t = np.array([(i - 19.5) / 4.0 for i in range(40)])
    corr = np.corrcoef(p1, t)[0, 1]
    assert abs(abs(corr) - 1.0) < 1e-3
    # determinism: second run bit-identical (sign-fixed eigvecs)
    again = {r.vec_id: r.proj for r in pca_project(df, k=2, dim=4).collect()}
    assert again == proj


def test_even_parallelism_detects_single_row_group(spark, tmp_path):
    """A table written with ONE output partition is one parquet row group:
    maxPartitionBytes slices it into plenty of SPLITS (so the partition-
    count check passes) but every byte decodes in one task — the r4 sf1.0
    stress-run cliff. The helper must read the footers and repartition;
    a many-file layout must pass through untouched (no surprise shuffle
    on a healthy 100 TB table)."""
    import glob

    import pyarrow.parquet as pq

    from bran_spark.operators.dedup import _even_parallelism

    p = str(tmp_path / "one_rg")
    (
        spark.range(300_000)
        .selectExpr("id", "md5(cast(id as string)) AS text")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p)
    )
    assert pq.ParquetFile(glob.glob(p + "/*.parquet")[0]).metadata.num_row_groups == 1

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    try:
        par = spark.sparkContext.defaultParallelism
        df = spark.read.parquet(p)
        # the old count-only check is fooled: plenty of (empty) splits
        assert df.rdd.getNumPartitions() >= par
        assert _even_parallelism(df).rdd.getNumPartitions() == par * 2

        # healthy many-file layout: untouched (identity, no shuffle)
        p2 = str(tmp_path / "many_files")
        spark.read.parquet(p).repartition(64).write.parquet(p2)
        df2 = spark.read.parquet(p2)
        assert _even_parallelism(df2) is df2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_even_parallelism_probes_per_leaf(spark, tmp_path):
    """ADVICE r4: row groups must be probed per LEAF, not summed globally.
    A derived plan joining a 1-row-group corpus with a many-row-group side
    table pushes the global sum past core count and masks the corpus cliff;
    conversely a small 1-row-group dimension next to a healthy corpus must
    NOT buy a shuffle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bran_spark.operators.dedup import _even_parallelism

    par = spark.sparkContext.defaultParallelism

    # corpus: ONE file, ONE row group, holds nearly all the bytes
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    n = 300_000
    ids = list(range(n))
    pq.write_table(
        pa.table({"id": ids, "text": [f"{i:064d}" for i in ids]}),
        str(corpus_dir / "part-0.parquet"),
        row_group_size=n,
    )
    # side table: ONE small file but MANY row groups (>= core count)
    side_dir = tmp_path / "side"
    side_dir.mkdir()
    pq.write_table(
        pa.table({"id": list(range(100)), "tag": ["x"] * 100}),
        str(side_dir / "part-0.parquet"),
        row_group_size=10,
    )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    try:
        corpus = spark.read.parquet(str(corpus_dir))
        side = spark.read.parquet(str(side_dir))
        joined = corpus.join(side, "id", "left")
        assert joined.rdd.getNumPartitions() >= par  # count check fooled
        # global row-group sum is 1 + 10 >= par, yet the corpus leaf is a
        # single-task funnel: per-leaf probing must still repartition
        assert _even_parallelism(joined).rdd.getNumPartitions() == par * 2

        # healthy corpus (many row groups) + tiny 1-row-group dim: identity
        corpus2_dir = tmp_path / "corpus2"
        corpus2_dir.mkdir()
        pq.write_table(
            pa.table({"id": ids, "text": [f"{i:064d}" for i in ids]}),
            str(corpus2_dir / "part-0.parquet"),
            row_group_size=n // (par * 2),
        )
        joined2 = spark.read.parquet(str(corpus2_dir)).join(side, "id", "left")
        assert _even_parallelism(joined2) is joined2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_even_parallelism_remote_scheme_no_insurance_shuffle(spark, tmp_path):
    """ADVICE r4: on hdfs://s3a:// paths pyarrow can't open footers by bare
    path; the failure must return the df unchanged (the partition-count
    check already proved the scan splittable), never buy a full shuffle on
    exactly the real-cluster case."""
    from bran_spark.operators.dedup import _even_parallelism

    df = spark.range(10_000).selectExpr("id", "md5(cast(id as string)) t")
    df = df.repartition(spark.sparkContext.defaultParallelism)
    df.inputFiles = lambda: ["s3a://bucket/table/part-00000.parquet"]
    assert _even_parallelism(df) is df
