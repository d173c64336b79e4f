"""NumPy encoder/scorer kernels (P1/P2/P4): determinism, batch invariance,
masking correctness — the properties the parallelism-invariance gate needs."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from bran_spark.fixtures.gen import ensure, fixture_dir
from bran_spark.model.encoder import (
    Weights,
    encode_batch,
    encode_one,
    ner_logits,
    score_pairs,
)


def _weights() -> Weights:
    ensure(0.001)
    return Weights.load(f"{fixture_dir(0.001)}/model_weights.npz")


def test_encode_deterministic():
    w = _weights()
    ids = [np.arange(2, 40) % (w["embed"].shape[0] - 2) + 2]
    a = encode_batch(ids, w)[0]
    b = encode_batch(ids, w)[0]
    assert a.shape == (38, w.d_model)
    np.testing.assert_array_equal(a, b)


def test_batch_composition_invariance():
    """Padding/masking must not change per-doc outputs: encode docs of very
    different lengths together vs alone — identical results (this is what
    makes results invariant to Arrow batch composition and parallelism)."""
    w = _weights()
    rng = np.random.default_rng(7)
    docs = [
        rng.integers(2, 100, size=n).astype(np.int64) for n in (5, 37, 81, 12)
    ]
    together = encode_batch(docs, w)
    alone = [encode_batch([d], w)[0] for d in docs]
    for t, a in zip(together, alone):
        # 1e-6: pure BLAS blocking noise (different GEMM shapes reduce in
        # different orders — measured ≤5e-7 with correct masking). The old
        # 2e-5 tolerance was hiding a real leak: conv1 output at padded
        # positions was not re-zeroed before conv2, so the last real
        # tokens' receptive fields read pad garbage (up to 2e-5 here,
        # unbounded in general).
        np.testing.assert_allclose(t, a, rtol=0, atol=1e-6)


def test_truncation_at_max_len():
    w = _weights()
    long = np.ones(w.max_len + 100, dtype=np.int64) * 3
    out = encode_batch([long], w)[0]
    assert out.shape[0] == w.max_len


def test_score_pairs_shapes_and_determinism():
    w = _weights()
    enc = encode_batch([np.arange(2, 60, dtype=np.int64)], w)[0]
    heads = [(0, 3), (10, 12)]
    tails = [(20, 22), (30, 31), (40, 45)]
    s1 = score_pairs(enc, heads, tails, w)
    s2 = score_pairs(enc, heads, tails, w)
    assert s1.shape == (2, 3)
    np.testing.assert_array_equal(s1, s2)
    assert np.isfinite(s1).all()


def test_ner_head():
    w = _weights()
    enc = encode_batch([np.arange(2, 30, dtype=np.int64)], w)[0]
    logits = ner_logits(enc, w)
    assert logits.shape == (28, w.n_ner)


def test_ner_head_matches_local_numpy(spark):
    """P4 wiring: score_documents(emit='ner') must reproduce the local
    encode→ner_logits→argmax bitwise, and emit='both' must carry the same
    ner rows alongside the pair logits from ONE encoder pass."""
    from bran_spark.model.scorer import score_documents

    w = _weights()
    wbc = spark.sparkContext.broadcast(w)
    rng = np.random.default_rng(3)
    ids = rng.integers(2, w["embed"].shape[0], size=23).astype(np.int64)
    starts = np.arange(23, dtype=np.int32) * 5
    docs = spark.createDataFrame(
        [("d1", [int(i) for i in ids], [int(s) for s in starts],
          [{"mention_id": "d1#0", "type": "Chemical", "mesh_id": "C1",
            "start": 0, "end": 4},
           {"mention_id": "d1#2", "type": "Disease", "mesh_id": "D1",
            "start": 10, "end": 14}])],
        "doc_id string, tok_ids array<int>, tok_starts array<int>, "
        "mentions array<struct<mention_id:string,type:string,mesh_id:string,"
        "start:int,end:int>>",
    )
    enc = encode_one(ids, w)
    logits = ner_logits(enc, w)
    tags = logits.argmax(axis=1)

    out = {r.tok_idx: r for r in score_documents(docs, wbc, emit="ner").collect()}
    assert len(out) == 23
    for i in range(23):
        assert out[i].ner_tag == tags[i]
        assert out[i].tok_start == starts[i]
        # executors run pinned single-thread BLAS; this test process does
        # not, so the local reference can differ in the last float32 bit —
        # tags must still agree exactly, scores to 1 ulp-ish tolerance
        np.testing.assert_allclose(
            np.float32(out[i].ner_score), logits[i, tags[i]], rtol=0, atol=1e-6
        )

    both = score_documents(docs, wbc, emit="both").collect()
    ner_rows = [r for r in both if r.kind == "ner"]
    pair_rows = [r for r in both if r.kind == "pair"]
    assert len(ner_rows) == 23 and len(pair_rows) == 1
    assert {r.tok_idx: r.ner_tag for r in ner_rows} == {
        i: int(t) for i, t in enumerate(tags)
    }
    assert pair_rows[0].chem_mesh == "C1" and pair_rows[0].dis_mesh == "D1"


def test_encode_one_bitwise_matches_batch():
    """The solo arena encoder (the flagship scorer's default path) must be
    bitwise-equal to encode_batch([t]) across lengths including max_len
    truncation. Empty input is a documented divergence: encode_one pads to
    one zero token, encode_batch returns (0, d)."""
    w = _weights()
    rng = np.random.default_rng(11)
    for n in (1, 2, 5, 31, 32, 33, 200, w.max_len, w.max_len + 50):
        t = rng.integers(2, w["embed"].shape[0], size=n).astype(np.int64)
        solo = encode_one(t[: w.max_len], w)
        batch = encode_batch([t], w)[0]
        assert solo.shape == batch.shape, f"len={n}"
        np.testing.assert_array_equal(solo, batch, err_msg=f"len={n}")
    assert encode_one(np.zeros(0, dtype=np.int64), w).shape == (1, w.d_model)
    assert encode_batch([np.zeros(0, dtype=np.int64)], w)[0].shape == (0, w.d_model)


def test_batched_scorer_matches_solo_scorer(spark, fx_dir):
    """score_documents(batch_docs=4) must produce the same pair scores as
    the batch_docs=1 default: the bucketed path once PRE-padded inputs to
    the bucket length, which defeated the attention mask (pad tokens
    attended as real ones) and silently shifted every logit. And text fed
    to the scorer, tokenized in its worker, must score bitwise like the
    same documents fed as token arrays, at the default cap and at one that
    truncates."""
    from bran_spark.functions.bpe import full_text_col, load_codec
    from bran_spark.model.scorer import score_documents

    w = _weights()
    wbc = spark.sparkContext.broadcast(w)
    rng = np.random.default_rng(13)
    rows = []
    for i, n in enumerate((7, 30, 45, 63, 64, 90)):
        toks = rng.integers(2, 100, size=n).astype(int).tolist()
        starts = list(range(0, 4 * n, 4))
        rows.append((
            f"d{i}", toks, starts,
            [{"mention_id": f"d{i}#0", "type": "Chemical", "mesh_id": "C1",
              "start": 0, "end": 4},
             {"mention_id": f"d{i}#1", "type": "Disease", "mesh_id": "D1",
              "start": 8, "end": 12}],
        ))
    docs = spark.createDataFrame(
        rows,
        "doc_id string, tok_ids array<int>, tok_starts array<int>, "
        "mentions array<struct<mention_id:string,type:string,mesh_id:string,"
        "start:int,end:int>>",
    )
    solo = {(r.doc_id, r.chem_mention_id, r.dis_mention_id): r.score
            for r in score_documents(docs, wbc, batch_docs=1).collect()}
    batched = {(r.doc_id, r.chem_mention_id, r.dis_mention_id): r.score
               for r in score_documents(docs, wbc, batch_docs=4).collect()}
    assert set(solo) == set(batched)
    for k in solo:
        np.testing.assert_allclose(batched[k], solo[k], rtol=0, atol=1e-6)

    codec = load_codec(spark, f"{fx_dir}/bpe_merges.parquet", f"{fx_dir}/vocab.parquet")
    mentions = (
        spark.read.parquet(f"{fx_dir}/mentions.parquet")
        .groupBy("doc_id")
        .agg(F.collect_list(
            F.struct("mention_id", "type", "mesh_id", "start", "end")
        ).alias("mentions"))
    )
    text_docs = (
        spark.read.parquet(f"{fx_dir}/documents_interleaved.parquet")
        .select("doc_id", full_text_col("spans").alias("full_text"))
        .join(mentions, "doc_id")
        .orderBy("doc_id")
        .limit(12)
        .collect()
    )
    assert max(len(codec.token_arrays(r.full_text, 10**6)[0]) for r in text_docs) > 64
    for cap in (512, 64):
        wbc = spark.sparkContext.broadcast(Weights(w.a, codec, cap))
        arrays = spark.createDataFrame(
            [(r.doc_id, *codec.token_arrays(r.full_text, cap), r.mentions)
             for r in text_docs],
            "doc_id string, tok_ids array<int>, tok_starts array<int>, "
            "mentions array<struct<mention_id:string,type:string,mesh_id:string,"
            "start:int,end:int>>",
        )
        text = spark.createDataFrame(
            [(r.doc_id, r.full_text, r.mentions) for r in text_docs],
            "doc_id string, full_text string, "
            "mentions array<struct<mention_id:string,type:string,mesh_id:string,"
            "start:int,end:int>>",
        )
        by_arrays = sorted(tuple(r) for r in score_documents(arrays, wbc).collect())
        by_text = sorted(tuple(r) for r in score_documents(text, wbc).collect())
        assert by_arrays and by_text == by_arrays, cap


def test_rerank_matches_local_numpy(spark):
    """Cross-encoder rerank parity: the Spark mapInPandas path must be
    bitwise-equal (float32) to the local joint-encode + segment-meanpool
    cosine — and deterministic across repeated runs."""
    from bran_spark.model.rerank import rerank_pairs

    w = _weights()
    wbc = spark.sparkContext.broadcast(w)
    rng = np.random.default_rng(5)
    q = rng.integers(2, 90, size=7).astype(np.int64)
    cands = {
        "c1": rng.integers(2, 90, size=23).astype(np.int64),
        "c2": rng.integers(2, 90, size=61).astype(np.int64),
        "c3": np.array([], dtype=np.int64),  # empty candidate -> score 0
    }

    def local(qi, ci):
        if len(ci) == 0:
            return np.float32(0.0)
        enc = encode_one(np.concatenate([qi, ci]), w)
        qv = enc[: len(qi)].mean(axis=0)
        cv = enc[len(qi):].mean(axis=0)
        return np.float32(float(qv @ cv) / float(np.linalg.norm(qv) * np.linalg.norm(cv)))

    expect = {cid: local(q, ci) for cid, ci in cands.items()}
    pairs = spark.createDataFrame(
        [("q0", cid, q.tolist(), ci.tolist()) for cid, ci in cands.items()],
        "query_id string, cand_id string, q_tok_ids array<int>, c_tok_ids array<int>",
    )
    runs = []
    for _ in range(2):
        got = {r.cand_id: r.rerank_score for r in rerank_pairs(pairs, wbc).collect()}
        assert set(got) == set(expect)
        for cid in expect:
            # executors run pinned single-thread BLAS; this test process
            # does not, so the local reference can differ in the last
            # float32 bit (same tolerance rationale as the NER parity test)
            np.testing.assert_allclose(
                np.float32(got[cid]), expect[cid], rtol=0, atol=1e-6
            )
        runs.append(got)
    assert runs[0] == runs[1]  # the Spark path itself is deterministic
    assert got["c3"] == 0.0
