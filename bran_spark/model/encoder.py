"""NumPy transformer encoder — the UDF-side compute kernel (SURVEY.md §2 P1).

Reference parity: bran's encoder is a multi-head self-attention transformer
whose position-wise feed-forward sublayer uses convolutions of kernel width 5
(paper §2.1; reference: src/models/transformer.py — reconstructed,
SURVEY.md §0). This is a from-scratch NumPy implementation of the same
architecture family, NOT a port: it runs inside Arrow-batched pandas UDFs on
executors, weights broadcast once per python worker.

Determinism: float32 throughout, fixed reduction shapes; the session factory
pins OMP/BLAS to 1 thread per python worker so results are bitwise stable
across parallelism levels (the `local[8]` vs `local[32]` invariance gate).
They are NOT stable across OpenBLAS kernels: the kernel OpenBLAS picks for
the CPU (overridable with ``OPENBLAS_CORETYPE``) changes the float32
rounding, and with it the flagship's triple fingerprint. At perfbench seed 1
the pinned flagship value (935, 26018070874730114849) reproduces with
``OPENBLAS_CORETYPE=SkylakeX``; the Haswell kernel gives
(935, 27865378801409533497), and the Prescott kernel that OpenBLAS falls
back to on a virtual CPU it does not recognise gives
(935, 17387043426688547287).
"""

from __future__ import annotations

import numpy as np


class Weights:
    """Loaded view over fixtures model_weights.npz (FIXTURES.md §6).

    ``codec`` (a functions.bpe.BpeCodec) and ``max_tokens`` (the F4 cap)
    turn text into this model's token ids; they ride the same broadcast as
    the arrays, so the scorer tokenizes in its own pass."""

    def __init__(self, arrays: dict[str, np.ndarray], codec=None, max_tokens: int | None = None):
        self.a = arrays
        meta = arrays["__meta__"].astype(int)
        (self.d_model, self.n_blocks, self.n_heads,
         self.d_ff, self.max_len, self.n_rels, self.n_ner) = map(int, meta)
        self.codec = codec
        self.max_tokens = max_tokens

    @classmethod
    def load(cls, path: str, codec=None, max_tokens: int | None = None) -> "Weights":
        with np.load(path) as z:
            return cls({k: z[k] for k in z.files}, codec, max_tokens)

    def __getitem__(self, k: str) -> np.ndarray:
        return self.a[k]

    def qkv(self, block: int) -> np.ndarray:
        """Fused [d, 3d] Q|K|V projection for one block (cached)."""
        key = f"__qkv{block}"
        if key not in self.a:
            self.a[key] = np.concatenate(
                [self.a[f"b{block}.{n}"] for n in ("Wq", "Wk", "Wv")], axis=1
            )
        return self.a[key]


def _layernorm(x: np.ndarray, g: np.ndarray, b: np.ndarray, eps: float = 1e-5) -> np.ndarray:
    mu = x.mean(-1, keepdims=True)
    var = x.var(-1, keepdims=True)
    return ((x - mu) / np.sqrt(var + eps)) * g + b


def _softmax_inplace(x: np.ndarray) -> np.ndarray:
    """Last-axis softmax with no temporaries beyond the reductions — the
    attention matrix is the cache-footprint hog at 32 concurrent workers,
    so it is mutated in place."""
    m = x.max(axis=-1, keepdims=True)
    np.subtract(x, m, out=x)
    np.exp(x, out=x)
    s = x.sum(axis=-1, keepdims=True)
    np.divide(x, s, out=x)
    return x


def _conv1d_same(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """[B,L,Cin] x [K,Cin,Cout] -> [B,L,Cout], zero-padded 'same' conv.

    Tap-loop GEMMs (K ≤ 5): each tap is one [B*L, Cin]×[Cin, Cout] GEMM with
    a fixed k-dim, which keeps per-row results bitwise independent of batch
    size (an im2col single-GEMM variant was measured slower AND batch-size-
    dependent — BLAS splits the widened k-dim differently per M)."""
    k = w.shape[0]
    if k == 1:
        return x @ w[0]
    pad = k // 2
    xp = np.pad(x, ((0, 0), (pad, pad), (0, 0)))
    out = xp[:, 0 : x.shape[1], :] @ w[0]
    for i in range(1, k):
        out += xp[:, i : i + x.shape[1], :] @ w[i]
    return out


class _Arena:
    """Per-process buffer pool for the solo-encode hot path.

    Fresh numpy temporaries were the 32-worker scaling killer: each call
    allocated ~30 arrays, and the resulting page-fault/TLB churn scaled at
    ~0.70 across processes where pure GEMM scales at ~0.86 (measured with
    tools/encoder_concurrency_bench.py). Named slots are grown-once and
    reused as contiguous prefix views — steady-state the encoder performs
    zero heap allocations beyond the per-doc output copy.
    """

    def __init__(self):
        self.bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, shape: tuple[int, ...], dtype=np.float32) -> np.ndarray:
        need = 1
        for s in shape:
            need *= s
        buf = self.bufs.get(name)
        if buf is None or buf.size < need or buf.dtype != dtype:
            buf = self.bufs[name] = np.empty(max(need, 1), dtype)
        return buf[:need].reshape(shape)


_ARENA = _Arena()


def _layernorm_into(x: np.ndarray, g: np.ndarray, b: np.ndarray, out: np.ndarray,
                    eps: float = 1e-5) -> np.ndarray:
    """Same op order as _layernorm (sub, div, mul, add) into a buffer."""
    mu = x.mean(-1, keepdims=True)
    var = x.var(-1, keepdims=True)
    np.subtract(x, mu, out=out)
    np.divide(out, np.sqrt(var + eps), out=out)
    np.multiply(out, g, out=out)
    np.add(out, b, out=out)
    return out


def encode_one(t: np.ndarray, w: Weights) -> np.ndarray:
    """Solo-document encode, buffer-reusing twin of ``encode_batch([t])``.

    Bitwise-identical to the batch form at B=1 (same kernels in the same
    order; the zero mask-bias add and the all-ones mask multiplies of the
    padded form are float identities at B=1), verified across lengths by
    tests/test_model.py::test_encode_one_bitwise_matches_batch. Documented
    divergence: for EMPTY input this returns shape (1, d) (pads to one zero
    token) where encode_batch returns (0, d) — callers guard on token count.
    Exists because the flagship scorer encodes docs solo (exact length, no
    padding) under 32-way worker concurrency, where allocation-free
    execution is worth ~20% aggregate throughput.
    """
    a = _ARENA
    d, h = w.d_model, w.n_heads
    dh = d // h
    L = max(len(t), 1)
    ids = t[: w.max_len] if len(t) else np.zeros(1, dtype=np.int64)
    L = len(ids) if len(ids) else 1

    x = a.get("x", (L, d))
    np.take(w["embed"], ids, axis=0, out=x)
    np.add(x, w["pos"][:L], out=x)
    inv_sqrt_dh = np.float32(1.0 / np.sqrt(dh))
    qkv = a.get("qkv", (L, 3 * d))
    q = a.get("q", (h, L, dh))
    k = a.get("k", (h, L, dh))
    v = a.get("v", (h, L, dh))
    att = a.get("att", (h, L, L))
    ctx = a.get("ctx", (h, L, dh))
    ctx2 = a.get("ctx2", (L, d))
    t1 = a.get("t1", (L, d))
    for b in range(w.n_blocks):
        np.matmul(x, w.qkv(b), out=qkv)
        split = qkv.reshape(L, 3, h, dh)
        np.copyto(q, split[:, 0].transpose(1, 0, 2))
        np.copyto(k, split[:, 1].transpose(1, 0, 2))
        np.copyto(v, split[:, 2].transpose(1, 0, 2))
        np.matmul(q, k.transpose(0, 2, 1), out=att)
        att *= inv_sqrt_dh
        _softmax_inplace(att)
        np.matmul(att, v, out=ctx)
        np.copyto(ctx2.reshape(L, h, dh), ctx.transpose(1, 0, 2))
        np.matmul(ctx2, w[f"b{b}.Wo"], out=t1)
        np.add(x, t1, out=t1)
        _layernorm_into(t1, w[f"b{b}.ln1.g"], w[f"b{b}.ln1.b"], out=x)
        ff = _conv1d_same_into(x, w[f"b{b}.conv1"], a, "ff1", "tap1")
        np.maximum(ff, 0.0, out=ff)
        ff2 = _conv1d_same_into(ff, w[f"b{b}.conv2"], a, "ff2", "tap2")
        np.add(x, ff2, out=ff2)
        _layernorm_into(ff2, w[f"b{b}.ln2.g"], w[f"b{b}.ln2.b"], out=x)
    return x[: len(ids)].copy()


def _conv1d_same_into(
    x: np.ndarray, w: np.ndarray, a: "_Arena", slot: str, tap_slot: str
) -> np.ndarray:
    """2-D (solo) twin of _conv1d_same with arena buffers; identical
    tap-loop GEMM + accumulate order."""
    kk, cin, cout = w.shape
    L = x.shape[0]
    if kk == 1:
        out = a.get(slot, (L, cout))
        np.matmul(x, w[0], out=out)
        return out
    pad = kk // 2
    xp = a.get(slot + "_xp", (L + 2 * pad, cin))
    xp[:pad] = 0.0
    xp[pad : pad + L] = x
    xp[pad + L :] = 0.0
    out = a.get(slot, (L, cout))
    tap = a.get(tap_slot, (L, cout))
    np.matmul(xp[0:L], w[0], out=out)
    for i in range(1, kk):
        np.matmul(xp[i : i + L], w[i], out=tap)
        out += tap
    return out


def encode_batch(tok_ids: list[np.ndarray], w: Weights) -> list[np.ndarray]:
    """Encode a batch of variable-length docs; returns per-doc [L_i, d].

    Pads to the batch max length with attention masking. The flagship
    encodes each doc alone (``encode_one``); this padded form is the
    reference that encode_one is pinned bitwise against.
    """
    if not tok_ids:
        return []
    d = w.d_model
    lens = [min(len(t), w.max_len) for t in tok_ids]
    L = max(max(lens), 1)
    B = len(tok_ids)
    ids = np.zeros((B, L), dtype=np.int64)
    mask = np.zeros((B, 1, 1, L), dtype=np.float32)  # 1 = attend
    for i, t in enumerate(tok_ids):
        ids[i, : lens[i]] = t[: lens[i]]
        mask[i, 0, 0, : lens[i]] = 1.0

    x = (w["embed"][ids] + w["pos"][:L][None, :, :]).astype(np.float32)
    # zero padded positions before every conv so the width-5 kernel sees the
    # same zeros a solo (unpadded) encode would — batch-composition invariance
    m2 = mask[:, 0, 0, :, None]
    x = x * m2
    h = w.n_heads
    dh = d // h
    mask_bias = (1.0 - mask) * np.float32(-1e9)  # [B,1,1,L], reused per block
    inv_sqrt_dh = np.float32(1.0 / np.sqrt(dh))
    for b in range(w.n_blocks):
        wqkv = w.qkv(b)  # [d, 3d] fused projection — one GEMM, not three
        qkv = (x @ wqkv).reshape(B, L, 3, h, dh).transpose(2, 0, 3, 1, 4)
        q, k, v = qkv[0], qkv[1], qkv[2]  # each [B, h, L, dh]
        att = q @ k.transpose(0, 1, 3, 2)
        att *= inv_sqrt_dh
        att += mask_bias
        att = _softmax_inplace(att)
        ctx = (att @ v).transpose(0, 2, 1, 3).reshape(B, L, d)
        x = _layernorm(x + ctx @ w[f"b{b}.Wo"], w[f"b{b}.ln1.g"], w[f"b{b}.ln1.b"]) * m2
        ff = np.maximum(_conv1d_same(x, w[f"b{b}.conv1"]), 0.0)
        # re-zero padded positions BETWEEN the convs: conv1's width-5 taps
        # write nonzero values into pads (they reach back into real tokens),
        # and conv2 would read them into the last real tokens' receptive
        # field — breaking solo-vs-batched parity for the trailing tokens
        ff *= m2
        ff = _conv1d_same(ff, w[f"b{b}.conv2"])  # width-5 (paper §2.1)
        x = _layernorm(x + ff, w[f"b{b}.ln2.g"], w[f"b{b}.ln2.b"]) * m2
    return [x[i, : lens[i]] for i in range(B)]


def score_pairs(
    enc: np.ndarray,
    head_spans: list[tuple[int, int]],
    tail_spans: list[tuple[int, int]],
    w: Weights,
) -> np.ndarray:
    """Bi-affine pairwise relation scores (SURVEY.md §2 P2; paper §2.2).

    ``enc``: [L, d] encoder output for one document. head/tail spans are
    token [start, end) ranges of chemical / disease mentions. Mention
    representation = mean over its tokens -> ReLU(MLP); score[i, j, r] =
    head_i^T  L_r  tail_j. Returns [n_head, n_tail] CID-vs-null logits
    (score[..., 1] - score[..., 0]).
    """
    def reprs(spans: list[tuple[int, int]], W: np.ndarray) -> np.ndarray:
        out = np.zeros((len(spans), w.d_model), dtype=np.float32)
        for i, (a, b) in enumerate(spans):
            b = max(b, a + 1)
            out[i] = enc[a:b].mean(0)
        return np.maximum(out @ W, 0.0)

    H = reprs(head_spans, w["head_mlp"])   # [nh, d]
    Tl = reprs(tail_spans, w["tail_mlp"])  # [nt, d]
    L = w["biaffine"]                      # [d, R, d]
    # [nh, R, d] = H @ L  (einsum over first d), then against tails
    hr = np.einsum("hd,drk->hrk", H, L)
    s = np.einsum("hrk,tk->htr", hr, Tl)   # [nh, nt, R]
    return (s[:, :, 1] - s[:, :, 0]).astype(np.float32)


def ner_logits(enc: np.ndarray, w: Weights) -> np.ndarray:
    """Auxiliary per-token NER head (paper §2.4): [L, n_ner] logits."""
    return (enc @ w["ner"]).astype(np.float32)
