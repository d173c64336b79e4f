"""Spark-side tokenize+encode+score stage (SURVEY.md §2 X1+P1+P2+P4, §4.4).

One ``mapInPandas`` pass fuses: BPE tokenization of the abstract's text
(with the F4 cap), transformer encoding of the whole abstract, mention-span
alignment (binary search over token char offsets — same rule as
operators.mentions.align_mentions_to_tokens), and bi-affine scoring of every
(chemical-mention × disease-mention) pair. Emitting mention-pair logits in
long format lets the defining LSE pooling (A2) run relationally downstream —
exactly the paper's "one encoder pass scores all pairs in the abstract"
structure (paper §2.3), re-expressed for Spark.

Scale design: weights, BPE codec and cap are one SparkContext broadcast
(one deserialize per python worker); batches arrive via Arrow (iterator
form — the model loads once per partition, not per batch). Text goes in and
pair logits come out, so scoring is one JVM↔Python crossing; the flagship's
only other one is the word split that feeds JVM-side mention detection.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from bran_spark.model.encoder import (
    Weights,
    encode_batch,
    encode_one,
    ner_logits,
    score_pairs,
)

SCORE_SCHEMA = (
    "doc_id string, chem_mention_id string, dis_mention_id string, "
    "chem_mesh string, dis_mesh string, score float"
)

NER_SCHEMA = "doc_id string, tok_idx int, tok_start int, ner_tag int, ner_score float"

# discriminated-union schema for emit="both": pair rows carry the pair
# columns (tok_idx/ner_tag/tok_start null), ner rows the token columns —
# one mapInPandas output per encoder pass, split downstream by `kind`.
SCORE_NER_SCHEMA = (
    "doc_id string, kind string, chem_mention_id string, dis_mention_id string, "
    "chem_mesh string, dis_mesh string, score float, "
    "tok_idx int, tok_start int, ner_tag int"
)


def _align(tok_starts: np.ndarray, a: int, b: int) -> tuple[int, int]:
    """Char range [a, b) -> token ordinal range [lo, hi) (J5 rule)."""
    lo = int(np.searchsorted(tok_starts, a, side="left"))
    hi = int(np.searchsorted(tok_starts, b, side="left"))
    return lo, max(hi, lo + 1)


def score_documents(
    docs: DataFrame, weights_bc, batch_docs: int = 1, emit: str = "pairs"
) -> DataFrame:
    """Input rows: (doc_id, full_text string, mentions
    array<struct<mention_id,type,mesh_id,start,end>>) — the text is
    tokenized here with ``weights_bc.value.codec``, cut at its
    ``max_tokens`` — or, with ``tok_ids array<int>, tok_starts array<int>``
    in place of full_text, already-tokenized documents. The mentions column
    may be absent when emit="ner".
    Output: long-format mention-pair CID logits (SCORE_SCHEMA).

    ``emit`` selects what the single encoder pass produces (paper §2.4's
    joint NER head, SURVEY.md §2 P4 — marginal cost of the NER output is one
    [L,d]x[d,n_ner] matmul on the encoding already in hand):
      - "pairs": mention-pair CID logits (SCORE_SCHEMA, the default);
      - "ner":   per-token NER argmax tags (NER_SCHEMA);
      - "both":  a kind-discriminated union (SCORE_NER_SCHEMA) — ONE encode
        serves both outputs, the downstream split is a cheap filter. At
        100 TB this is the mode that avoids re-encoding the corpus when both
        artifacts are wanted.

    batch_docs=1 (exact-length solo encode) measured best under full
    32-worker concurrency: aggregate 1001→3678 docs/s from 8→32 procs
    (0.92 parallel efficiency) — the attention working set stays inside
    per-core cache, where B≥4 batches contend on shared L3. Larger B only
    pays off at larger d_model; kept available via the parameter.
    """
    if emit not in ("pairs", "ner", "both"):
        raise ValueError(f"emit must be pairs|ner|both, got {emit!r}")

    def encode_bucketed(ids: list[np.ndarray], w: Weights) -> list[np.ndarray]:
        """Deterministic batched encode: pad each doc to a bucket length
        (next multiple of 32, capped at max_len) and encode same-bucket docs
        together. A doc's result depends only on (doc, bucket) — bitwise
        identical regardless of batch composition or parallelism (verified:
        GEMM row results are stable across batch size at fixed L with
        single-threaded BLAS) — while same-L batching keeps GEMMs large.
        """
        if batch_docs == 1:
            # exact-length solo encodes via the allocation-free arena twin
            # (bitwise-equal to encode_batch([t]); tests/test_model.py)
            return [encode_one(t[: w.max_len], w) for t in ids]
        buckets: dict[int, list[int]] = {}
        for i, t in enumerate(ids):
            L = min(max(len(t), 1), w.max_len)
            b = min(((L + 31) // 32) * 32, w.max_len)
            buckets.setdefault(b, []).append(i)
        out: list[np.ndarray | None] = [None] * len(ids)
        for b, idxs in buckets.items():
            for off in range(0, len(idxs), batch_docs):
                grp = idxs[off : off + batch_docs]
                # pass RAW truncated arrays: encode_batch pads internally
                # with a true attention mask. Pre-padding here made every
                # len == bucket, so the mask never engaged and pad tokens
                # were attended as real tokens — batched scores silently
                # diverged from the batch_docs=1 default.
                encs = encode_batch([ids[i][: w.max_len] for i in grp], w)
                for i, e in zip(grp, encs):
                    out[i] = e
        return out  # type: ignore[return-value]

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w: Weights = weights_bc.value
        for pdf in it:
            if "full_text" in pdf:
                toks = [
                    w.codec.token_arrays(t or "", w.max_tokens)
                    for t in pdf["full_text"]
                ]
                tok_ids = [t[0] for t in toks]
                tok_starts = [t[1] for t in toks]
            else:
                tok_ids, tok_starts = pdf["tok_ids"], pdf["tok_starts"]
            ids = [np.asarray(t, dtype=np.int64) for t in tok_ids]
            encs = encode_bucketed(ids, w)
            # per-doc numpy chunks, one concat per Arrow batch — a per-pair
            # python append loop here allocated ~9M objects per sf0.5 run
            # and was both slow and a GC/allocator-churn source at 32-way
            # worker concurrency
            chunks: dict[str, list[np.ndarray]] = {
                "doc_id": [], "chem_mention_id": [], "dis_mention_id": [],
                "chem_mesh": [], "dis_mesh": [], "score": [],
            }
            nchunks: dict[str, list[np.ndarray]] = {
                "doc_id": [], "tok_idx": [], "tok_start": [],
                "ner_tag": [], "ner_score": [],
            }
            mentions_col = (
                pdf["mentions"] if emit != "ner" else [None] * len(pdf)
            )
            for row_i, (doc_id, doc_starts, mentions) in enumerate(
                zip(pdf["doc_id"], tok_starts, mentions_col)
            ):
                enc = encs[row_i]
                starts = np.asarray(doc_starts, dtype=np.int64)
                if emit != "pairs":
                    # P4 joint NER head on the encoding already in hand
                    logits = ner_logits(enc, w)
                    tags = logits.argmax(axis=1)
                    L = len(enc) if len(starts) else 0
                    nchunks["doc_id"].append(np.full(L, doc_id, dtype=object))
                    nchunks["tok_idx"].append(np.arange(L, dtype=np.int32))
                    nchunks["tok_start"].append(starts[:L].astype(np.int32))
                    nchunks["ner_tag"].append(tags[:L].astype(np.int32))
                    nchunks["ner_score"].append(
                        logits[np.arange(len(tags)), tags][:L].astype(np.float32)
                    )
                if emit == "ner":
                    continue
                chems, diss = [], []
                n_enc = len(enc)
                for m in mentions:
                    span = _align(starts, int(m["start"]), int(m["end"]))
                    lo, hi = span[0], min(span[1], n_enc)
                    if lo >= n_enc or hi <= lo:
                        # mention entirely beyond the F4 truncation (or an
                        # empty encoding): scoring it against the unrelated
                        # final token — or an empty slice (NaN mean) — is
                        # worse than dropping it
                        continue
                    (chems if m["type"] == "Chemical" else diss).append(
                        (m["mention_id"], m["mesh_id"], (lo, hi))
                    )
                if not chems or not diss:
                    continue
                s = score_pairs(enc, [c[2] for c in chems], [d[2] for d in diss], w)
                nc, nd = len(chems), len(diss)
                chunks["doc_id"].append(np.full(nc * nd, doc_id, dtype=object))
                chunks["chem_mention_id"].append(
                    np.repeat(np.array([c[0] for c in chems], dtype=object), nd)
                )
                chunks["dis_mention_id"].append(
                    np.tile(np.array([d[0] for d in diss], dtype=object), nc)
                )
                chunks["chem_mesh"].append(
                    np.repeat(np.array([c[1] for c in chems], dtype=object), nd)
                )
                chunks["dis_mesh"].append(
                    np.tile(np.array([d[1] for d in diss], dtype=object), nc)
                )
                chunks["score"].append(s.ravel())

            def cat(d: dict[str, list[np.ndarray]], flt: set[str]) -> pd.DataFrame:
                return pd.DataFrame(
                    {
                        k: np.concatenate(v)
                        if v
                        else np.array(
                            [], dtype=np.float32 if k in flt else object
                        )
                        for k, v in d.items()
                    }
                )

            if emit == "pairs":
                yield cat(chunks, {"score"})
            elif emit == "ner":
                yield cat(nchunks, {"ner_score"})
            else:
                p = cat(chunks, {"score"})
                p["kind"] = "pair"
                for c in ("tok_idx", "tok_start", "ner_tag"):
                    p[c] = None
                n = cat(nchunks, {"ner_score"}).rename(columns={"ner_score": "score"})
                n["kind"] = "ner"
                for c in ("chem_mention_id", "dis_mention_id", "chem_mesh", "dis_mesh"):
                    n[c] = None
                cols = [
                    "doc_id", "kind", "chem_mention_id", "dis_mention_id",
                    "chem_mesh", "dis_mesh", "score", "tok_idx", "tok_start",
                    "ner_tag",
                ]
                yield pd.concat([p[cols], n[cols]], ignore_index=True)

    schema = {"pairs": SCORE_SCHEMA, "ner": NER_SCHEMA, "both": SCORE_NER_SCHEMA}[emit]
    return docs.mapInPandas(fn, schema)
