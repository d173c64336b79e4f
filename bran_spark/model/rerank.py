"""Cross-encoder reranking — the precision stage a RAG/retrieval service
runs AFTER the cheap recall stage (BM25 q53/q107, ANN q55/q102).

A bi-encoder (or BM25) scores query and passage independently; a
cross-encoder encodes them JOINTLY so every query token attends to every
passage token — the standard two-stage serving shape (retrieve k with the
cheap scorer, re-score those k with the expensive one). Reuses the same
transformer encoder as the relation-extraction pipeline (model/encoder.py):
the joint sequence is [query tokens ; passage tokens], the score is the
cosine of the two segments' mean-pooled contextual encodings — query-aware
passage vectors, which independent encoding cannot produce.

Scale shape: the reranker only ever sees k·|queries| rows (the candidate
set), never the corpus — the expensive model stays off the 10^12-doc scan
path by construction. Weights ride the SparkContext broadcast; rows arrive
via Arrow in iterator form (one weight deserialize per worker, not per
batch); the per-pair encode is the same cache-friendly solo encode the
flagship scorer measured best at 32-way concurrency (see
scorer.score_documents).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from bran_spark.model.encoder import Weights, encode_one

RERANK_SCHEMA = "query_id string, cand_id string, rerank_score float"


def rerank_pairs(pairs: DataFrame, weights_bc, max_tokens: int = 256) -> DataFrame:
    """Input rows: (query_id, cand_id, q_tok_ids array<int>,
    c_tok_ids array<int>). Output: (query_id, cand_id, rerank_score float).

    Joint sequence = q_tok_ids ++ c_tok_ids truncated to ``max_tokens``
    (query kept whole — it is the short side by construction; the passage
    tail is what truncation drops). Score = cosine(mean(enc[query span]),
    mean(enc[passage span])) on the JOINT encoding, float32. Deterministic:
    solo exact-length encodes, single-threaded BLAS per task — bitwise
    reproducible across partitionings (same guarantee the pair scorer
    pins in tests/test_model.py).
    """

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w: Weights = weights_bc.value
        cap = min(max_tokens, w.max_len)
        for pdf in it:
            scores = np.zeros(len(pdf), dtype=np.float32)
            for i, (q, c) in enumerate(zip(pdf["q_tok_ids"], pdf["c_tok_ids"])):
                q = np.asarray(q, dtype=np.int64)[:cap]
                c = np.asarray(c, dtype=np.int64)[: max(cap - len(q), 0)]
                if len(q) == 0 or len(c) == 0:
                    continue  # nothing to compare — score stays 0
                enc = encode_one(np.concatenate([q, c]), w)
                qv = enc[: len(q)].mean(axis=0)
                cv = enc[len(q) :].mean(axis=0)
                denom = float(np.linalg.norm(qv) * np.linalg.norm(cv))
                if denom > 0.0:
                    scores[i] = np.float32(float(qv @ cv) / denom)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype(str),
                    "cand_id": pdf["cand_id"].astype(str),
                    "rerank_score": scores,
                }
            )

    return pairs.mapInPandas(fn, RERANK_SCHEMA)
