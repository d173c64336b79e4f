"""Seeded benchmark inputs, made outside all timing.

Two input sets, both written under the benchmark's own work directory:

- the fixture corpus. A base corpus of ``BASE_DOCS`` documents is made once
  per checkout with the program's own generator and verified against a
  pinned checksum on every use. Each run then draws ``SAMPLE_DOCS`` of its
  documents by the workload seed (with their gold mentions and relations),
  next to the seed-independent dictionary, BPE tables and model weights.
  Every seed therefore gets a corpus of the same size and shape.
- the relational tables that the lifted KG reads, with the key columns of
  the fixed seed-42 tables in TESTDATA.md, generated from the seed at a
  small fixed scale.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The base corpus: generator scale key and document count. The generator
# seeds documents from (42, int(sf * 1e5)), so the key fixes the stream.
BASE_SF = 0.001
BASE_DOCS = 500
# sha256 over the base corpus files, as gen.generate writes them (the
# generator is byte-identical from run to run). A mismatch means its output
# changed, so every pinned fingerprint would be void.
BASE_SHA256 = "4dc0cd10b402fc40154d4c8923af986402b16582c87e82d86c4c0c730fe2606b"

SAMPLE_DOCS = 250
# fixture scale whose default document count is SAMPLE_DOCS: the registry's
# graph leaves resolve their corpus through fixture_dir(SAMPLE_SF)
SAMPLE_SF = 0.0005

# relational scale: rows per table = TPC-H rows at this scale factor. The
# largest the run-time budget allows; even here only about a fifth of q146's
# wall grows with the data, the rest is the fixed cost of its jobs.
REL_SF = 0.01

_PER_DOC = ("documents_interleaved", "mentions", "gold_relations")
_SHARED = ("mesh_dict", "bpe_merges", "vocab")


def _sha256(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _corpus_files(d: str) -> list[str]:
    return [os.path.join(d, f"{t}.parquet") for t in _PER_DOC + _SHARED] + [
        os.path.join(d, "model_weights.npz")
    ]


def base_corpus(work: str) -> str:
    """The base fixture corpus, generated on first use and checked against
    BASE_SHA256 each time it is used."""
    from bran_spark.fixtures import gen

    d = os.path.join(work, "base_corpus")
    files = _corpus_files(d)
    if all(map(os.path.exists, files)) and _sha256(files) == BASE_SHA256:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(BASE_SF, d, docs=BASE_DOCS)
    digest = _sha256(files)
    if digest != BASE_SHA256:
        raise RuntimeError(
            f"fixture generator output changed: sha256 {digest}, pinned {BASE_SHA256}"
        )
    return d


def sample_corpus(base: str, out_dir: str, seed: int) -> None:
    """Write SAMPLE_DOCS seed-chosen documents of ``base`` to ``out_dir``.

    The ``_SUCCESS`` marker is the one gen.generate would write for
    SAMPLE_SF, so gen.ensure(SAMPLE_SF) accepts this corpus as its own."""
    from bran_spark.fixtures import gen

    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base, "documents_interleaved.parquet"))
    rng = np.random.default_rng([seed, 7])
    take = np.sort(rng.choice(docs.num_rows, SAMPLE_DOCS, replace=False))
    docs = docs.take(pa.array(take))
    ids = docs.column("doc_id")
    gen._write(docs, os.path.join(out_dir, "documents_interleaved.parquet"))
    for t in ("mentions", "gold_relations"):
        tb = pq.read_table(os.path.join(base, f"{t}.parquet"))
        gen._write(
            tb.filter(pc.is_in(tb.column("doc_id"), value_set=ids)),
            os.path.join(out_dir, f"{t}.parquet"),
        )
    for name in [f"{t}.parquet" for t in _SHARED] + ["model_weights.npz"]:
        shutil.copyfile(os.path.join(base, name), os.path.join(out_dir, name))
    with open(os.path.join(out_dir, "_SUCCESS"), "w") as f:
        f.write(f"seed={gen.SEED} sf={SAMPLE_SF} docs={SAMPLE_DOCS} v4")


def relational_tables(out_dir: str, seed: int) -> None:
    """The TPC-H-shaped tables the lifted KG reads, at REL_SF: the key
    columns of ``nation``, ``customer``, ``supplier``, ``orders`` and
    ``lineitem``, with the types of TESTDATA.md's tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    n_cust, n_supp = int(150_000 * REL_SF), int(10_000 * REL_SF)
    n_part, n_ord = int(200_000 * REL_SF), int(1_500_000 * REL_SF)
    lines = rng.integers(1, 8, n_ord)  # 1-7 line items per order
    n_li = int(lines.sum())
    i32, i64 = np.int32, np.int64
    tables = {
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        },
        "lineitem": {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=i64), lines),
            "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
