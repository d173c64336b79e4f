"""Tokenization + byte-pair encoding (SURVEY.md §2 X1; paper §3.1).

Reference parity: bran's processing scripts tokenize PubTator abstracts and
apply a byte-pair-encoded subword vocabulary before the transformer
(reference: src/processing/ — reconstructed, SURVEY.md §0). Here BpeCodec
runs inside the flagship scorer's Arrow-batched mapInPandas (model/scorer.py)
or in the pandas UDFs below (no per-row Python — mandated by BASELINE.json
input_hint); the merge list and vocab are tiny dimension tables broadcast to
every executor once per worker process.

Offsets: word tokens carry exact [start, end) char offsets into the
document's ``full_text``; BPE sub-tokens carry their word's offsets plus a
``word_idx`` back-reference, which is what makes the span-alignment interval
join (J5) and the span-sequence invariant exactly testable.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EOW = "</w>"

_WORD_RE = re.compile(r"[a-z0-9]+")
# match on the ORIGINAL text (case-insensitive ASCII) so char offsets index
# it exactly — offsets computed on text.lower() shift when Unicode
# lowercasing changes string length (len("İ".lower()) == 2)
_WORD_RE_CI = re.compile(r"[a-zA-Z0-9]+")

WORD_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)

TOKEN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("tok", T.StringType()),
            T.StructField("tok_id", T.IntegerType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("word_idx", T.IntegerType()),
        ]
    )
)


class BpeCodec:
    """Plain-python BPE encoder; one instance per executor python worker.

    ``merges``: [(lhs, rhs)] in rank order. ``vocab``: tok -> id
    (0=<pad>, 1=<unk>). Encoding applies merges greedily in rank order —
    the standard deterministic BPE inference procedure.
    """

    def __init__(self, merges: list[tuple[str, str]], vocab: dict[str, int]):
        self.ranks = {pair: i for i, pair in enumerate(merges)}
        self.vocab = vocab
        self.unk = vocab.get("<unk>", 1)
        self._cache: dict[str, tuple[str, ...]] = {}

    def _encode_word(self, word: str) -> tuple[str, ...]:
        hit = self._cache.get(word)
        if hit is None:
            hit = self._cache[word] = self._encode_word_uncached(word)
        return hit

    def _encode_word_uncached(self, word: str) -> tuple[str, ...]:
        sym = list(word) + [EOW]
        while len(sym) > 1:
            best_rank, best_i = None, -1
            for i in range(len(sym) - 1):
                r = self.ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
        return tuple(sym)

    def encode_word(self, word: str) -> list[tuple[str, int]]:
        return [(s, self.vocab.get(s, self.unk)) for s in self._encode_word(word)]

    def token_arrays(self, text: str, max_tokens: int) -> tuple[list[int], list[int]]:
        """(token ids, char start of each token's word) of ``text``, cut at
        the F4 cap: the prefix ``slice(tokens, 1, max_tokens)`` keeps, with
        no BPE work past the cap."""
        ids: list[int] = []
        starts: list[int] = []
        for wd, a, _b in tokenize_words(text):
            for _tok, tid in self.encode_word(wd):
                if len(ids) >= max_tokens:
                    return ids, starts
                ids.append(tid)
                starts.append(a)
        return ids, starts


def load_codec(spark: SparkSession, merges_path: str, vocab_path: str) -> BpeCodec:
    """Load the (small) merge/vocab dims on the driver once.

    Direct pyarrow read when the path is driver-readable — two cold Spark
    collect jobs on a fresh session cost ~4.7s of pure serial time (4× that
    against scaling efficiency); the files are a few hundred KB. Falls back
    to Spark collect for paths only the cluster can read (hdfs://, s3://).
    """
    try:
        import pyarrow.parquet as pq

        mt = pq.read_table(merges_path).to_pydict()
        order = sorted(range(len(mt["rank"])), key=lambda i: mt["rank"][i])
        merges = [(mt["lhs"][i], mt["rhs"][i]) for i in order]
        vt = pq.read_table(vocab_path).to_pydict()
        vocab = dict(zip(vt["tok"], vt["tok_id"]))
    except (OSError, ImportError):
        merges = [
            (r.lhs, r.rhs)
            for r in spark.read.parquet(merges_path).orderBy("rank").collect()
        ]
        vocab = {r.tok: r.tok_id for r in spark.read.parquet(vocab_path).collect()}
    return BpeCodec(merges, vocab)


def tokenize_words(text: str) -> list[tuple[str, int, int]]:
    """Lowercase word tokens with exact char offsets (F5 normalization:
    documented as lowercase + [a-z0-9]+ word chars; SURVEY.md §2 F5)."""
    return [
        (m.group(0).lower(), m.start(), m.end())
        for m in _WORD_RE_CI.finditer(text)
    ]


WORDS_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("words", WORD_SCHEMA),
        T.StructField("tokens", TOKEN_SCHEMA),
    ]
)


def with_words(df: DataFrame, text_col: str = "full_text") -> DataFrame:
    """Add the ``words`` column only (regex word split + exact offsets) —
    the detection path needs no BPE, and running the codec there measured as
    a second full python pass over the corpus."""

    @F.pandas_udf(WORD_SCHEMA)
    def words_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(
                lambda t: [
                    {"word": w, "start": a, "end": b}
                    for w, a, b in tokenize_words(t or "")
                ]
            )

    return df.withColumn("words", words_udf(F.col(text_col)))


TOKEN_ARRAYS_SCHEMA = T.StructType(
    [
        T.StructField("tok_ids", T.ArrayType(T.IntegerType())),
        T.StructField("tok_starts", T.ArrayType(T.IntegerType())),
    ]
)


def with_token_arrays(
    df: DataFrame, codec_bc, text_col: str = "full_text", max_tokens: int = 512
) -> DataFrame:
    """Add ``tok_ids`` / ``tok_starts`` int arrays (BpeCodec.token_arrays):
    the lean form of ``with_tokens`` for token-id consumers (the reranker).
    The flagship scorer tokenizes its text itself (model/scorer.py)."""

    @F.pandas_udf(TOKEN_ARRAYS_SCHEMA)
    def ta_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        codec: BpeCodec = codec_bc.value
        for s in it:
            yield pd.DataFrame(
                [codec.token_arrays(t or "", max_tokens) for t in s],
                columns=["tok_ids", "tok_starts"],
            )

    return (
        df.withColumn("_ta", ta_udf(F.col(text_col)))
        .withColumn("tok_ids", F.col("_ta.tok_ids"))
        .withColumn("tok_starts", F.col("_ta.tok_starts"))
        .drop("_ta")
    )


def with_tokens(df: DataFrame, codec_bc, text_col: str = "full_text") -> DataFrame:
    """Add ``words`` (word granularity) and ``tokens`` (BPE sub-word) columns.

    ONE pandas UDF emits both (a struct projected into two columns): each
    extra ArrowEvalPython stage costs a full text transfer + python round
    trip, which showed up as a non-scaling fixed cost at sf0.1.
    ``codec_bc`` is a ``sparkContext.broadcast(BpeCodec)`` handle: the codec
    deserializes once per python worker, not per batch.
    """

    @F.pandas_udf(WORDS_TOKENS_SCHEMA)
    def wt_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        codec: BpeCodec = codec_bc.value

        def enc(text: str) -> tuple[list[dict], list[dict]]:
            words, toks = [], []
            for wi, (w, a, b) in enumerate(tokenize_words(text or "")):
                words.append({"word": w, "start": a, "end": b})
                for tok, tid in codec.encode_word(w):
                    toks.append(
                        {"tok": tok, "tok_id": tid, "start": a, "end": b, "word_idx": wi}
                    )
            return words, toks

        for s in it:
            both = [enc(t) for t in s]
            yield pd.DataFrame(
                {"words": [b[0] for b in both], "tokens": [b[1] for b in both]}
            )

    return (
        df.withColumn("_wt", wt_udf(F.col(text_col)))
        .withColumn("words", F.col("_wt.words"))
        .withColumn("tokens", F.col("_wt.tokens"))
        .drop("_wt")
    )


def full_text_col(spans_col: str = "spans") -> Column:
    """Reconstruct ``full_text`` from interleaved spans — pure JVM-side array
    ops (no Python): text spans in offset order joined by a single space.
    This is the documented fixture convention (fixtures/gen.py module doc).
    """
    return F.expr(
        f"array_join(transform(array_sort(filter({spans_col}, s -> s.text != ''),"
        " (a, b) -> CASE WHEN a.offset < b.offset THEN -1 WHEN a.offset > b.offset THEN 1 ELSE 0 END),"
        " s -> s.text), ' ')"
    )


def bpe_pair_counts(
    docs,
    text_col: str = "text",
    k: int = 10,
):
    """One BPE-training iteration (Sennrich et al., ACL 2016 — the merge-
    LEARNING step, complementing apply_merges which replays already-
    learned merges): count every adjacent character pair over the corpus
    vocabulary weighted by word frequency, and return the top-k merge
    candidates. Classic BPE training loops this — count pairs, merge the
    argmax, re-count — so this operator is the per-iteration primitive.

    Scale shape: the corpus collapses to its WORD VOCABULARY first (one
    groupBy — vocab is Zipf-bounded, orders of magnitude smaller than
    the token stream), then pairs explode per word TYPE (cheap: |vocab| ×
    avg word length), weighted by the type's count. Top-k is TakeOrdered.
    Returns (pair, freq) — freq = total corpus occurrences."""
    from pyspark.sql import functions as F

    from bran_spark.functions.text import words

    wc = (
        docs.select(F.explode(words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wc.where(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(k)
    )
