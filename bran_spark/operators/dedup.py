"""Deduplication operators for web-scale corpora.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — each expressed Spark-first (broadcastable dims,
bounded self-joins, two-phase aggregation), sized for the 100 TB case:

- exact dedup: one shuffle on the content hash; partial aggregation
  map-side combines before the exchange.
- MinHash/LSH: per-doc signatures via hash-min aggregation (one shuffle),
  candidate pairs via equi-join on (band, signature) buckets — never an
  all-pairs product.
- n-gram Jaccard: inverted-index self-join on shingles with a max-document-
  frequency cap to bound hot-shingle skew (the classic df-cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bran_spark.functions.text import shingles, shingles_of_array, words
from bran_spark.operators.fixpoint import materialize


def _even_parallelism(df: DataFrame) -> DataFrame:
    """Defensive round-robin repartition when the source cannot actually
    feed the cores — a single small parquet file otherwise serializes the
    whole explode/join chain onto ONE task (measured: q28 ran 13 s
    single-task at sf0.1 because the corpus is one ~1.3 MB file; parquet
    ROW-GROUP boundaries cap what maxPartitionBytes can split).

    Two degeneracy checks:
    1. fewer scan partitions than cores — the cheap count check;
    2. enough partitions but the bytes sit in fewer ROW GROUPS than cores
       (a 500k-doc table written by an upstream job with one output
       partition is one 75 MB row group: maxPartitionBytes happily cuts
       it into 38 "splits", 37 of which are empty, and the count check
       passes while one task decodes everything — found by the r4 sf1.0
       stress run, tools/stress_run.py). Footers are only read when the
       file count is below core count, so a properly-laid-out table (many
       files) never pays the driver-side footer pass, and a non-file
       source skips check 2 entirely.
    On a real cluster the table layout provides the splits and this is a
    no-op; when it fires, the repartition moves only the raw doc bytes,
    far cheaper than serializing the ~50× larger exploded shingle
    stream."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par * 2)
    try:
        files = df.inputFiles()
    except Exception:  # non-file source — partition count is all we have
        return df
    if not files or len(files) >= par:
        return df
    remote = any("://" in f and not f.startswith("file:") for f in files)
    try:
        import os

        import pyarrow.parquet as pq

        if any(not f.endswith(".parquet") for f in files):
            return df  # non-parquet: row-group logic doesn't apply

        if remote:
            # hdfs://, s3://, ...: resolve a real filesystem client for the
            # footer reads (ADVICE r4). If pyarrow can't speak the scheme
            # (e.g. s3a:// aliases), fall through to the except branch —
            # which for remote inputs returns df unchanged: the partition-
            # count check above passed, and an insurance shuffle on every
            # real-cluster run would be worse than a possible missed cliff.
            from pyarrow.fs import FileSystem

            fs, _ = FileSystem.from_uri(files[0])

            def n_row_groups(f):
                _, path = FileSystem.from_uri(f)
                return pq.ParquetFile(fs.open_input_file(path)).metadata.num_row_groups

            def leaf_bytes(f):
                _, path = FileSystem.from_uri(f)
                return fs.get_file_info(path).size or 0

        else:

            def n_row_groups(f):
                return pq.ParquetFile(f.removeprefix("file:")).metadata.num_row_groups

            def leaf_bytes(f):
                return os.path.getsize(f.removeprefix("file:"))

        # Probe per LEAF (≈ per directory of inputFiles): a derived plan can
        # mix the corpus scan with dimension files, and a many-row-group
        # side table summed globally would mask a single-row-group corpus —
        # the exact cliff this check exists to catch (ADVICE r4).
        by_dir: dict[str, list[str]] = {}
        for f in files:
            by_dir.setdefault(f.rsplit("/", 1)[0], []).append(f)
        sizes = {d: sum(leaf_bytes(f) for f in fs_) for d, fs_ in by_dir.items()}
        total = sum(sizes.values()) or 1
        for d, fs_ in by_dir.items():
            # Only a LARGE leaf can starve the cores; small dimension
            # tables legitimately live in one row group. "Large" = holds
            # most of the input bytes, or is big in absolute terms.
            if sizes[d] < (32 << 20) and sizes[d] < 0.5 * total:
                continue
            row_groups = 0
            for f in fs_:
                row_groups += n_row_groups(f)
                if row_groups >= par:
                    break
            if row_groups < par:
                return df.repartition(par * 2)
        return df
    except Exception:
        if remote:
            # a probe failure must NOT buy a full shuffle on exactly the
            # real-cluster case (ADVICE r4): the scan already proved
            # splittable by partition count
            return df
        # unreadable LOCAL footers + suspiciously few files: the
        # repartition is cheap insurance relative to a single-task funnel
        return df.repartition(par * 2)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5(text): (content_hash, n_dups, keep_id).

    keep_id = min(id) — the deterministic survivor. Only groups with >1 row
    are duplicates; n_dups counts rows sharing the hash."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
    )


def _shingle_common_sizes(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int,
    shingler=shingles, sample_mod: int | None = None,
):
    """Shared inverted-index scaffolding for the shingle-overlap family
    (Jaccard, containment): distinct-shingle explode, per-doc sizes, hot-
    shingle df-cut (broadcast-anti — see ngram_jaccard_pairs for the
    direction argument), and per-pair common counts with id_a < id_b.
    Returns (common(id_a, id_b, common), sizes(id, n_sh)).

    ``sample_mod=p`` keeps only shingles whose md5-derived coin ≡ 0 mod p
    (Broder's mod-p shingle sketch): the inverted index, sizes, and common
    counts all live in the SAME 1/p-sampled shingle subspace, so the
    overlap ratios stay unbiased estimators while index build + join cost
    drop by ~p×. This is the knob that keeps shingle-overlap feasible at
    10^12 docs — exact indexing is for corpus slices, the sketch is the
    corpus-wide path. The coin is content-keyed (md5 of the shingle), so
    sampling is deterministic and engine-replayable."""
    sh = _even_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingler(text_col, n))).alias("shingle"),
    )
    if sample_mod:
        coin = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        sh = sh.where(coin % sample_mod == 0)
    # materialized once (r06): the inverted index feeds FOUR consumers
    # (per-doc sizes, the hot-shingle df pass, and both self-join sides)
    # — lazily each one re-ran the shingle split+explode over the corpus,
    # ~2.5-4 s per replay at sf0.1
    sh = materialize(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    hot = sh.groupBy("shingle").agg(F.count("*").alias("df")).where(
        F.col("df") > max_df
    )
    sh_kept = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = sh_kept.select(F.col("id").alias("id_a"), "shingle")
    b = sh_kept.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return common, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_jaccard: float = 0.5,
    max_df: int = 50,
    shingler=shingles,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold.

    Inverted index (doc, shingle) self-joined on shingle; shingles occurring
    in more than ``max_df`` docs are dropped before the join (df-cut — the
    explicit skew bound: a stop-shingle would otherwise produce a quadratic
    hot-key blowup). Jaccard = |common| / (|a| + |b| - |common|) over
    *distinct* shingles. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Broadcast direction: the HOT set (df > max_df) is broadcast and removed
    with a left-anti join. By Zipf, hot shingles are a tiny fixed set while
    the kept set is nearly the whole shingle vocabulary — broadcasting the
    kept set (the inverse formulation) would OOM the driver at corpus scale.
    """
    common, sizes = _shingle_common_sizes(df, id_col, text_col, n, max_df, shingler)
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures, one row per (doc, band): signature = min over the
    doc's shingles of hash(band || shingle).

    ``hash_fn="xxhash64"`` (the default — the scale path) vs
    ``hash_fn="md5"``, which is DuckDB-replayable bit-exactly and pinned
    explicitly by the oracle twins (q29/q39). xxhash64: the
    signature becomes an 8-byte long instead of a 32-char string —
    at 10^8 docs × bands the hash column dominates downstream joins.
    Same estimator either way (min of a uniform hash per band); banding
    b independent hashes gives the LSH bucket key.

    One shuffle (groupBy doc,band) — signatures never leave the
    executor otherwise. (r06 note: a row-local alternative — per-band
    ``array_min`` over transformed shingle arrays, zero shuffles — was
    measured and REJECTED: nested higher-order expressions drop out of
    whole-stage codegen and ran ~1.7× slower warm at sf0.1 (3.5 s vs
    2.0 s for the md5 pairs path) than this explode+partial-agg shape,
    whose exchange is already minimized by map-side combine.)"""
    sh = _even_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    if hash_fn == "xxhash64":
        hash_of = lambda b: F.xxhash64(b.cast("string"), F.col("shingle"))  # noqa: E731
    else:
        hash_of = lambda b: F.md5(  # noqa: E731
            F.concat(b.cast("string"), F.lit(":"), F.col("shingle"))
        )
    banded = sh.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), hash_of(b).alias("h")),
            )
        ).alias("bh"),
    ).select("id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    return banded.groupBy("id", "band").agg(F.min("h").alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs: docs sharing a (band, minhash) bucket in ANY band.
    Equi-join on the bucket key — cost ∝ bucket collisions, not |docs|²."""
    sig = minhash_signatures(df, id_col, text_col, n, bands, hash_fn)
    a = sig.select(F.col("id").alias("id_a"), "band", "minhash")
    b = sig.select(F.col("id").alias("id_b"), "band", "minhash")
    return (
        a.join(b, ["band", "minhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash per doc: sign-aggregated bit vector over word xxhash64 values.

    Pure JVM expressions: for each bit position, sum ±1 over words by that
    bit of xxhash64(word), then pack the sign bits into a long. xxhash64 has
    no DuckDB twin, so this operator is verified by property tests
    (hamming(simhash(x), simhash(x + small edit)) small) rather than the SQL
    oracle. Output: (id, simhash long).
    """
    w = _even_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w")
    )
    hashed = w.select("id", F.xxhash64("w").alias("h"))
    bit_sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed + F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("id", packed.alias("simhash"))


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash with an md5-derived bit source (oracle-replayable twin of
    :func:`simhash`): bit *i* of a word's hash is the low bit of the *i*-th
    hex nibble of ``md5(word)``. Sign-aggregate ±1 per bit over the doc's
    words, pack the positive bits into a long.

    Same execution shape as :func:`simhash` (one groupBy shuffle, all JVM
    expressions); md5 instead of xxhash64 purely so DuckDB can replay the
    signature bit-exactly. ``bits`` ≤ 32 (md5 hex length).
    """
    w = _even_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w")
    )
    hashed = w.select("id", F.md5("w").alias("h"))
    nib = lambda i: F.instr(  # noqa: E731
        F.lit("0123456789abcdef"), F.substring("h", i + 1, 1)
    ) - 1
    bit_sums = hashed.groupBy("id").agg(
        *[
            F.sum(F.when(nib(i) % 2 == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed + F.when(
            F.col(f"b{i}") > 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("id", packed.alias("simhash"))


# Banded axis-aligned sign-LSH: each band is a tuple of coordinate indices
# whose sign bits form that band's bucket key. OR across bands (MinHash-LSH
# style): a pair is a candidate when it collides in ANY band. More bits per
# band → smaller buckets (bounded fan-out); more bands → recovered recall.
DEFAULT_SIGN_BANDS: tuple[tuple[int, ...], ...] = (
    (0, 4, 8, 12, 16, 20),
    (1, 5, 9, 13, 17, 21),
    (2, 6, 10, 14, 18, 22),
    (3, 7, 11, 15, 19, 23),
)


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.95,
    bands: tuple[tuple[int, ...], ...] = DEFAULT_SIGN_BANDS,
) -> DataFrame:
    """Embedding-cosine near-dup via BANDED sign-LSH (deterministic
    axis-aligned random-hyperplane buckets), cosine verified per candidate.

    Each band hashes the vector to a 2^k bucket by the sign bits of k fixed
    coordinates; candidates are pairs colliding in ANY band (union over
    bands, then distinct) — exactly the MinHash-LSH banding scheme applied
    to sign bits. k bounds per-bucket fan-out (the intra-bucket self-join is
    O(Σ bucket²), and E[bucket] = N/2^k for centered data), while the band
    count recovers recall: at cos ≥ 0.95 a 6-bit band agrees w.p. ≈ 0.9^6 ≈
    0.53, so 4 bands give ≈ 1-(1-0.53)^4 ≈ 95% recall — versus a single
    wider key whose recall decays geometrically with k.

    Sign bits are taken relative to each coordinate's corpus mean: real
    embedding stores are frequently positively biased (post-ReLU, cosine
    caches), and raw sign bits then put the whole corpus in one bucket,
    degenerating the self-join toward O(N²). The means are one tiny aggregate, rounded 6 dp for determinism
    (similarity.dim_means).

    Scale shape: the banded explode shuffles only (id, band, key); vectors
    rejoin the deduped candidate list by id, so the wide embedding column
    crosses the exchange once per side, not once per band.
    """
    from bran_spark.operators.similarity import banded_sign_keys, dim_means

    ids = F.col(id_col).alias("id")
    all_dims = tuple(sorted({d for dims in bands for d in dims}))
    offsets = dim_means(emb, vec_col, all_dims)
    keyed = banded_sign_keys(emb, id_col, vec_col, bands, offsets)
    a = keyed.select(F.col("id").alias("id_a"), "band", "key")
    b = keyed.select(F.col("id").alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    vecs = emb.select(
        ids, F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    # norms ride the per-id sides (computed once per vector, not once per
    # candidate pair — same doubles, same fold order, so the >= filter
    # and the rounded output are bit-unchanged; the q110 finding)
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= min_cos)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def duplicated_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Passage-level duplication profile (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr signal,
    word-n-gram granularity): per doc, how many of its distinct n-grams
    also appear in at least one OTHER document.

    Two aggregates + one join, all partial-agg friendly: per-doc distinct
    n-grams (doc-prefixed key — no cross-doc skew), n-gram document
    frequency (two-phase count), then a df join back keyed by n-gram (the
    one hot-key-prone shuffle — long n-grams are near-unique by
    construction, which is exactly why passage dedup uses them; AQE skew
    split is the backstop). Returns
    (id, n_ngrams, n_dup, dup_frac) — dup_frac is the fraction of the doc
    that is boilerplate/copied at n-word granularity.
    """
    sh = _even_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("long").alias("n_dup"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup") / F.col("n_ngrams"), 6))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_containment: float = 0.6,
    max_df: int = 50,
    sample_mod: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over distinct word n-gram shingles. Catches the subset-duplication that
    symmetric Jaccard misses by construction — a short doc quoted whole
    inside a long one has containment 1.0 but Jaccard ≈ |A|/|B| (arbitrarily
    small), so a Jaccard-thresholded dedup never links them. This is the
    quote/boilerplate-absorption signal of a training-corpus pipeline.

    Same inverted-index + broadcast-anti hot-shingle df-cut scale shape as
    ngram_jaccard_pairs (one shingle-join shuffle, Zipf-bounded). Emits one
    row per unordered candidate pair with BOTH directions' scores,
    (id_a, id_b, containment_a, containment_b), id_a < id_b, kept when
    either direction clears the threshold."""
    common, sizes = _shingle_common_sizes(
        df, id_col, text_col, n, max_df, sample_mod=sample_mod
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_ca", F.col("common") / F.col("n_a"))
        .withColumn("_cb", F.col("common") / F.col("n_b"))
        .where(
            (F.col("_ca") >= min_containment) | (F.col("_cb") >= min_containment)
        )  # threshold on the RAW ratio (the oracle twin does too); round only for output
        .select(
            "id_a",
            "id_b",
            F.round("_ca", 6).alias("containment_a"),
            F.round("_cb", 6).alias("containment_b"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Gopher eval-leak
    filter): flag every corpus document that shares at least one word
    n-gram with the evaluation/benchmark set.

    Scale shape: the benchmark side is tiny by construction (eval suites
    are thousands of prompts, the corpus is 10^12 docs), so its distinct
    (bench_id, shingle) set is BROADCAST and the corpus n-gram stream is
    filtered by a broadcast inner join — the corpus is never shuffled on
    the n-gram key; the only exchange is the final per-doc aggregation,
    which partial-aggregates map-side. Returns one row per CONTAMINATED
    doc: (doc_id, n_hits = distinct leaked n-grams in the doc,
    n_bench_docs = distinct benchmark docs hit). Long n-grams (n=8+ words)
    make false positives vanishingly rare — the same reason passage dedup
    uses them.
    """
    bsh = bench.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(F.array_distinct(shingles(bench_text_col, n))).alias("shingle"),
    ).distinct()
    csh = _even_parallelism(corpus).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    return (
        csh.join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_hits"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
    )


def mask_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """ExactSubstr-style duplicate-span REMOVAL at word-window granularity
    (Lee et al. 2022 remove repeated substrings; this is the word-n-gram
    formulation that stays relational): every n-word window whose exact
    text occurs >= ``min_count`` times in the corpus (cross-doc or within-
    doc) is masked out of every document that contains it, and the doc is
    rebuilt from the surviving words.

    Plan: positional windows via posexplode (docs shorter than n emit no
    windows and pass through untouched), one count aggregate on the window
    key (long windows are near-unique by Zipf, so the key is skew-cold;
    AQE skew split is the backstop), equi-join back, and a per-doc
    collect of duplicated START POSITIONS ONLY — the collected array is
    bounded by the doc's own word count, never corpus-sized. Word survival
    is then pure row-local array math (no UDF): word j survives iff no
    duplicated window start p covers it (p <= j < p+n). Returns one row
    per doc: (id, n_words, n_dup_windows, n_kept, clean_text).
    """
    base = _even_parallelism(df).select(
        F.col(id_col).alias("id"), words(text_col).alias("ws")
    )
    win = base.where(F.size("ws") >= n).select(
        "id", F.posexplode(shingles_of_array("ws", n)).alias("pos", "shingle")
    )
    dupset = (
        win.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("shingle")
    )
    dup_pos = (
        win.join(dupset, "shingle")
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("dps"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
    )
    dps = F.coalesce(F.col("dps"), F.expr("CAST(array() AS array<int>)"))
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size("ws") - 1),
        lambda j: ~F.exists(dps, lambda p: (p <= j) & (j < p + F.lit(n))),
    )
    return (
        base.join(dup_pos, "id", "left")
        .select(
            "id",
            F.size("ws").cast("long").alias("n_words"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.size(kept_idx).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(kept_idx, lambda j: F.element_at(F.col("ws"), j + 1)), " "
            ).alias("clean_text"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.97,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding store, then inside each cluster drop every vector that has a
    LOWER-ID neighbor with cosine >= tau — the greedy lowest-id sweep that
    keeps exactly one representative per tight semantic group. Unlike the
    LSH near-dup family (q35), this prunes semantic duplicates that share
    no surface n-grams at all (paraphrases, templated rewrites).

    Scale shape: the quadratic comparison is confined INSIDE k-means cells
    — (N/k)^2 per cell instead of N^2 global; at 10^12 scale one raises k
    (and trains on a sample) so each cell fits a partition, writes the
    store partitioned by cell (tests/test_layout.py shows the pruning
    shape), and the intra-cell self-join becomes a co-located equi-join on
    the cell key. Distances are rounded to 6 dp before thresholding on
    both engines so float-summation-order jitter cannot flip boundary
    pairs. Returns the SURVIVORS: (vec_id, cell).
    """
    from bran_spark.operators.similarity import kmeans_cells

    # materialized once: the assignment feeds BOTH self-join sides and
    # the survivor anti-join — lazily each reference re-ran the whole
    # Lloyd chain (r06; at 100 TB this is the write-partitioned-by-cell
    # materialization the docstring already mandates)
    cells = materialize(
        kmeans_cells(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    )
    dropped = (
        _intra_cell_cosine_pairs(cells, tau)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return cells.join(dropped, "vec_id", "left_anti").select("vec_id", "cell")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``n``-gram, slide a
    ``window`` of consecutive hashes, and select the minimum of each
    window (rightmost occurrence on ties, per the paper's robust
    winnowing). Guarantees: every ``window`` consecutive shingles
    contribute at least one fingerprint (no gap longer than the window —
    the local-coverage property total-min sampling like mod-p lacks), and
    expected density is 2/(window+1) of all shingles. The selected
    (position, hash) set is the standard local similarity fingerprint for
    plagiarism/near-dup detection at sub-document granularity.

    Scale shape: entirely row-local — word split, shingle hash, window
    minima, and the per-doc de-dup of selections are array expressions
    inside one projection; the operator adds ZERO shuffles to whatever
    reads it. Hashes are md5-derived 32-bit ints (engine-portable).
    Docs shorter than ``n`` words hash their single truncated shingle;
    docs with fewer shingles than ``window`` emit their global minimum.
    Returns (doc_id, pos, fp) with pos the 0-based shingle index.

    Expression shape matters here: the hash array and each window slice
    are bound ONCE as lambda variables (the 1-element-array transform
    trick) before any reuse. Left as plain column aliases, Catalyst's
    projection collapse inlines the md5-hash transform into every
    reference site inside the window lambda, where it is re-evaluated
    per window element — an O(len²·window) blowup that turned this
    row-local operator into the slowest query in the registry.
    """
    hash_arr = F.transform(
        shingles_of_array("ws", n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )

    def per_window(h, j):
        # bind the window slice once; all four uses are cheap value refs
        return F.transform(
            F.array(F.slice(h, j + 1, window)),
            lambda win: F.struct(
                (
                    j
                    + F.size(win)
                    - F.array_position(F.reverse(win), F.array_min(win))
                ).cast("long").alias("pos"),
                F.array_min(win).alias("fp"),
            ),
        )[0]

    sel = F.transform(
        F.array(hash_arr),  # bind the hash array once
        lambda h: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(h) - window, F.lit(0))),
                lambda j: per_window(h, j),
            )
        ),
    )[0]
    wl = df.select(F.col(id_col).alias("doc_id"), words(text_col).alias("ws"))
    return wl.select("doc_id", F.explode(sel).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
    min_shared: int = 3,
    max_df: int = 30,
) -> DataFrame:
    """MOSS-style local-overlap candidates: document pairs sharing at
    least ``min_shared`` distinct winnowing fingerprints — the
    sub-document plagiarism/copy signal. Where Jaccard/MinHash compare
    WHOLE-document shingle sets, shared winnowed fingerprints localize:
    any copied run ≥ window+n-1 words is guaranteed to contribute a
    shared fingerprint, however small a fraction of either doc it is.

    Scale shape: the fingerprint index is ≈ 2/(window+1) the size of the
    full shingle index (winnowing IS the sampling), and the pair join
    reuses the inverted-index discipline of the shingle family: hot
    fingerprints (df > ``max_df``) are broadcast-anti-cut before the
    equi-self-join, so no quadratic hot-key blowup exists. Returns
    (id_a, id_b, shared) with id_a < id_b.
    """
    fp = (
        winnow_fingerprints(df, id_col, text_col, n, window)
        .select(F.col("doc_id").alias("id"), "fp")
        .distinct()
    )
    hot = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
    )
    kept = fp.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    a = kept.select(F.col("id").alias("id_a"), "fp")
    b = kept.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def bloom_audit(
    members: DataFrame,
    probes: DataFrame,
    id_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter membership audit (Bloom 1970): build the m-bit filter
    of the ``members`` ids (as the SET of set-bit positions — the
    relational representation of the bitmap; its size is min(k·n, m)
    rows regardless of corpus size), probe with known-NON-members, and
    report the measured false-positive rate next to the theoretical
    bound (1 − e^{−kn/m})^k — the audit that sizes the filter before it
    gates a 10^12-row anti-join (Bloom-gated shuffle pruning: ship the
    tiny bit-set, drop non-members map-side, never shuffle them).

    bit_j(x) = md5(j | x) mod m — engine-replayable. One aggregate
    builds the bit set (map-side combine to ≤ m rows); probes explode
    ×k, join the broadcast bit set, and a doc is a false positive iff
    all k of its bits are present. Returns ONE row
    (n_members, n_bits_set, n_probes, n_fp, fpr, fpr_bound)."""
    def bits_of(frame):
        return frame.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array(
                    *[
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            "|",
                                            F.lit(j),
                                            F.col(id_col).cast("string"),
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % m_bits
                        )
                        for j in range(k_hashes)
                    ]
                )
            ).alias("bit"),
        )

    bit_set = bits_of(members).select("bit").distinct()
    n_members = members.select(F.col(id_col)).distinct().count()
    probe_hits = (
        bits_of(probes)
        .join(F.broadcast(bit_set), "bit", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .where(F.col("hits") == k_hashes)
    )
    spark = members.sparkSession
    stats = (
        probes.select(F.col(id_col).alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
        .crossJoin(
            F.broadcast(
                bit_set.agg(
                    F.count(F.lit(1)).cast("long").alias("n_bits_set")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                probe_hits.agg(
                    F.coalesce(F.count(F.lit(1)), F.lit(0))
                    .cast("long")
                    .alias("n_fp")
                )
            )
        )
    )
    import math

    bound = (1.0 - math.exp(-k_hashes * n_members / float(m_bits))) ** k_hashes
    return stats.select(
        F.lit(n_members).cast("long").alias("n_members"),
        "n_bits_set",
        "n_probes",
        "n_fp",
        F.round(F.col("n_fp") / F.col("n_probes").cast("double"), 6).alias(
            "fpr"
        ),
        F.round(F.lit(bound), 6).alias("fpr_bound"),
    )


def _intra_cell_cosine_pairs(cells: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine pairs ≥ threshold WITHIN each cell of a kmeans_cells
    assignment (vec_id, v, cell) — the shared quadratic-step core of
    semdedup_pairs (the audit view) and semantic_dedup (the survivor
    sweep). Cosine rounded 6 dp BEFORE the threshold so boundary pairs
    cut identically across engines."""
    from bran_spark.operators.similarity import dot, norm

    # r06b: norms are computed ONCE per vector on each |cell|-sized side
    # instead of once per PAIR inside the quadratic join — identical
    # doubles (same expression, same fold order), so the 6-dp rounded
    # cosine is bit-unchanged, and 2/3 of the per-pair flops disappear.
    # Interleaved A/B at sf0.1 (q110 end to end): 4.8–5.1 → 3.0–3.4 s.
    # The per-pair dot stays in the higher-order-function form: the
    # unrolled element_at chain that wins at d=8 (q248) LOSES at d=64
    # (7.8–8.2 s in the same A/B — the ~200-node expression tree falls
    # out of efficient codegen, while the HOF loop stays tight).
    a = cells.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "cell",
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semdedup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PAIR-level evidence table behind SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540) — the scored intra-cell near-dup pairs that
    :func:`semantic_dedup` (q110) collapses into its lowest-id survivor
    sweep. Shipping the pairs separately is what makes the dedup
    auditable: threshold sweeps, cluster-size forensics and
    false-positive review all read THIS table, not the survivor list.

      1. Lloyd k-means coarse clustering (similarity.kmeans_cells —
         broadcast-centroid argmin, deterministic lowest-id init);
      2. exact pairwise cosine WITHIN each cell only (equi-join on
         cell: cost Σ|cell|², never |corpus|²);
      3. keep pairs with rounded cosine ≥ threshold.

    The cell equi-join is the same skew story as LSH buckets: a
    degenerate all-in-one-cell clustering degrades toward O(N²), which
    is why k scales with corpus size in production (k ≈ √N keeps
    expected cell size √N). Cross-cell near-dups are invisible by
    design — the documented recall trade the paper accepts for a 100×
    cost cut. Returns (cell, id_a, id_b, cos)."""
    from bran_spark.operators.similarity import kmeans_cells

    # materialized once — both self-join sides read it (see semantic_dedup)
    cells = materialize(
        kmeans_cells(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    )
    return _intra_cell_cosine_pairs(cells, threshold)


def minhash_jaccard_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    bands: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Sketch-accuracy audit: MinHash-estimated vs exact Jaccard for every
    LSH candidate pair — the measurement that tells you whether ``bands``
    is big enough BEFORE you dedup 10^12 docs with it (E[est] = J, and
    with b independent hashes the estimate is Binomial(b, J)/b, so ±1/b
    granularity is the noise floor to expect).

      est_jaccard   = fraction of the b per-band signatures that agree
      exact_jaccard = |A∩B| / |A∪B| over distinct n-gram shingles
      abs_err       = |est − exact|

    Exact intersections are computed ONLY for candidate pairs (LSH-
    bounded, never all-pairs): pair→shingle joins keyed by (id, shingle).
    Returns (id_a, id_b, est_jaccard, exact_jaccard, abs_err), 6 dp."""
    sig = minhash_signatures(df, id_col, text_col, n, bands, hash_fn)
    a = sig.select(F.col("id").alias("id_a"), "band", "minhash")
    b = sig.select(F.col("id").alias("id_b"), "band", "minhash")
    cand = (
        a.join(b, ["band", "minhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    agree = (
        cand.join(a.withColumnRenamed("minhash", "ha"), "id_a")
        .join(
            b.withColumnRenamed("minhash", "hb"),
            ["id_b", "band"],
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
            .cast("double")
            .alias("n_agree")
        )
        .select(
            "id_a", "id_b", (F.col("n_agree") / bands).alias("est")
        )
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    exact = (
        cand.join(common, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.coalesce("common", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("common", F.lit(0))).cast(
                    "double"
                )
            ).alias("exact"),
        )
    )
    return agree.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        F.round("est", 6).alias("est_jaccard"),
        F.round("exact", 6).alias("exact_jaccard"),
        F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"),
    )


def incremental_dedup_candidates(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental dedup — the shape dedup actually runs in production:
    a NEW batch arrives and must be checked (a) against the already-
    deduped corpus and (b) against itself, without ever re-hashing the
    corpus. Candidates = LSH bucket collisions, scoped:

      scope='existing' — new doc collides with a corpus doc (drop it /
                          route to exact-verify)
      scope='batch'    — two new docs collide with each other (keep the
                          lower id, same rule as the batch stack)

    At scale the corpus side of this join is the STORED signature index
    (one row per (doc, band), written once when each batch lands —
    here recomputed only because the test corpus is synthetic); the new
    batch is the only thing hashed per run, so cost tracks batch size,
    not corpus size. Returns (new_id, dup_of, scope), distinct."""
    sig_new = minhash_signatures(new_docs, id_col, text_col, n, bands, hash_fn)
    sig_old = minhash_signatures(
        existing_docs, id_col, text_col, n, bands, hash_fn
    )
    a = sig_new.select(F.col("id").alias("new_id"), "band", "minhash")
    cross = (
        a.join(
            sig_old.select(F.col("id").alias("dup_of"), "band", "minhash"),
            ["band", "minhash"],
        )
        .select("new_id", "dup_of", F.lit("existing").alias("scope"))
    )
    b = sig_new.select(F.col("id").alias("dup_of"), "band", "minhash")
    intra = (
        a.join(b, ["band", "minhash"])
        .where(F.col("dup_of") < F.col("new_id"))
        .select("new_id", "dup_of", F.lit("batch").alias("scope"))
    )
    return cross.unionByName(intra).dropDuplicates()
