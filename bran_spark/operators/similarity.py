"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline. The
  query vector is a broadcast (1-row cross join); the scan is embarrassingly
  parallel; top-k is TakeOrderedAndProject (no full sort).
- ``lsh_bucket_topk``: the scale path — sign-pattern (axis-aligned
  random-hyperplane) LSH restricts the scan to the query's bucket, trading
  recall for a 2^k scan reduction; at 100 TB this is the difference between
  touching every partition and touching one bucket's partitions (the bucket
  key is a deterministic column → partition pruning applies when the table
  is written partitioned by bucket).

All vector math is JVM-side (zip_with/aggregate) — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import materialize


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns: a zip_with/aggregate fold,
    acc = 0.0 then + a_i·b_i in index order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    """L2 norm, the same fold over a_i²."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(
    vec: Column, dims: tuple[int, ...], offsets: dict[int, float]
) -> Column:
    """Deterministic LSH bucket: concatenated sign bits of fixed coordinates,
    each taken RELATIVE to that coordinate's corpus mean (``offsets``).

    Centering matters on real embedding stores: post-ReLU / cosine-cache
    vectors are often positively biased, and raw sign bits then collapse
    the whole corpus into the all-ones bucket — the intra-bucket self-join
    degenerates toward O(N²). Subtracting the per-dimension mean keeps
    E[bucket] ≈ N/2^k regardless of bias, stays deterministic (means are
    rounded to 6 dp, see :func:`dim_means`), and is oracle-replayable."""
    return F.concat_ws(
        "",
        *[
            F.when(
                F.element_at(vec, d + 1) >= F.lit(float(offsets[d])), "1"
            ).otherwise("0")
            for d in dims
        ],
    )


def dim_means(
    emb: DataFrame, vec_col: str, dims: tuple[int, ...]
) -> dict[int, float]:
    """Per-dimension corpus means for sign-LSH centering, rounded to 6 dp so
    the value is reproducible across engines and reduction orders (raw float
    avg is order-dependent in the last ulps). ONE partial-aggregate pass
    over only the needed coordinates; the result is dimension-sized (≤ a few
    dozen doubles) — driver-collected and inlined as literals, the same
    legality as broadcasting a dimension table."""
    if not dims:
        return {}
    row = emb.select(
        *[
            F.round(F.avg(F.element_at(F.col(vec_col), d + 1)), 6).alias(f"m{d}")
            for d in dims
        ]
    ).head()
    return {d: float(row[f"m{d}"] or 0.0) for d in dims}


def banded_sign_keys(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bands: tuple[tuple[int, ...], ...],
    offsets: dict[int, float],
) -> DataFrame:
    """(id, band, key) — one row per (vector, band) with that band's
    centered sign-bit bucket key. Shared by the banded LSH consumers
    (embedding near-dup, k-NN self-join); the explode shuffles only the
    narrow key triple, never the wide vector column."""
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        sign_bucket(F.col(vec_col), dims, offsets).alias("key"),
                    )
                    for i, dims in enumerate(bands)
                ]
            )
        ).alias("bk"),
    )
    return keyed.select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the query vector: (vec_id, cos), k rows.

    Deterministic tie-break on id so results are stable across partitionings.
    """
    q = emb.where(F.col(id_col) == query_id).select(
        _as_double(F.col(vec_col)).alias("qv")
    )
    cand = emb.where(F.col(id_col) != query_id).select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    scored = cand.join(F.broadcast(q)).select(
        "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def _assign_cells(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the tiny centroid table, argmin
    of ROUNDED squared L2 (6 dp — pins the float-summation-order ambiguity so
    the DuckDB twin replays assignments exactly), cid tie-break."""
    d = F.round(
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv")),
        6,
    )
    return (
        base.join(F.broadcast(cents))
        .select("vec_id", "v", F.col("cid"), d.alias("dist"))
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.min_by("cid", F.struct("dist", "cid")).alias("cell"),
        )
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained centroid table (cid, cv) — the Lloyd loop of kmeans_cells
    without the final assignment; what an IVF probe ranks against."""
    base = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    cents = (
        base.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(iters):
        assigned = _assign_cells(base, cents)
        # k-row table: materializing it per Lloyd round costs nothing
        # and stops round i+1's broadcast build from re-executing the
        # whole round-i assignment chain (r06)
        cents = materialize(
            assigned.select("cell", F.posexplode("v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(F.col("cell").alias("cid"), "cv")
        )
    return cents


def kmeans_cells(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means coarse quantizer (the production IVF
    training step; ``iters=0`` assigns to the lowest-id seeds alone).

    Init = the ``k`` lowest-id vectors (deterministic, no RNG). Each
    iteration is (a) a broadcast-join argmin assignment — centroids are k·d
    doubles, never shuffled — and (b) the centroid update as an element-wise
    mean via posexplode → groupBy(cell, dim) avg → rebuild, i.e. two
    shuffles of (cell, dim, val) scalars per iteration; nothing iterates on
    the driver and no vector list is ever collected. Cells keep their seed
    centroid's id across iterations; cells that lose all members drop out.
    Returns the final assignment (vec_id, v, cell) against the trained
    centroids. At 100 TB one trains on a sample and writes the table
    partitioned by cell — the probe then prunes to one partition.
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    return _assign_cells(base, kmeans_centroids(emb, k, iters, id_col, vec_col))


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trainer: str = "seed",
    train_iters: int = 2,
    n_probe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: search only the query's ``n_probe`` nearest
    centroid cells.

    The scale path beyond sign-LSH (q31): the scan cost drops from |N| to
    ``n_probe``·|N|/cells, and recall is tuned by ``n_probe`` (multi-probe)
    without retraining. ``trainer="kmeans"`` quantizes with the
    Lloyd-trained centroids (kmeans_cells, oracle-checked by q47);
    ``"seed"`` keeps the lowest-id stand-ins q42's oracle pins. The probe
    set is a per-query ranking of the TINY centroid table (broadcast both
    ways) — the big vector table is touched only for the probed cells,
    which is what partition-by-cell layouts prune on at scale."""
    base = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    if trainer == "kmeans":
        cents = kmeans_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    else:
        cents = (
            base.orderBy("vec_id")
            .limit(n_centroids)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        )
    cells = _assign_cells(base, cents)
    q = cells.where(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))
    cand = cells.where(F.col("vec_id") != query_id)
    # probe set: rank the TINY centroid table by distance to the query and
    # keep n_probe cells — the big vector table is then touched only for
    # those cells (at scale: partition pruning on a partition-by-cell layout)
    cdist = cents.join(F.broadcast(q)).select(
        F.col("cid").alias("cell"),
        F.round(
            dot(F.col("cv"), F.col("cv"))
            - 2 * dot(F.col("cv"), F.col("qv"))
            + dot(F.col("qv"), F.col("qv")),
            6,
        ).alias("d"),
    )
    probe_set = cdist.orderBy("d", "cell").limit(n_probe).select("cell")
    probed = cand.join(F.broadcast(probe_set), "cell").join(F.broadcast(q))
    scored = probed.select(
        "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def lsh_bucket_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (0, 7, 13, 21),
) -> DataFrame:
    """Approximate top-k: scan only the query's sign bucket, centered on
    the corpus means — see :func:`sign_bucket` for why uncentered bits
    degenerate on biased embedding stores."""
    offsets = dim_means(emb, vec_col, dims)
    with_bucket = emb.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
        sign_bucket(F.col(vec_col), dims, offsets).alias("bucket"),
    )
    q = with_bucket.where(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    cand = with_bucket.where(F.col("vec_id") != query_id)
    scored = cand.join(
        F.broadcast(q), cand.bucket == F.col("qbucket")
    ).select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"))
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def ann_knn_join(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: "tuple[tuple[int, ...], ...] | None" = None,
) -> DataFrame:
    """Batch k-NN self-join: for EVERY vector, its top-k neighbors among the
    candidates colliding with it in any sign-LSH band — the all-queries
    counterpart of :func:`lsh_bucket_topk` (one query) and the retrieval
    primitive behind embedding-based dedup audits and hard-negative mining.
    Band keys are centered (:func:`sign_bucket`).

    Scale shape mirrors ``dedup.embedding_neardup_pairs``: the banded
    explode shuffles only (id, band, key); the wide vectors rejoin the
    DEDUPED candidate list once per side; per-query ranking is a window
    partitioned by the query id whose input size is bounded by the band
    bucket sizes (2^bits per band caps E[bucket] = N/2^bits), never N².
    Ranking uses the ROUNDED cosine with an id tie-break so the top-k cut
    is bitwise-reproducible across engines and partitionings.
    Output: (id_a, id_b, cos, rank), k rows per id_a with ≥1 collision.
    """
    from pyspark.sql import Window

    from bran_spark.operators.dedup import DEFAULT_SIGN_BANDS

    if bands is None:
        bands = DEFAULT_SIGN_BANDS
    all_dims = tuple(sorted({d for dims in bands for d in dims}))
    offsets = dim_means(emb, vec_col, all_dims)
    keyed = banded_sign_keys(emb, id_col, vec_col, bands, offsets)
    ids = F.col(id_col).alias("id")
    a = keyed.select(F.col("id").alias("id_a"), "band", "key")
    b = keyed.select(F.col("id").alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    vecs = emb.select(ids, _as_double(F.col(vec_col)).alias("v"))
    # norms computed once per vector on the id-keyed sides, not once per
    # candidate pair (bit-identical — the q110 finding)
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization — the 4× storage/bandwidth lever for a
    corpus-scale vector store (float32 → int8 + one float scale per
    vector): q_d = round(x_d · 127 / max|x|). Pure JVM array expressions
    (transform/array_max/abs), no Python; exact integer outputs, so the
    DuckDB twin hash-matches bit-for-bit. Returns one row per dimension
    (vec_id, dim_idx, qval, scale) — the exploded form downstream bulk
    loaders and the correctness harness both consume; pack with
    collect_list(qval) when storing."""
    mx = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))).cast(
        "double"
    )
    with_scale = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.greatest(mx, F.lit(1e-30)).alias("mx"),
    )
    return with_scale.select(
        "vec_id",
        "mx",
        F.round(F.col("mx") / 127.0, 9).alias("scale"),
        F.posexplode("v").alias("dim_idx", "x"),
    ).select(
        "vec_id",
        "dim_idx",
        F.round(F.col("x").cast("double") * 127.0 / F.col("mx"))
        .cast("int")
        .alias("qval"),
        "scale",
    )


def cosine_topk_gemm(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched twin of :func:`cosine_topk`: per mapInPandas batch, ONE
    (B×d)·(d,) GEMM scores the whole batch against the query instead of B
    per-row JVM aggregate expressions. Same result (equivalence-tested);
    different cost model — the JVM form stays inside whole-stage codegen
    (no Python boundary), the GEMM form pays one Arrow hop but rides BLAS,
    which wins as d grows (hundreds+ dims) or when the scoring stage is
    already Python-side. Both end in TakeOrderedAndProject, never a full
    sort. The query vector is a d-sized driver collect inlined into the
    closure — dimension-scale, broadcast-equivalent."""
    import numpy as np

    qrow = (
        emb.where(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("v"))
        .head()
    )
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found")
    qv = np.asarray(qrow.v, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))

    def fn(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            dots = m @ qv
            norms = np.sqrt((m * m).sum(axis=1))
            cos = dots / (norms * qn)
            # round HALF-UP to match Spark's F.round (np.round is
            # half-to-even; a .5-boundary 7th digit would diverge)
            cos = np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6 * np.sign(cos)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].to_numpy(), "cos": cos}
            )

    scored = emb.where(F.col(id_col) != query_id).mapInPandas(
        fn, "vec_id long, cos double"
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def product_quantize(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int = 64,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split the d-dim vector
    into ``m`` contiguous blocks, k-means each block independently
    (deterministic lowest-id init, same Lloyd loop as kmeans_centroids),
    and encode every vector as its per-block nearest-codeword id — the
    d·4 bytes → m codes compression behind IVF-PQ vector stores (here
    64 floats → 4 codes ≈ 32× with k=8).

    Everything reuses the oracle-replayable kmeans machinery: rounded-
    distance argmin assignments, cid tie-break, element-wise mean update —
    so the whole train+encode is hash-exact against the DuckDB twin.
    Codes are codeword LABELS (the seed vector ids), not dense 0..k-1
    ranks; consumers needing ranks renumber the tiny codebook. Per block:
    one broadcast of k sub-centroids + one argmin aggregate — the corpus
    crosses no extra shuffle. Returns (vec_id, block, code)."""
    cbs = _pq_codebooks(emb, m, k, iters, id_col, vec_col, d)
    return _pq_encode(emb, cbs, m, id_col, vec_col, d)


def _pq_subvectors(emb, b, width, id_col, vec_col):
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.slice(_as_double(F.col(vec_col)), b * width + 1, width).alias("embedding"),
    )


def _pq_codebooks(emb, m, k, iters, id_col, vec_col, d):
    """One trained (cid, cv) codebook table per block. d must split evenly
    into m blocks — a silent remainder would drop trailing dimensions from
    every code and search.

    The m block trainings are independent (disjoint sub-vector slices)
    and each Lloyd round materializes its k-row centroid table eagerly,
    so training blocks sequentially serializes m·iters tiny driver jobs.
    They are submitted from a small thread pool instead (guide §2.6 —
    concurrent jobs back-fill the executors): per-block results are
    bit-identical either way (the rounds within one block stay ordered;
    blocks share nothing), and the returned list order is restored by
    index. r06 interleaved A/B at sf0.1 (3 timed samples each):
    q99 encode 3.6–3.9 → 1.5–1.7 s, q100 ADC 4.5–5.0 → 2.5–2.7 s."""
    if d % m != 0:
        raise ValueError(f"d={d} not divisible by m={m} blocks")
    width = d // m
    from concurrent.futures import ThreadPoolExecutor

    def _train(b: int):
        return kmeans_centroids(
            _pq_subvectors(emb, b, width, id_col, vec_col), k=k, iters=iters
        )

    if m == 1:
        return [_train(0)]
    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        return list(pool.map(_train, range(m)))


def _pq_encode(emb, codebooks, m, id_col, vec_col, d):
    width = d // m
    out = None
    for b, cents in enumerate(codebooks):
        sub = _pq_subvectors(emb, b, width, id_col, vec_col)
        enc = _assign_cells(
            sub.select("vec_id", F.col("embedding").alias("v")), cents
        ).select(
            "vec_id",
            F.lit(b).cast("int").alias("block"),
            F.col("cell").cast("int").alias("code"),
        )
        out = enc if out is None else out.unionByName(enc)
    return out


def _adc_scores(
    emb: DataFrame,
    query_id: int,
    m: int,
    codewords: int,
    iters: int,
    id_col: str,
    vec_col: str,
    d: int,
    candidates: "DataFrame | None" = None,
) -> DataFrame:
    """Unranked ADC distances (vec_id, approx_dist) — shared by pq_topk
    (global top-k) and ivf_pq_topk (cell-pruned top-k); see pq_topk for
    the design notes. Codebooks are trained ONCE and feed both the code
    assignment and the query distance table (the same cents object — a
    divergence between the two would silently corrupt every distance).
    ``candidates`` (vec_id frame) restricts the scored set BEFORE the
    table join/aggregate, so cell pruning actually prunes work."""
    width = d // m
    cbs = _pq_codebooks(emb, m, codewords, iters, id_col, vec_col, d)
    codes = _pq_encode(emb, cbs, m, id_col, vec_col, d).where(
        F.col("vec_id") != query_id
    )
    if candidates is not None:
        codes = codes.join(candidates, "vec_id", "left_semi")
    qrow = emb.where(F.col(id_col) == query_id).select(
        _as_double(F.col(vec_col)).alias("qv")
    )
    table = None
    for b, cents in enumerate(cbs):
        qb = qrow.select(
            F.slice(F.col("qv"), b * width + 1, width).alias("qb")
        )
        t = cents.crossJoin(F.broadcast(qb)).select(
            F.lit(b).cast("int").alias("block"),
            F.col("cid").cast("int").alias("code"),
            F.round(
                dot(F.col("qb"), F.col("qb"))
                - 2 * dot(F.col("qb"), F.col("cv"))
                + dot(F.col("cv"), F.col("cv")),
                6,
            ).alias("bdist"),
        )
        table = t if table is None else table.unionByName(t)
    return (
        codes.join(F.broadcast(table), ["block", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("bdist"), 6).alias("approx_dist"))
    )


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 4,
    codewords: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half of
    IVF-PQ: the query stays a float vector, the corpus is its m-code
    encoding, and distance ≈ Σ_b table[b, code_b] where the table holds the
    query's squared L2 to every codeword (m·k rows — broadcast-tiny).
    The corpus-side scan touches ONLY the integer codes: at 10^12 vectors
    this reads m bytes per vector instead of d·4, and the join against the
    distance table is a broadcast hash join with no float math per row.

    Deterministic end-to-end (codebooks and codes from product_quantize,
    per-block distances rounded 6 dp before the sum), so the whole
    index+search pipeline is oracle-replayable. Returns (vec_id,
    approx_dist) ascending, ties broken by id; top-k is
    TakeOrderedAndProject, never a full sort."""
    return (
        _adc_scores(emb, query_id, m, codewords, iters, id_col, vec_col, d)
        .orderBy(F.asc("approx_dist"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 4,
    codewords: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int = 64,
) -> DataFrame:
    """Full IVF-PQ search — the standard billion-scale ANN recipe, composed
    from the oracle-checked pieces: IVF coarse cells prune the scan to the
    query's ``n_probe`` nearest cells (at scale: partition pruning on a
    partition-by-cell layout), then ADC over the global PQ codes ranks the
    survivors reading m integer codes per vector. The float vectors are
    touched only to build the two tiny broadcast tables (centroids and the
    query's codeword-distance table); the per-candidate work is an integer
    equi-join + a 4-term sum. Returns (vec_id, approx_dist) ascending."""
    base = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    cents = (
        base.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    cells = _assign_cells(base, cents)
    q = cells.where(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))
    cdist = cents.join(F.broadcast(q)).select(
        F.col("cid").alias("cell"),
        F.round(
            dot(F.col("cv"), F.col("cv"))
            - 2 * dot(F.col("cv"), F.col("qv"))
            + dot(F.col("qv"), F.col("qv")),
            6,
        ).alias("cd"),
    )
    probes = cdist.orderBy(F.asc("cd"), F.asc("cell")).limit(n_probe).select("cell")
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != query_id)
        .select("vec_id")
    )
    # the candidate restriction happens INSIDE the ADC scorer (before the
    # distance-table join/aggregate) so the probe pruning prunes real work
    adc = _adc_scores(
        emb, query_id, m, codewords, iters, id_col, vec_col, d,
        candidates=cand,
    )
    return adc.orderBy(F.asc("approx_dist"), F.asc("vec_id")).limit(k)


def embedding_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_cut: float = 3.0,
) -> DataFrame:
    """Embedding-store hygiene: flag corrupt / degenerate vectors by
    z-scoring (a) the L2 norm and (b) the distance to the global centroid
    — the two cheapest detectors for zeroed, clipped, duplicated-constant
    or wrong-scale vectors before they poison ANN indexes and semantic
    dedup. A vector is flagged when either |z| exceeds ``z_cut``.

    Scale shape: pass 1 computes the d-dimensional centroid and the norm
    moments in ONE partial aggregate (posexplode-free: element-wise
    F.aggregate per row, then avg/stddev_pop over scalars + an
    array-mean via per-dimension avg on the posexploded pairs, which
    map-side combines to d rows); the centroid and moments — O(d) values
    — broadcast back for pass 2's pure projection. Nothing corpus-scale
    shuffles; the output is row-per-vector. Rounding to 6dp before the
    cut keeps the flag engine-stable. Returns
    (vec_id, norm_z, dist_z, is_outlier)."""
    v = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    cent = (
        v.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.avg("x").alias("c"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "c"))
            ).alias("cs")
        )
        .select(F.transform("cs", lambda s: s["c"]).alias("centroid"))
    )
    with_norm = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        norm(F.col("v")).alias("nrm"),
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "centroid", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        ).alias("dist"),
    )
    moments = with_norm.agg(
        F.avg("nrm").alias("mu_n"),
        F.stddev_pop("nrm").alias("sd_n"),
        F.avg("dist").alias("mu_d"),
        F.stddev_pop("dist").alias("sd_d"),
    )
    scored = with_norm.crossJoin(F.broadcast(moments)).select(
        "vec_id",
        F.round(
            (F.col("nrm") - F.col("mu_n"))
            / F.greatest(F.col("sd_n"), F.lit(1e-12))
            + F.lit(1e-9),
            6,
        ).alias("norm_z"),
        F.round(
            (F.col("dist") - F.col("mu_d"))
            / F.greatest(F.col("sd_d"), F.lit(1e-12))
            + F.lit(1e-9),
            6,
        ).alias("dist_z"),
    )
    return scored.withColumn(
        "is_outlier",
        (
            (F.abs("norm_z") > F.lit(float(z_cut)))
            | (F.abs("dist_z") > F.lit(float(z_cut)))
        ).cast("int"),
    )


def jl_project(
    emb: DataFrame,
    in_dims: int,
    out_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection, ±1 (Achlioptas 2003)
    variant: y_o = (1/√k) Σ_d v_d·sign(d,o) with the sign drawn from an
    md5 coin on (d,o) — the dimensionality-reduction sketch run before
    LSH/clustering when the store's native d is wasteful. No matrix is
    stored ANYWHERE: the d×k ±1 matrix is regenerated from the hash on
    both engines, so the sketch is reproducible across reruns, engines
    and partitionings (the property a 10^12-row store needs when the
    projection must be recomputed incrementally for new arrivals).

    Scale shape: the generated matrix is d×k rows — tiny, broadcast;
    projection = posexplode of the vector joined to it (the explicit
    d×k multiply-add any dense projection costs) + one (vec, o)
    aggregate with map-side combine. Emits EXPLODED rows
    (vec_id, o, val) — scalar columns, rounded 6dp.

    ``in_dims`` must equal the store's true dimensionality: coordinates
    at index ≥ in_dims have no matrix row and drop out of the inner join
    (silently truncating the projection), while vectors shorter than
    in_dims simply contribute fewer terms."""
    spark = emb.sparkSession
    mat = spark.range(in_dims * out_dims).select(
        (F.col("id") / out_dims).cast("long").alias("dim"),
        (F.col("id") % out_dims).alias("o"),
        (
            1
            - 2
            * (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                (F.col("id") / out_dims).cast("long"),
                                F.col("id") % out_dims,
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
        ).alias("sgn"),
    )
    ex = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"),
    )
    return (
        ex.join(F.broadcast(mat), "dim")
        .groupBy("vec_id", "o")
        .agg(
            F.round(
                F.sum(F.col("x") * F.col("sgn"))
                / F.sqrt(F.lit(float(out_dims)))
                + F.lit(1e-9),
                6,
            ).alias("val")
        )
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN quality gate as an operator: per-query recall@k of an
    approximate top-k result against the exact one — the number an index
    owner watches when trading probes/bands for latency. recall =
    |exact ∩ approx| / |exact| per query; mean recall is one tiny
    aggregate over the output.

    Both inputs are (query_id, vec_id) lists, k rows per query —
    dimension-scale relative to the store (queries × k). One equi-join
    on (query, id) + two per-query aggregates; at a 10^12-vector store
    this costs nothing compared to producing either ranking. Returns
    (query_id, n_exact, n_hit, recall) rounded 6dp."""
    hits = (
        exact.join(approx, [query_col, id_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    tot = exact.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return tot.join(hits, query_col, "left").select(
        query_col,
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_exact").cast("double"), 6
        ).alias("recall"),
    )


def mutual_nearest_neighbors(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: "tuple[tuple[int, ...], ...] | None" = None,
) -> DataFrame:
    """Mutual-nearest-neighbor pairs: (a, b) where b is a's rank-1
    neighbor AND a is b's — the reciprocity filter that turns a noisy
    kNN join into a high-precision match set (the MNN rule from
    cross-dataset alignment, Haghverdi et al. 2018; the same move as
    reciprocal-best-hit in ontology matching). One-directional rank-1
    is cheap to satisfy by accident next to a hub; mutuality is not.

    Composes :func:`ann_knn_join` (k=1 per direction, banded sign-LSH
    candidates, rounded-cosine rank) with one self-join on the swapped
    pair — no new corpus pass. Output: (id_a, id_b, cos) with
    id_a < id_b, one row per mutual pair."""
    nn1 = ann_knn_join(
        emb, k=1, id_col=id_col, vec_col=vec_col, bands=bands
    ).select("id_a", "id_b", "cos")
    rev = nn1.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    )
    return (
        nn1.join(rev, ["id_a", "id_b"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cos")
    )


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    dims: "tuple[int, ...]" = tuple(range(8)),
) -> DataFrame:
    """Population covariance entries for a REQUESTED coordinate subset —
    the embedding-store health audit (which dimensions carry variance,
    which are dead, which are redundant) and the exact small-d input to
    PCA when only a few coordinates matter.

    One aggregate pass with d + d(d+1)/2 JVM sum expressions (count,
    per-dim sums, upper-triangle product sums), then the 1-row result
    explodes into (i, j) entries:  cov = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n).
    No shuffle beyond the 1-row reduce; no Python. d(d+1)/2 aggregate
    expressions cap the practical subset around a few dozen dims — the
    FULL-d scale path is :func:`gram_covariance` (per-partition Gram).
    Output: (i, j, cov) for i ≤ j, 6 dp, ordered."""
    v = F.col(vec_col)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i in dims:
        aggs.append(
            F.sum(F.element_at(v, i + 1).cast("double")).alias(f"s{i}")
        )
    pairs = [(i, j) for a, i in enumerate(dims) for j in dims[a:]]
    for i, j in pairs:
        aggs.append(
            F.sum(
                F.element_at(v, i + 1).cast("double")
                * F.element_at(v, j + 1).cast("double")
            ).alias(f"p{i}_{j}")
        )
    row = emb.agg(*aggs)
    n = F.col("n")
    structs = [
        F.struct(
            F.lit(i).cast("int").alias("i"),
            F.lit(j).cast("int").alias("j"),
            (
                F.col(f"p{i}_{j}") / n
                - (F.col(f"s{i}") / n) * (F.col(f"s{j}") / n)
            ).alias("cov"),
        )
        for i, j in pairs
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("e"))
        .select("e.i", "e.j", F.round("e.cov", 6).alias("cov"))
        .orderBy("i", "j")
    )


def _gram_combined(
    emb: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """Full-d covariance via PER-PARTITION Gram matrices — the scale
    path embedding_covariance's d(d+1)/2 codegen expressions can't
    reach: each Arrow batch contributes one numpy d×d Gram + d sums +
    a count (BLAS matmul, not per-element Python), emitted as d(d+1)/2
    partial rows; ONE tiny (i, j)-keyed shuffle of partition-count-
    sized partials combines them. At 10¹² rows the shuffled data is
    still partitions × d² doubles — independent of corpus size.

    Float caveat (same contract as dim_means): partial sums are exact
    per batch but combine in shuffle order; entries are rounded to 6 dp,
    far above doubles' ulp noise at any realistic corpus. Output:
    (i, j, cov) for i ≤ j, 6 dp — schema-identical to
    embedding_covariance (equivalence-tested on the shared dims)."""
    import numpy as np
    import pandas as pd

    pairs = [(i, j) for i in range(dim) for j in range(i, dim)]
    out_schema = "i int, j int, ps double, si double, sj double, pn double"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(r, dtype=np.float64) for r in pdf[vec_col]]
            )
            g = x.T @ x
            s = x.sum(axis=0)
            n = float(len(pdf))
            yield pd.DataFrame(
                {
                    "i": [i for i, _ in pairs],
                    "j": [j for _, j in pairs],
                    "ps": [g[i, j] for i, j in pairs],
                    "si": [s[i] for i, _ in pairs],
                    "sj": [s[j] for _, j in pairs],
                    "pn": n,
                }
            )

    partials = emb.select(vec_col).mapInPandas(fn, out_schema)
    return partials.groupBy("i", "j").agg(
        F.sum("ps").alias("ps"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("pn").alias("n"),
    )


def gram_covariance(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """(i, j, cov) projection of :func:`_gram_combined` — see that
    docstring for the plan; this is the embedding_covariance-compatible
    public surface."""
    g = _gram_combined(emb, vec_col, dim)
    n = F.col("n")
    return g.select(
        "i",
        "j",
        F.round(
            F.col("ps") / n - (F.col("si") / n) * (F.col("sj") / n), 6
        ).alias("cov"),
    ).orderBy("i", "j")


def pca_project(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """PCA projection of the embedding column onto its top-k principal
    components — whitening/compression for the similarity stack (a
    64-d store projected to 4-8 PCA dims often keeps neighbor ranking
    while cutting ANN cost ~10×).

    The covariance matrix comes from :func:`gram_covariance` (one
    corpus pass, partition-Gram combine); the d×d eigendecomposition is
    DRIVER-SIDE numpy — dimension-table legality, d² doubles regardless
    of corpus size. Eigenvectors are sign-fixed (largest-|component|
    coordinate made positive) so reruns pick identical bases even under
    eigenvalue ties' sign ambiguity. The projection itself is pure JVM
    column math: proj_c = Σ_d (x_d − μ_d)·v_cd with means/loadings
    inlined as literals — no Python in the corpus-scale pass. Output:
    (id, proj array<double> length k), 6 dp."""
    import numpy as np

    # ONE corpus pass: the combined Gram partials carry the product sums
    # AND the per-dim sums/count, so covariance and the centering means
    # both come from the same d(d+1)/2-row collect (a second full-corpus
    # dim_means aggregate here doubled the pre-projection I/O).
    rows = _gram_combined(emb, vec_col=vec_col, dim=dim).collect()
    c = np.zeros((dim, dim))
    mu = {}
    for r in rows:
        n = float(r.n)
        cov = r.ps / n - (r.si / n) * (r.sj / n)
        c[r.i, r.j] = round(cov, 6)
        c[r.j, r.i] = round(cov, 6)
        if r.i == r.j:
            mu[r.i] = round(r.si / n, 6)  # same 6-dp contract as dim_means
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        vec = v[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append(vec)
    x = F.col(vec_col)
    proj_cols = [
        F.round(
            sum(
                (
                    F.element_at(x, d + 1).cast("double")
                    - F.lit(float(mu.get(d, 0.0)))
                )
                * F.lit(round(float(comp[d]), 9))
                for d in range(dim)
            ),
            6,
        )
        for comp in comps
    ]
    return emb.select(F.col(id_col), F.array(*proj_cols).alias("proj"))
