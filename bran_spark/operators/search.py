"""BM25 keyword search over the corpus — the retrieval primitive a
training-data pipeline uses for targeted corpus audits (contamination
checks, topical subsetting) and the reference never needed (SURVEY.md §2.8:
no retrieval surface in bran).

Spark-first shape, sized for 100 TB:
- term frequencies: explode → two-phase groupBy keyed by (doc, term) — the
  doc-prefixed key makes cross-doc hot terms irrelevant to the shuffle.
- document frequencies: computed ONLY for the query's terms (a handful),
  filtered BEFORE the aggregation so the df pass shuffles a few rows per
  partition, then broadcast back as a scalar map.
- corpus stats (N, avgdl): one tiny aggregate, crossJoin-broadcast to the
  scoring projection (a 1-row broadcast, plan-visible).
- final ranking: TakeOrderedAndProject via ORDER BY + LIMIT — never a full
  sort of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.functions.text import words


def _bm25_scored(
    docs: DataFrame,
    terms: "DataFrame | list[str]",
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 scores (doc_id, score) for every doc matching a query term —
    the shared core of bm25_topk, prf_expand_topk and hard_negatives.

    ``terms`` is either a literal list (lowercased here) or a single-column
    ``term`` DataFrame (already lowercase). Literal terms become an ``isin``
    predicate inlined into the scan projection's codegen — no exchange, no
    extra job; a broadcast-join filter here cost q53 0.92→2.37 s at sf0.1
    (ADVICE r3). The DataFrame form keeps the broadcast semi-join for
    data-dependent terms (PRF round 2), where a literal is impossible
    without a driver collect. Either way the filter lands BEFORE the tf
    aggregate and corpus stats ride as a 1-row broadcast. Scores 6 dp."""
    wl = docs.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("ws")
    ).select("doc_id", "ws", F.size("ws").cast("double").alias("dl"))

    stats = wl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    tok = wl.select("doc_id", "dl", F.explode("ws").alias("term"))
    if isinstance(terms, DataFrame):
        tok = tok.join(F.broadcast(terms.select("term").distinct()), "term")
    else:
        tok = tok.where(
            F.col("term").isin(sorted({t.lower() for t in terms}))
        )
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Top-k docs by BM25 over the query terms.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (Robertson-Sparck Jones with
    the +1 floor, Lucene's form); tf saturation k1, length normalization b.
    Returns (doc_id, score) — score rounded to 6dp, ties broken by doc_id.
    """
    scored = _bm25_scored(docs, list(query_terms), id_col, text_col, k1, b)
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def prf_expand_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    fb_docs: int = 5,
    fb_terms: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Two-stage retrieval with pseudo-relevance feedback (the Rocchio
    expansion move): round 1 ranks with BM25, the top ``fb_docs`` docs
    are ASSUMED relevant, their most characteristic terms (Σ tf within
    the feedback set · corpus idf ln(N/df), rounded 6 dp, ties by term,
    original query terms excluded) become ``fb_terms`` expansion terms,
    and round 2 re-ranks the corpus with the expanded query. Recovers
    relevant docs that share vocabulary with the top results but not
    with the literal query — the classic recall lever when queries are
    short.

    Fully in-plan: the feedback doc set and the expansion terms are
    bounded DataFrames (fb_docs / fb_terms rows) flowing through
    broadcast joins — no driver-side collect anywhere, so the same plan
    runs at any corpus size. Returns (doc_id, score) from the expanded
    query, 6 dp, ties by doc_id."""
    spark = docs.sparkSession
    terms0 = spark.createDataFrame(
        [(t.lower(),) for t in query_terms], "term string"
    )
    r1 = (
        # round 1's terms are literal — take the isin fast path; terms0
        # stays a DataFrame only for the exclusion join / union below
        _bm25_scored(docs, list(query_terms), id_col, text_col, k1, b)
        .orderBy(F.desc("score"), "doc_id")
        .limit(fb_docs)
        .select("doc_id")
    )
    fb_tok = (
        docs.select(F.col(id_col).alias("doc_id"), words(text_col).alias("ws"))
        .join(F.broadcast(r1), "doc_id")
        .select("doc_id", F.explode("ws").alias("term"))
    )
    fb_tf = fb_tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("fbtf")
    )
    # corpus df + N for the idf weight of candidate expansion terms
    all_tf = (
        docs.select(F.col(id_col).alias("doc_id"), words(text_col).alias("ws"))
        .select("doc_id", F.explode("ws").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    exp_terms = (
        fb_tf.join(terms0.withColumn("_q", F.lit(1)), "term", "left")
        .where(F.col("_q").isNull())
        .join(all_tf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.round(
                F.col("fbtf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("w"),
        )
        .orderBy(F.desc("w"), "term")
        .limit(fb_terms)
        .select("term")
    )
    expanded = terms0.select("term").union(exp_terms).distinct()
    return (
        _bm25_scored(docs, expanded, id_col, text_col, k1, b)
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf — the corpus
    audit / topical-labeling primitive (what is this doc about).

    idf = ln(N / df) over the shared words() tokenization (trim + ' +'
    split — the stack-wide rule, so per-doc stats agree with bm25/
    chunking/packing and no phantom empty-string terms appear on
    consecutive spaces). Three aggregates, all with
    map-side partial combine: tf keyed by (doc, term) — doc-prefixed, so
    cross-doc hot terms don't skew the shuffle; df derived FROM the tf table
    (one row per (doc, term) — no second corpus scan); N is a 1-row
    broadcast. The df join back is term-keyed (hot-key skew handled by AQE);
    the final top-k is a per-doc window over the already-aggregated table,
    ordered by the ROUNDED score + term so the cut is engine-stable.
    Returns (doc_id, term, tf, df, tfidf).
    """
    from bran_spark.functions.text import words

    wl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(text_col)).alias("term"),
    )
    tf = wl.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    id_col: str = "doc_id",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    fused(d) = Σ_lists 1/(k + rank(d)) — the standard hybrid-retrieval
    combiner (BM25 lexical + embedding ANN is the modern RAG default);
    rank fusion needs no score calibration across retrievers, which is
    exactly why it beats weighted-score mixing across heterogeneous
    scorers. Docs missing from a list simply contribute nothing.

    Each input is an ALREADY-TRUNCATED candidate list — two columns
    (id, score), higher score = better, at most top-k rows per query —
    so the single-partition rank window here runs over k-row frames,
    never corpus-scale data (the retrievers upstream did the heavy
    lifting with their own scale-safe plans). Ranks derive from the
    rounded scores with id tie-break, so they are engine-reproducible.
    Returns (id_col, n_lists, rrf_score) — the ``top`` fused results."""
    parts = []
    for r in rankings:
        score_col = [c for c in r.columns if c != id_col][0]
        ranked = r.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("s")
        ).withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("s"), F.asc("id"))),
        )
        parts.append(
            ranked.select(
                "id", (F.lit(1.0) / (F.lit(k) + F.col("rank"))).alias("c")
            )
        )
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return (
        allc.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.round(F.sum("c") + F.lit(1e-9), 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(top)
        .select(F.col("id").alias(id_col), "n_lists", "rrf_score")
    )


def mmr_rerank(
    cands: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "id",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick argmax λ·rel − (1−λ)·max_sim-to-selected —
    the diversification pass a RAG serving stack runs on its fused top-k
    so the context window is not five paraphrases of the same passage.

    Inputs are dimension-scale by contract: ``cands`` = (id, rel) is an
    already-truncated candidate list (k-to-dozens of rows), ``sims`` =
    (id_a, id_b, sim) its pairwise similarities (list², still tiny).
    The greedy loop therefore runs k driver-side single-row selections
    over these bounded frames — the same legality as collecting a
    dimension table; nothing corpus-scale is touched. MMR scores are
    rounded 6dp before each argmax (id tie-break), so the selection
    sequence is engine-reproducible. Returns (rank, id, mmr) in pick
    order, rank starting at 1."""
    rel_col = [c for c in cands.columns if c != id_col][0]
    base = cands.select(F.col(id_col).alias("id"), F.col(rel_col).alias("rel"))
    picked: list = []
    out_rows = []
    for step in range(1, k + 1):
        remaining = base.where(~F.col("id").isin(picked)) if picked else base
        if picked:
            ms = (
                sims.where(F.col("id_b").isin(picked))
                .groupBy(F.col("id_a").alias("id"))
                .agg(F.max("sim").alias("ms"))
            )
            scored = remaining.join(ms, "id", "left").select(
                "id",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1 - lam) * F.coalesce("ms", F.lit(0.0))
                    + F.lit(1e-9),
                    6,
                ).alias("mmr"),
            )
        else:
            scored = remaining.select(
                "id",
                F.round(F.lit(lam) * F.col("rel") + F.lit(1e-9), 6).alias("mmr"),
            )
        row = scored.orderBy(F.desc("mmr"), F.asc("id")).limit(1).head()
        if row is None:
            break
        picked.append(row.id)
        out_rows.append((step, row.id, float(row.mmr)))
    spark = cands.sparkSession
    schema = f"rank int, {id_col} " + dict(
        (f.name, f.dataType.simpleString()) for f in base.schema.fields
    )["id"] + ", mmr double"
    return spark.createDataFrame(out_rows, schema)


def lm_dirichlet_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: float = 2000.0,
    k: int = 10,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR'01) — the language-modeling counterpart of bm25_topk
    (probabilistic ranking, one smoothing knob μ instead of k1/b), in
    the rank-equivalent matched-terms-only form:

      score(d) = Σ_{t∈q∩d} ln(1 + tf_td / (μ·p(t|C)))
                 + |q| · ln(μ / (dl_d + μ)),
      p(t|C) = ctf_t / |C|  (collection term frequency / total tokens)

    so only documents containing a query term are ever scored — same
    scan shape as BM25: query-term filter BEFORE the tf aggregate
    (doc-prefixed keys, skew-free), 1-row collection total broadcast,
    terms-sized ctf broadcast, TakeOrderedAndProject top-k. A query
    term absent from the corpus contributes nothing (no matched rows)
    and the constant |q| term keeps ranking unaffected. Returns
    (doc_id, score), 6 dp, ties by doc_id."""
    terms = [t.lower() for t in query_terms]
    wl = docs.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("ws")
    ).select("doc_id", "ws", F.size("ws").cast("double").alias("dl"))
    coll = wl.agg(F.sum("dl").alias("c_total"))
    tok = wl.select("doc_id", "dl", F.explode("ws").alias("term")).where(
        F.col("term").isin(terms)
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    ctf = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("ctf")
    )
    nq = float(len(terms))
    scored = (
        tf.join(F.broadcast(ctf), "term")
        .crossJoin(F.broadcast(coll))
        .withColumn(
            "contrib",
            F.log(
                1.0 + F.col("tf") / (F.lit(mu) * (F.col("ctf") / F.col("c_total")))
            ),
        )
        .groupBy("doc_id", "dl")
        .agg(F.sum("contrib").alias("s"))
        .select(
            "doc_id",
            F.round(
                F.col("s") + F.lit(nq) * F.log(F.lit(mu) / (F.col("dl") + F.lit(mu))),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def hard_negatives(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 hard-negative mining — the contrastive-training-data move
    (DPR, Karpukhin et al. 2020): the most valuable negatives for a
    retriever/reranker are not random docs but the top-scoring NON-
    relevant ones, because they sit exactly on the decision boundary.

    Relevance proxy: a doc is a positive iff it contains EVERY query
    term (conjunctive match); hard negatives are the k highest-BM25
    docs outside that set — lexically close (they match some terms,
    saturate tf, look right to the lexical scorer) yet not relevant.

    Plan: the positive set is a scan-projection predicate (array
    containment over the shared words() split — no join), the exclusion
    is a left-anti join on doc_id, the cut is TakeOrdered; the rank
    column is a window over the already-truncated k rows only. Query
    terms are deduplicated up front (first occurrence wins) so a
    repeated term can neither double its BM25 contribution nor inflate
    the conjunctive-match size past what any document can reach.
    Returns (doc_id, score, rank)."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    scored = _bm25_scored(docs, terms, id_col, text_col, k1, b)
    positives = docs.where(
        F.size(
            F.array_intersect(
                F.array_distinct(words(text_col)),
                F.array(*[F.lit(t) for t in terms]),
            )
        )
        == len(terms)
    ).select(F.col(id_col).alias("doc_id"))
    negs = (
        scored.join(positives, "doc_id", "left_anti")
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return negs.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    )


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    iters: int = 5,
    k: int = 10,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    PageRank over the word co-occurrence graph — words voting for the
    words they appear near — the unsupervised corpus-keyword surface
    next to tf-idf's per-document one.

    Graph build: one posexplode for positions, then a doc-keyed
    position self-join (|Δpos| ≤ window, per-doc fan-out bounded by the
    F4 max-length truncate) collapsed to a DISTINCT word-pair edge list
    — vocabulary-sized (Zipf-bounded), orders of magnitude below the
    token stream. Ranking reuses graphalgo.pagerank_fixed_point (exact
    integer arithmetic, one shuffle per iteration), so the scores are
    bit-exact across engines and partitionings. Returns the top-k (word, rank_fp)."""
    from bran_spark.operators.graphalgo import (
        pagerank_fixed_point,
        symmetric_edges,
    )

    wp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words(text_col)).alias("pos", "word"),
    )
    a = wp.select("doc_id", F.col("pos").alias("pa"), F.col("word").alias("wa"))
    b = wp.select("doc_id", F.col("pos").alias("pb"), F.col("word").alias("wb"))
    co = (
        a.join(b, "doc_id")
        .where(
            (F.col("pb") > F.col("pa"))
            & (F.col("pb") - F.col("pa") <= window)
            & (F.col("wa") != F.col("wb"))
        )
        .select(F.col("wa").alias("subj"), F.col("wb").alias("obj"))
        .distinct()
    )
    ranks = pagerank_fixed_point(symmetric_edges(co), iters=iters)
    return (
        ranks.select(F.col("entity").alias("word"), "rank_fp")
        .orderBy(F.desc("rank_fp"), "word")
        .limit(k)
    )


def cloze_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Salience-masked cloze generation — synthetic (question, answer)
    training pairs minted from raw corpus text (the self-supervised
    reading-comprehension recipe): per document, the most characteristic
    term (argmax tf·idf, deterministic term tie-break) becomes the
    answer, and the question is the document with every occurrence of
    that term replaced by [MASK].

    The masking rebuilds the text from the shared words() split with an
    exact per-word equality test — no regex, so no metacharacter or
    substring-boundary hazards, and the output is engine-reproducible
    byte-for-byte. tf·idf reuses the tfidf_top_terms plan shape
    (doc-prefixed tf keys, df from the tf table, 1-row N broadcast).
    Returns (doc_id, answer, question)."""
    top1 = tfidf_top_terms(docs, id_col, text_col, k=1).select(
        F.col("doc_id"), F.col("term").alias("answer")
    )
    ws = docs.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("ws")
    )
    return ws.join(top1, "doc_id").select(
        "doc_id",
        "answer",
        F.array_join(
            F.transform(
                F.col("ws"),
                lambda w: F.when(w == F.col("answer"), F.lit("[MASK]")).otherwise(w),
            ),
            " ",
        ).alias("question"),
    )
