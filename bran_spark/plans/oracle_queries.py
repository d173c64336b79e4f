"""The oracle-checked operator corpus (driver contract, SURVEY.md §5.2.1).

Every SQL-expressible operator from SURVEY.md §2 has an entry here: a Spark
DataFrame implementation plus the ANSI-SQL twin DuckDB replays on the same
parquet tables at sf=0.01. The driver compares row-count + schema +
order-insensitive value hash, so every entry follows three rules:

1. every computed column is aliased identically on both sides;
2. floats are rounded (and sums of ints cast) to identical types;
3. ordering is never relied on except through explicit deterministic
   ORDER BY + LIMIT (top-k), identical on both sides.

Registry: ``QUERIES[name] -> (fn(spark, sf_dir) -> DataFrame)`` and
``ORACLE[name] -> SQL | None`` (None ⇒ rows-only check: the op is not
SQL-expressible — model forward passes, hash-function-specific ops).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bran_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from bran_spark.operators.dedup import (
    DEFAULT_SIGN_BANDS,
    exact_dedup_groups,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from bran_spark.operators.evaluate import sweep_threshold
from bran_spark.operators.fixpoint import materialize
from bran_spark.operators.pairs import salted_count_distinct
from bran_spark.operators.pooling import lse_pool
from bran_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from bran_spark.sources.interleave import (
    PLAIN_CHEMICALS,
    PLAIN_DISEASES,
    PLAIN_PARENTS,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =========================================================================
# §1 Relational core (scans, filters, joins, aggs, windows, sets, scalars)
# =========================================================================

@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    """A1/A4-family hash aggregation with map-side partial agg (TPC-H Q1 shape)."""
    return (
        _t(spark, sf, "lineitem")
        .where(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q02(spark, sf):
    """F1/F6: predicate + projection — both pushed into the parquet scan."""
    return (
        _t(spark, sf, "lineitem")
        .where(F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@_q(
    "q03_star_join",
    """
    SELECT r_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q03(spark, sf):
    """J4-family star join: every dimension broadcast (no shuffle for dims)."""
    o = _t(spark, sf, "orders")
    c = F.broadcast(_t(spark, sf, "customer"))
    n = F.broadcast(_t(spark, sf, "nation"))
    r = F.broadcast(_t(spark, sf, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@_q(
    "q04_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q04(spark, sf):
    """J7/U2: left-anti join (customers without orders)."""
    return (
        _t(spark, sf, "customer")
        .join(_t(spark, sf, "orders"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@_q(
    "q05_semi_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def q05(spark, sf):
    """Left-semi join (EXISTS decorrelation is Catalyst's, free)."""
    o = _t(spark, sf, "orders").where(F.col("o_orderstatus") == "O")
    return (
        _t(spark, sf, "customer")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@_q(
    "q06_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q06(spark, sf):
    """W3: top-k per group via ranking window, deterministic tiebreak."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


@_q(
    "q07_running_sum",
    """
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend
    FROM orders
    """,
)
def q07(spark, sf):
    """Analytic frame (rowsBetween): per-customer running spend."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf, "orders").select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")
    )


@_q(
    "q08_union",
    """
    SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, 'big' AS src FROM orders WHERE o_totalprice > 400000
    """,
)
def q08(spark, sf):
    """U1: unionByName of two slices with provenance tags."""
    o = _t(spark, sf, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("src")
    )
    b = o.where(F.col("o_totalprice") > 400000).select(
        "o_orderkey", F.lit("big").alias("src")
    )
    return a.unionByName(b)


@_q(
    "q09_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def q09(spark, sf):
    """Set intersection (J6 family)."""
    a = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = (
        _t(spark, sf, "orders")
        .where(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.intersect(b)


@_q(
    "q10_distinct_agg",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers,
           ROUND(AVG(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q10(spark, sf):
    """A3/distinct: mixed distinct + plain aggregates."""
    return (
        _t(spark, sf, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@_q(
    "q11_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q11(spark, sf):
    """Grouping sets / rollup (metrics reporting; SURVEY.md §2.4)."""
    return (
        _t(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_q(
    "q12_topn",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey LIMIT 10
    """,
)
def q12(spark, sf):
    """O1: global top-N (TakeOrderedAndProject — no full sort)."""
    return (
        _t(spark, sf, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(10)
    )


@_q(
    "q13_string_funcs",
    """
    SELECT CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INT) AS brand_no,
           lower(p_type) AS type_lc,
           COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS BIGINT) AS name_chars
    FROM part
    WHERE p_name LIKE '%widget%'
    GROUP BY brand_no, type_lc
    """,
)
def q13(spark, sf):
    """X5: regexp extract / lower / length / LIKE."""
    return (
        _t(spark, sf, "part")
        .where(F.col("p_name").like("%widget%"))
        .select(
            F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_no"),
            F.lower("p_type").alias("type_lc"),
            "p_name",
        )
        .groupBy("brand_no", "type_lc")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("p_name")).cast("long").alias("name_chars"),
        )
    )


@_q(
    "q14_date_agg",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY yr, mo
    """,
)
def q14(spark, sf):
    """Date functions + agg (SURVEY.md §2.8 date demo on driver tables)."""
    return (
        _t(spark, sf, "orders")
        .where(F.col("o_orderdate") >= "1997-01-01")
        .groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_q(
    "q15_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q15(spark, sf):
    """JSON-ish props field extraction (X5 / §2.8 json demo)."""
    return (
        _t(spark, sf, "events")
        .select(
            "event_type",
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("k_sum"), F.count(F.lit(1)).alias("n"))
    )


@_q(
    "q16_time_window",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL 1 hour, ts)) AS BIGINT) AS bucket_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY bucket_start, event_type
    """,
)
def q16(spark, sf):
    """Tumbling event-time window (streaming-shaped agg in batch form)."""
    return (
        _t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@_q(
    "q17_conditional_agg",
    """
    SELECT n_name,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
           CAST(SUM(CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
           COUNT(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q17(spark, sf):
    """CASE WHEN conditional aggregation over a broadcast join."""
    c = _t(spark, sf, "customer")
    n = F.broadcast(_t(spark, sf, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).cast("long").alias("n_negative"),
            F.sum(F.when(F.col("c_acctbal") >= 5000, 1).otherwise(0)).cast("long").alias("n_rich"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "q18_lse_pooling",
    """
    SELECT l_returnflag,
           ROUND(m + LN(SUM(EXP(l_discount - m))), 6) AS pooled_score
    FROM (SELECT l_returnflag, l_discount,
                 MAX(l_discount) OVER (PARTITION BY l_returnflag) AS m
          FROM lineitem)
    GROUP BY l_returnflag, m
    """,
)
def q18(spark, sf):
    """A2: the paper's defining log-sum-exp pooling, relational + stable
    (max-shifted), replayed here over lineitem so DuckDB can oracle it."""
    scores = _t(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_discount").alias("score")
    )
    pooled = lse_pool(scores, ["l_returnflag"], "score")
    return pooled.select("l_returnflag", F.round("pooled_score", 6).alias("pooled_score"))


# =========================================================================
# §2 KG-pipeline twins over the driver `documents` table — the relational
# skeleton of the flagship DAG (detection → pairs → label → hypernym →
# dedup → sweep → eval), each DuckDB-oracle-checked. The model forward pass
# (P1/P2) is the only non-SQL stage and is covered by rows-only entries +
# pytest goldens.
# =========================================================================

def _chem_idx(w: str) -> int:
    return PLAIN_CHEMICALS.index(w)


def _dis_idx(w: str) -> int:
    return PLAIN_DISEASES.index(w)


_DIM_VALUES = ", ".join(
    [f"('{w}', 'KC{i:04d}', 'Chemical')" for i, w in enumerate(PLAIN_CHEMICALS)]
    + [f"('{w}', 'KD{i:04d}', 'Disease')" for i, w in enumerate(PLAIN_DISEASES)]
)
_ANC_PAIRS = [
    (f"KC{_chem_idx(c):04d}", f"KC{_chem_idx(p):04d}")
    for c, p in PLAIN_PARENTS.items()
    if c in PLAIN_CHEMICALS
] + [
    (f"KD{_dis_idx(c):04d}", f"KD{_dis_idx(p):04d}")
    for c, p in PLAIN_PARENTS.items()
    if c in PLAIN_DISEASES
]
_ANC_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in _ANC_PAIRS)

# shared CTE chain: detection → entity sets → pairs → pseudo-gold labels →
# deterministic pseudo-scores (pure arithmetic — identical in both engines)
_PIPE_CTES = f"""
  dim(surface, mesh_id, type) AS (VALUES {_DIM_VALUES}),
  w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
  mention AS (SELECT w.doc_id, dim.mesh_id, dim.type, COUNT(*) AS n_mentions
              FROM w JOIN dim ON w.word = dim.surface
              GROUP BY w.doc_id, dim.mesh_id, dim.type),
  ents AS (SELECT DISTINCT doc_id, mesh_id, type FROM mention),
  pairs AS (SELECT c.doc_id, c.mesh_id AS chem_mesh, d.mesh_id AS dis_mesh
            FROM ents c JOIN ents d ON c.doc_id = d.doc_id
            WHERE c.type = 'Chemical' AND d.type = 'Disease'),
  labeled AS (SELECT doc_id, chem_mesh, dis_mesh,
                CASE WHEN (doc_id * 31
                           + CAST(substr(chem_mesh, 3) AS INT) * 7
                           + CAST(substr(dis_mesh, 3) AS INT)) % 10 < 3
                     THEN 1 ELSE 0 END AS label
              FROM pairs),
  scored AS (SELECT *,
                ((doc_id * 13
                  + CAST(substr(chem_mesh, 3) AS INT) * 5
                  + CAST(substr(dis_mesh, 3) AS INT) * 3) % 200) / 10.0 - 10.0
                AS s
             FROM labeled)
"""

_LABEL_EXPR = (
    "CAST(CASE WHEN (doc_id * 31 + CAST(substring(chem_mesh, 3, 10) AS INT) * 7"
    " + CAST(substring(dis_mesh, 3, 10) AS INT)) % 10 < 3 THEN 1 ELSE 0 END AS INT)"
)
_SCORE_EXPR = (
    "CAST(((doc_id * 13 + CAST(substring(chem_mesh, 3, 10) AS INT) * 5"
    " + CAST(substring(dis_mesh, 3, 10) AS INT) * 3) % 200) / 10.0 - 10.0 AS DOUBLE)"
)


def _plain_dim(spark) -> DataFrame:
    from bran_spark.sources.interleave import plain_mesh_dict

    return plain_mesh_dict(spark).select(
        F.explode("synonyms").alias("surface"), "mesh_id", "type"
    )


def _detected(spark, sf) -> DataFrame:
    """Detection twin: word explode ⋈ broadcast surface dim (J4/S1 shape)."""
    w = _t(spark, sf, "documents").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    dim = F.broadcast(_plain_dim(spark))
    return w.join(dim, w.word == dim.surface)


def _pairs(spark, sf) -> DataFrame:
    """Within-doc pair generation as ONE corpus scan + ONE shuffle:
    collect per-doc chemical/disease entity sets in a single aggregation,
    then cross them row-locally with two explodes — no self-join, no second
    scan. At 10^12 docs this halves the scan and removes the SMJ entirely."""
    per_doc = (
        _detected(spark, sf)
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.collect_list(F.when(F.col("type") == "Chemical", F.col("mesh_id")))
            ).alias("chems"),
            F.array_distinct(
                F.collect_list(F.when(F.col("type") == "Disease", F.col("mesh_id")))
            ).alias("diss"),
        )
    )
    return per_doc.select(
        "doc_id", F.explode("chems").alias("chem_mesh"), "diss"
    ).select("doc_id", "chem_mesh", F.explode("diss").alias("dis_mesh"))


def _labeled(spark, sf) -> DataFrame:
    return _pairs(spark, sf).withColumn("label", F.expr(_LABEL_EXPR))


def _scored(spark, sf) -> DataFrame:
    return _labeled(spark, sf).withColumn("s", F.expr(_SCORE_EXPR))


@_q(
    "q19_mention_detection",
    f"WITH {_PIPE_CTES} SELECT doc_id, mesh_id, type, n_mentions FROM mention",
)
def q19(spark, sf):
    """S1/J4 twin: dictionary mention detection as a broadcast hash join."""
    return (
        _detected(spark, sf)
        .groupBy("doc_id", "mesh_id", "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


@_q(
    "q20_pair_generation",
    f"WITH {_PIPE_CTES} SELECT doc_id, chem_mesh, dis_mesh FROM pairs",
)
def q20(spark, sf):
    """J1 twin: within-doc chemical × disease candidate pairs."""
    return _pairs(spark, sf)


@_q(
    "q21_gold_label_join",
    f"WITH {_PIPE_CTES} SELECT doc_id, chem_mesh, dis_mesh, label FROM labeled",
)
def q21(spark, sf):
    """J2 twin: pseudo-gold labeling (deterministic arithmetic gold set)."""
    return _labeled(spark, sf)


@_q(
    "q22_hypernym_anti_join",
    f"""
    WITH {_PIPE_CTES},
    anc(mesh_id, ancestor) AS (VALUES {_ANC_VALUES}),
    positives AS (SELECT * FROM labeled WHERE label = 1),
    shadowed AS (SELECT DISTINCT p.doc_id, p.chem_mesh, a.ancestor AS dis_mesh
                 FROM positives p JOIN anc a ON p.dis_mesh = a.mesh_id),
    kept_neg AS (SELECT n.* FROM labeled n
                 WHERE n.label = 0 AND NOT EXISTS (
                   SELECT 1 FROM shadowed s
                   WHERE s.doc_id = n.doc_id AND s.chem_mesh = n.chem_mesh
                     AND s.dis_mesh = n.dis_mesh))
    SELECT * FROM positives UNION ALL SELECT * FROM kept_neg
    """,
)
def q22(spark, sf):
    """J3 twin: hypernym-shadowed negative removal (filter_hypernyms.py
    semantics) via broadcast ancestor closure + left-anti join."""
    labeled = _labeled(spark, sf)
    anc = F.broadcast(
        spark.createDataFrame(_ANC_PAIRS, "mesh_id string, ancestor string")
    )
    positives = labeled.where(F.col("label") == 1)
    shadowed = (
        positives.join(anc, positives.dis_mesh == anc.mesh_id)
        .select("doc_id", "chem_mesh", F.col("ancestor").alias("dis_mesh"))
        .dropDuplicates()
    )
    kept_neg = labeled.where(F.col("label") == 0).join(
        shadowed, ["doc_id", "chem_mesh", "dis_mesh"], "left_anti"
    )
    return positives.unionByName(kept_neg)


@_q(
    "q23_triple_dedup_support",
    f"""
    WITH {_PIPE_CTES}
    SELECT chem_mesh, dis_mesh,
           COUNT(DISTINCT doc_id) AS support, COUNT(*) AS n
    FROM labeled WHERE label = 1
    GROUP BY chem_mesh, dis_mesh
    """,
)
def q23(spark, sf):
    """A5/P3 twin: triple dedup + support — Spark side uses the explicit
    two-phase SALTED distinct (hot-entity skew handling) and must agree
    bit-for-bit with DuckDB's plain COUNT(DISTINCT)."""
    pos = _labeled(spark, sf).where(F.col("label") == 1)
    support = salted_count_distinct(
        pos, ["chem_mesh", "dis_mesh"], "doc_id", buckets=16
    ).withColumnRenamed("distinct_count", "support")
    n = pos.groupBy("chem_mesh", "dis_mesh").agg(F.count(F.lit(1)).alias("n"))
    return support.join(n, ["chem_mesh", "dis_mesh"])


_SWEEP_GRID_SQL = "unnest(list_transform(range(-100, 101, 5), i -> i / 10.0))"


@_q(
    "q24_threshold_sweep",
    f"""
    WITH {_PIPE_CTES},
    grid AS (SELECT {_SWEEP_GRID_SQL} AS theta),
    perf AS (
      SELECT theta,
             CAST(SUM(CASE WHEN s >= theta AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s >= theta AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s <  theta AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored, grid GROUP BY theta),
    f AS (SELECT theta,
                 CAST(CASE WHEN 2*tp+fp+fn = 0 THEN 0.0
                      ELSE 2.0*tp/(2*tp+fp+fn) END AS DOUBLE) AS f1
          FROM perf)
    SELECT ROUND(theta, 6) AS theta, ROUND(f1, 6) AS f1
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY f1 DESC, theta ASC) AS rn FROM f)
    WHERE rn = 1
    """,
)
def q24(spark, sf):
    """W2 twin: dev threshold sweep argmax over a fixed θ grid."""
    scores = _scored(spark, sf).select(
        F.col("s").alias("pooled_score"), "label"
    )
    grid = [i / 10.0 for i in range(-100, 101, 5)]
    best = sweep_threshold(scores, grid=grid)
    return best.select(
        F.round("theta", 6).alias("theta"), F.round("f1", 6).alias("f1")
    )


@_q(
    "q25_eval_prf",
    f"""
    WITH {_PIPE_CTES}
    SELECT tp, fp, fn,
           CAST(CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp/(tp+fp) END AS DOUBLE) AS precision,
           CAST(CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp/(tp+fn) END AS DOUBLE) AS recall,
           CAST(CASE WHEN 2*tp+fp+fn = 0 THEN 0.0 ELSE 2.0*tp/(2*tp+fp+fn) END AS DOUBLE) AS f1
    FROM (SELECT CAST(SUM(CASE WHEN s >= 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN s >= 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN s <  0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM scored)
    """,
)
def q25(spark, sf):
    """J6/J7/A4 twin: micro P/R/F1 of thresholded predictions vs pseudo-gold,
    via the real confusion() operator (single union+marker aggregation)."""
    from bran_spark.operators.evaluate import confusion

    scored = _scored(spark, sf)
    predicted = scored.where(F.col("s") >= 0).select("doc_id", "chem_mesh", "dis_mesh")
    gold = scored.where(F.col("label") == 1).select("doc_id", "chem_mesh", "dis_mesh")
    return confusion(predicted, gold)


@_q(
    "q26_char_align",
    f"""
    WITH dim(surface, mesh_id, type) AS (VALUES {_DIM_VALUES})
    SELECT doc_id, mesh_id,
           strpos(lower(text), surface) AS char_pos,
           CAST(len(string_split(substr(lower(text), 1, strpos(lower(text), surface) - 1), ' ')) - 1 AS INT) AS word_idx
    FROM documents, dim
    WHERE strpos(lower(text), surface) > 0
    """,
)
def q26(spark, sf):
    """X2/J5 twin: char-offset → word-index alignment arithmetic (first
    occurrence per keyword per doc)."""
    docs = _t(spark, sf, "documents")
    dim = F.broadcast(_plain_dim(spark).select("surface", "mesh_id"))
    j = docs.crossJoin(dim).withColumn(
        "char_pos", F.expr("locate(surface, lower(text))")
    )
    return j.where(F.col("char_pos") > 0).select(
        "doc_id",
        "mesh_id",
        "char_pos",
        (
            F.size(F.split(F.expr("substring(lower(text), 1, char_pos - 1)"), " ")) - 1
        ).cast("int").alias("word_idx"),
    )


# =========================================================================
# §3 Training-data pipeline operators over documents/embeddings — dedup
# family, similarity search, text analysis (first-class at 100 TB scale).
# =========================================================================

_WORDS_RE_SQL = "string_split_regex(trim(lower(text)), ' +')"
_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


@_q(
    "q27_dedup_exact",
    """
    SELECT md5(text) AS content_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def q27(spark, sf):
    """Exact dedup: one shuffle on the content hash, min-id survivor."""
    return exact_dedup_groups(_t(spark, sf, "documents"), "doc_id", "text")


_SHINGLE_SQL = (
    "list_transform(range(greatest(len(ws) - {n}, 0) + 1),"
    " i -> array_to_string(list_slice(ws, i + 1, i + {n}), ' '))"
)


@_q(
    "q28_dedup_ngram_jaccard",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM wl),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 30),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
               FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           ROUND(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.1
    """,
)
def q28(spark, sf):
    """n-gram Jaccard near-dup with df-cut skew bound (inverted-index join).

    NOTE: Spark shingles() splits on the lowercased raw text with the regex
    split in functions.text.words; the oracle mirrors with string_split on
    single space — the driver corpus is single-spaced so both agree."""
    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", n=3, min_jaccard=0.1, max_df=30
    )


@_q(
    "q29_dedup_minhash_lsh",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=4)})) AS shingle
           FROM wl),
    banded AS (SELECT doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(4)) AS band)),
    sig AS (SELECT doc_id, band, MIN(h) AS minhash FROM banded GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
                         AND a.doc_id < b.doc_id
    """,
)
def q29(spark, sf):
    """MinHash+LSH candidate pairs — md5-based signatures so DuckDB replays
    them; bucket equi-join, never an all-pairs product."""
    return minhash_lsh_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", n=4, bands=4, hash_fn="md5"
    )


_COS_SQL = (
    "list_dot_product(embedding::DOUBLE[], qv)"
    " / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(qv, qv)))"
)


@_q(
    "q30_sim_topk_cosine",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND({_COS_SQL}, 6) AS cos
    FROM embeddings, q WHERE vec_id != 0
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def q30(spark, sf):
    """Exact brute-force cosine top-k (ANN correctness baseline)."""
    return cosine_topk(_t(spark, sf, "embeddings"), query_id=0, k=10)


# Sign-LSH twins replay the CENTERED buckets (similarity.sign_bucket):
# each bit compares the coordinate to its corpus mean rounded to 6 dp —
# the rounding is what makes the threshold engine-reproducible (raw float
# avg differs between Spark and DuckDB in the last ulps).
def _means_cte_sql(dims: tuple[int, ...]) -> str:
    cols = ", ".join(
        f"ROUND(AVG(embedding[{d + 1}]), 6) AS m{d}" for d in sorted(set(dims))
    )
    return f"SELECT {cols} FROM embeddings"


# q31's single sign bucket (operators.similarity.lsh_bucket_topk dims)
_BUCKET_DIMS = (0, 7, 13, 21)
_BUCKET_MEANS_SQL = _means_cte_sql(_BUCKET_DIMS)
_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN embedding[{d + 1}] >= mm.m{d} THEN '1' ELSE '0' END"
    for d in _BUCKET_DIMS
) + ")"


def _band_key_sql(dims: tuple[int, ...]) -> str:
    bits = ", ".join(
        f"CASE WHEN embedding[{d + 1}] >= mm.m{d} THEN '1' ELSE '0' END"
        for d in dims
    )
    return f"concat({bits})"


_BAND_DIMS = tuple(sorted({d for dims in DEFAULT_SIGN_BANDS for d in dims}))
_BAND_MEANS_SQL = _means_cte_sql(_BAND_DIMS)
# consumers must define a CTE named mm as ({_BAND_MEANS_SQL})
_BANDED_KEYS_SQL = "\n      UNION ALL ".join(
    f"SELECT vec_id, {i} AS band, {_band_key_sql(dims)} AS key FROM embeddings, mm"
    for i, dims in enumerate(DEFAULT_SIGN_BANDS)
)


@_q(
    "q31_sim_ann_lsh",
    f"""
    WITH mm AS ({_BUCKET_MEANS_SQL}),
    v AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings, mm),
    q AS (SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket FROM v WHERE vec_id = 0)
    SELECT vec_id, ROUND({_COS_SQL}, 6) AS cos
    FROM v, q WHERE vec_id != 0 AND bucket = qbucket
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def q31(spark, sf):
    """Approximate top-k: sign-pattern LSH bucket restriction (scan prune)."""
    return lsh_bucket_topk(_t(spark, sf, "embeddings"), query_id=0, k=10)


@_q(
    "q32_quality_score",
    f"""
    SELECT doc_id,
           CAST(len({_WORDS_RE_SQL}) AS INT) AS n_tokens,
           ROUND(0.4 * least(len({_WORDS_RE_SQL}) / 100.0, 1.0)
               + 0.3 * least(10.0 * len(list_filter({_WORDS_RE_SQL},
                              x -> list_contains({_STOP_SQL}, x)))
                              / greatest(len({_WORDS_RE_SQL}), 1), 1.0)
               + 0.3 * (1.0 - least(5.0 * len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                              / greatest(length(text), 1), 1.0)) + 1e-9, 4) AS quality
    FROM documents
    """,
)
def q32(spark, sf):
    """Document quality scoring (length/stopword/punct heuristics)."""
    # +1e-9 before rounding on BOTH sides: quality is low-entropy rational
    # arithmetic, so exact decimal ties at the 4th place occur and Spark
    # (HALF_UP on the binary expansion) and DuckDB (round of the shortest
    # decimal repr) break them differently.
    return _t(spark, sf, "documents").select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        F.round(quality_score("text") + F.lit(1e-9), 4).alias("quality"),
    )


@_q(
    "q33_token_stats",
    f"""
    SELECT lang,
           CAST(SUM(len({_WORDS_RE_SQL})) AS BIGINT) AS n_tokens,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q33(spark, sf):
    """Corpus token statistics per language tag."""
    return (
        _t(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.sum(token_count("text")).cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@_q(
    "q34_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_WORDS_RE_SQL})), ' ')) AS fp
    FROM documents
    """,
)
def q34(spark, sf):
    """Bag-of-words document fingerprint (md5 over sorted distinct tokens)."""
    return _t(spark, sf, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


@_q(
    "q35_embedding_neardup",
    f"""
    WITH mm AS ({_BAND_MEANS_SQL}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    k AS ({_BANDED_KEYS_SQL}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM k a JOIN k b ON a.band = b.band AND a.key = b.key
                               AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM (
      SELECT id_a, id_b,
             list_dot_product(va.ve, vb.ve)
               / (sqrt(list_dot_product(va.ve, va.ve))
                  * sqrt(list_dot_product(vb.ve, vb.ve))) AS cos
      FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)
    WHERE cos >= 0.3
    """,
)
def q35(spark, sf):
    """Embedding-cosine near-dup with banded sign-LSH prefilter (OR over
    4 bands of 6 sign bits — bounded per-bucket fan-out, banding recall)."""
    return embedding_neardup_pairs(
        _t(spark, sf, "embeddings"), min_cos=0.3
    )


_LANG_CNT_SQL = {
    lang: (
        f"len(list_filter({_WORDS_RE_SQL}, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in markers)
        + "], x)))"
    )
    for lang, markers in __import__(
        "bran_spark.functions.text", fromlist=["LANG_MARKERS"]
    ).LANG_MARKERS.items()
}


@_q(
    "q36_lang_id",
    f"""
    SELECT doc_id,
           CASE WHEN {_LANG_CNT_SQL['de']} > greatest({_LANG_CNT_SQL['en']}, {_LANG_CNT_SQL['es']}) THEN 'de'
                WHEN {_LANG_CNT_SQL['es']} > {_LANG_CNT_SQL['en']} THEN 'es'
                WHEN {_LANG_CNT_SQL['en']} > 0 THEN 'en'
                ELSE 'und' END AS lang_guess
    FROM documents
    """,
)
def q36(spark, sf):
    """Marker-word language-ID heuristic."""
    return _t(spark, sf, "documents").select(
        "doc_id", lang_id("text").alias("lang_guess")
    )


@_q(
    "q37_salted_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_count
    FROM events GROUP BY event_type
    """,
)
def q37(spark, sf):
    """P3: explicit two-phase salted COUNT(DISTINCT) vs the oracle's plain
    one — exactness of the salt decomposition is the property under test."""
    return salted_count_distinct(
        _t(spark, sf, "events"), ["event_type"], "user_id", buckets=16
    )


# =========================================================================
# §4 Rows-only entries (no SQL twin): model forward pass, hash-specific and
# UDF-based stages — the driver records a weaker rows-only check; full
# verification lives in pytest (golden triples, invariants).
# =========================================================================

def _fixture_sf_for(sf_dir: str) -> float:
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.001


@_q("kg_triples_plain")
def kg_triples_plain(spark, sf):
    """Flagship KG pipeline over the driver's plain documents table:
    interleave → BPE → detect → encode/score (mapInPandas) → LSE → triples."""
    from bran_spark.plans.pipeline import flagship_plain

    return flagship_plain(spark, sf)


@_q("kg_triples_fixture")
def kg_triples_fixture(spark, sf):
    """Flagship KG pipeline on the seeded CDR-shaped fixture corpus at the
    matching scale (the honest reproduction of the reference task)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.plans.pipeline import flagship

    s = _fixture_sf_for(sf)
    ensure(s)
    return flagship(spark, fixture_dir(s))


# The fixture-corpus oracle twins read the deterministic (seed=42) fixture
# parquet directly via read_parquet — the driver compares at sf=0.01, and the
# queries() side runs first (ensure() materializes the files before DuckDB
# reads them). full_text replay relies on spans being stored in offset order
# (they are, by construction — verified: 0 out-of-order docs at sf0.01).
_FX01 = __import__(
    "bran_spark.fixtures.gen", fromlist=["fixture_dir"]
).fixture_dir(0.01)

_FX_MENTIONS_SQL = f"""
    WITH d AS (SELECT doc_id,
                 array_to_string(list_transform(
                   list_filter(spans, s -> s.text <> ''), s -> s.text), ' ') AS ft
               FROM read_parquet('{_FX01}/documents_interleaved.parquet')),
    w AS (SELECT doc_id, unnest(regexp_extract_all(lower(ft), '[a-z0-9]+')) AS word
          FROM d),
    s AS (SELECT unnest(synonyms) AS surface, mesh_id, type, canonical_name
          FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    m AS (SELECT w.doc_id, s.type, s.mesh_id, w.word AS text, s.canonical_name
          FROM w JOIN s ON w.word = s.surface)
"""


@_q(
    "kg_mentions_fixture",
    _FX_MENTIONS_SQL + "SELECT * FROM m",
)
def kg_mentions_fixture(spark, sf):
    """Detection+linking stage output on the fixture corpus (D3/J4),
    projected to the columns DuckDB can replay exactly (one row per matched
    word occurrence). Char offsets / mention_id are regex-match positions —
    not SQL-expressible — and stay covered by q19/q26 + the golden tests."""
    return _fx_mentions(spark, sf).select(
        "doc_id", "type", "mesh_id", "text", "canonical_name"
    )


@_q("simhash_docs")
def simhash_docs(spark, sf):
    """SimHash signatures (xxhash64-based — no DuckDB twin by design)."""
    return simhash(_t(spark, sf, "documents"), "doc_id", "text")


@_q(
    "q38_vocab_topn",
    """
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    GROUP BY word ORDER BY freq DESC, word LIMIT 20
    """,
)
def q38(spark, sf):
    """A1+O1: corpus vocabulary count + deterministic top-N (the vocab/BPE
    construction scan of the reference's processing, SURVEY.md §2 A1)."""
    return (
        _t(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


@_q(
    "q39_minhash_signatures",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=4)})) AS shingle
           FROM wl),
    banded AS (SELECT doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(4)) AS band))
    SELECT doc_id, band, MIN(h) AS minhash FROM banded GROUP BY doc_id, band
    """,
)
def q39(spark, sf):
    """MinHash signature rows themselves (md5-replayable) — verifies the
    signature math independently of the LSH pair join (q29)."""
    from bran_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(
        _t(spark, sf, "documents"), "doc_id", "text", n=4, bands=4, hash_fn="md5"
    )
    return sig.select(F.col("id").alias("doc_id"), F.col("band").cast("long"), "minhash")


@_q("media_features_fixture")
def media_features_fixture(spark, sf):
    """Multimodal plumbing on the fixture corpus: media spans → payload →
    Arrow-batched feature extraction (decode stubbed; rows-only check).

    The feature vector is posexploded to scalar (dim_idx, value) rows so the
    driver's canonicalizer can hash the output (array columns are not
    hashable there); tests/ keep the full-vector form."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.multimodal import (
        extract_media_features,
        fetch_media_payload,
        media_spans,
    )

    s = _fixture_sf_for(sf)
    ensure(s)
    docs = spark.read.parquet(f"{fixture_dir(s)}/documents_interleaved.parquet")
    feats = extract_media_features(fetch_media_payload(media_spans(docs)))
    return feats.select(
        "doc_id", "media_ref", "kind", "width", "height", "n_bytes",
        F.posexplode("feature").alias("dim_idx", "value"),
    ).withColumn("value", F.col("value").cast("double"))


def _le_u32_sql(i: int) -> str:
    """DuckDB expr: little-endian uint32 from bytes [4i, 4i+4) of the hex
    digest column ``h`` (nibble-parse via strpos, as q40's simhash does)."""
    terms = []
    for j in range(4):
        p = 2 * (4 * i + j)
        hi = f"(strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1)"
        lo = f"(strpos('0123456789abcdef', substr(h, {p + 2}, 1)) - 1)"
        terms.append(f"{256 ** j} * (16 * {hi} + {lo})")
    return " + ".join(terms)


_MEDIA_K_SQL = "CASE dim_idx " + " ".join(
    f"WHEN {i} THEN {_le_u32_sql(i)}" for i in range(8)
) + " END"


@_q(
    "q46_media_features",
    f"""
    WITH m AS (SELECT doc_id::VARCHAR AS doc_id, 'image' AS kind,
                      'blob://doc/' || doc_id::VARCHAR AS media_ref
               FROM documents),
    hx AS (SELECT doc_id, kind, media_ref, sha256(sha256(media_ref)) AS h FROM m),
    d AS (SELECT doc_id, kind, media_ref, dim_idx, {_MEDIA_K_SQL} AS k
          FROM hx, (SELECT unnest(range(8)) AS dim_idx))
    SELECT doc_id, media_ref, kind, CAST(64 AS INT) AS n_bytes,
           CAST(dim_idx AS INT) AS dim_idx,
           ((k / 4294967296.0)::FLOAT)::DOUBLE AS value
    FROM d
    """,
)
def q46(spark, sf):
    """Multimodal feature extraction, fully oracle-checked: every driver doc
    gets a deterministic media ref; the REAL operators (fetch_media_payload
    + mapInPandas extract_media_features) run, and DuckDB replays the stub
    digest math bit-exactly (sha256∘sha256, little-endian uint32 → float32).
    width/height are crc32-derived (no DuckDB twin) and stay out of the
    projection — they remain covered by the fixture entry and tests."""
    from bran_spark.operators.multimodal import (
        extract_media_features,
        fetch_media_payload,
    )

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("kind"),
        F.concat(F.lit("blob://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
    )
    feats = extract_media_features(fetch_media_payload(media))
    return feats.select(
        "doc_id", "media_ref", "kind", "n_bytes",
        F.posexplode("feature").alias("dim_idx", "value"),
    ).withColumn("value", F.col("value").cast("double"))


@_q(
    "kg_edges_fixture",
    _FX_MENTIONS_SQL + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    pairs AS (SELECT c.doc_id, c.mesh_id AS subj, d.mesh_id AS obj
              FROM ent c JOIN ent d ON c.doc_id = d.doc_id
              WHERE c.type = 'Chemical' AND d.type = 'Disease')
    SELECT subj, 'CID' AS pred, obj,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS support
    FROM pairs GROUP BY subj, obj
    """,
)
def kg_edges_fixture(spark, sf):
    """Canonical graph edges (A5 salted dedup + support) through the FULL
    DAG — detect → link → encode+score (mapInPandas) → LSE pool → triples →
    salted dedup — with θ = -inf so the edge STRUCTURE is score-independent
    and DuckDB can replay it exactly (co-occurrence pairs + distinct-doc
    support). The score path still executes; max_score (model output, no SQL
    twin) is projected away here and stays covered by the golden-triple
    tests; thresholded edges are exercised by kg_triples_fixture + q24."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.pooling import dedup_triples
    from bran_spark.plans.pipeline import flagship

    s = _fixture_sf_for(sf)
    ensure(s)
    return dedup_triples(
        flagship(spark, fixture_dir(s), theta=float("-inf"))
    ).select("subj", "pred", "obj", "support")


@_q("bpe_tokens_fixture")
def bpe_tokens_fixture(spark, sf):
    """X1 BPE tokenizer output distribution on the fixture corpus: token ->
    frequency (python-UDF stage — rows-only; exactness covered by the
    round-trip/offset pytest properties)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    s = _fixture_sf_for(sf)
    ensure(s)
    cfg = PipelineConfig(
        fixture_dir=fixture_dir(s), checkpoint_root="/tmp/bran_ckpt_q", checkpoint=False
    )
    toks = Pipeline(spark, cfg).tokenized()
    return (
        toks.select(F.explode("tokens").alias("t"))
        .groupBy(F.col("t.tok").alias("tok"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@_q(
    "q48_entity_degree",
    _FX_MENTIONS_SQL + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    pairs AS (SELECT DISTINCT c.mesh_id AS subj, d.mesh_id AS obj
              FROM ent c JOIN ent d ON c.doc_id = d.doc_id
              WHERE c.type = 'Chemical' AND d.type = 'Disease'),
    deg AS (SELECT subj AS entity, COUNT(DISTINCT obj) AS degree
            FROM pairs GROUP BY subj
            UNION ALL
            SELECT obj AS entity, COUNT(DISTINCT subj) AS degree
            FROM pairs GROUP BY obj)
    SELECT entity, CAST(SUM(degree) AS BIGINT) AS degree
    FROM deg GROUP BY entity
    """,
)
def q48(spark, sf):
    """Graph-materialization helper: per-entity distinct-neighbor degree,
    salted two-phase distinct (P3) on the hottest entities — over the full
    DAG's θ=-inf edge structure so DuckDB replays it exactly (same
    structural-twin rationale as kg_edges_fixture)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.pooling import entity_degree
    from bran_spark.plans.pipeline import flagship

    s = _fixture_sf_for(sf)
    ensure(s)
    return entity_degree(flagship(spark, fixture_dir(s), theta=float("-inf")))


@_q("ner_tags_fixture")
def ner_tags_fixture(spark, sf):
    """P4 joint NER head over the fixture corpus: per-token argmax tags from
    the SAME encoder pass the pair scorer uses (score_documents emit="ner").
    Model forward — rows-only check; bitwise parity vs local NumPy is pinned
    by tests/test_model.py::test_ner_head_matches_local_numpy."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.functions.bpe import full_text_col
    from bran_spark.model.scorer import score_documents
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    s = _fixture_sf_for(sf)
    ensure(s)
    cfg = PipelineConfig(
        fixture_dir=fixture_dir(s), checkpoint_root="/tmp/bran_ckpt_q", checkpoint=False
    )
    p = Pipeline(spark, cfg)
    # text in: the scorer tokenizes in its own Python pass
    docs = p._even_repartition(p.documents()).select(
        "doc_id", full_text_col("spans").alias("full_text")
    )
    return score_documents(docs, p.weights_bc(), emit="ner")


_SIMHASH_BITS = 16
_SIMHASH_SUMS = ",\n           ".join(
    f"SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) % 2 = 1"
    f" THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_PACK = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(_SIMHASH_BITS)
)


@_q(
    "q40_simhash_md5",
    f"""
    WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS w
               FROM documents),
    h AS (SELECT doc_id, md5(w) AS h FROM w),
    b AS (SELECT doc_id,
           {_SIMHASH_SUMS}
          FROM h GROUP BY doc_id)
    SELECT doc_id AS id, CAST({_SIMHASH_PACK} AS BIGINT) AS simhash FROM b
    """,
)
def q40(spark, sf):
    """SimHash, md5 bit source — the oracle-checked twin of the xxhash64
    simhash operator (identical plan shape: one groupBy shuffle, JVM-only
    expressions)."""
    from bran_spark.operators.dedup import simhash_md5

    return simhash_md5(_t(spark, sf, "documents"), "doc_id", "text")


@_q(
    "q41_asof_join",
    """
    WITH v AS (SELECT user_id, ts, MAX(value) AS view_value
               FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    p AS (SELECT event_id, user_id, ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
           v.ts AS view_ts, v.view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q41(spark, sf):
    """Backward as-of join: each purchase gets the user's most recent view
    at or before it (union + running-last window — one shuffle, no range
    explosion; DuckDB replays it with its native ASOF JOIN)."""
    from bran_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
        .select(
            "user_id",
            F.col("ts").alias("vts"),
            F.col("ts").alias("view_ts"),
            "view_value",
        )
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(purch, views, key="user_id", left_ts="ts", right_ts="vts")


@_q(
    "q42_sim_ivf",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    d AS (SELECT e.vec_id, e.v, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6) AS dist
          FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, cid AS cell FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d)
          WHERE rn = 1),
    q AS (SELECT v AS qv FROM a WHERE vec_id = 0),
    probe AS (SELECT c.cid AS cell FROM c, q
              ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(c.cv, q.qv)
                        + list_dot_product(q.qv, q.qv), 6), c.cid
              LIMIT 1)
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos
    FROM a, q, probe WHERE a.vec_id != 0 AND a.cell = probe.cell
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def q42(spark, sf):
    """IVF approximate nearest neighbors: coarse-quantize to the nearest of
    8 deterministic centroids (rounded-distance argmin, cid tie-break —
    matching _assign_cells), probe the query's nearest-centroid cell
    (partition-prunable at scale, vs q31's sign-LSH and q30's exact scan).
    Multi-probe (n_probe > 1) extends the probe CTE's LIMIT."""
    from bran_spark.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf, "embeddings"), query_id=0, k=10)


@_q(
    "q49_ivf_multiprobe",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    d AS (SELECT e.vec_id, e.v, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6) AS dist
          FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, cid AS cell FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d)
          WHERE rn = 1),
    q AS (SELECT v AS qv FROM a WHERE vec_id = 0),
    probe AS (SELECT c.cid AS cell FROM c, q
              ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(c.cv, q.qv)
                        + list_dot_product(q.qv, q.qv), 6), c.cid
              LIMIT 3)
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos
    FROM a, q WHERE a.vec_id != 0 AND a.cell IN (SELECT cell FROM probe)
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def q49(spark, sf):
    """Multi-probe IVF: scan the query's 3 nearest centroid cells — the
    recall/scan-cost dial of a production ANN service, no retraining."""
    from bran_spark.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf, "embeddings"), query_id=0, k=10, n_probe=3)


def _kmeans_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: assign to c{i} (rounded-dist argmin,
    cid tie-break), element-wise mean per cell → c{i+1}. Dim = 64 (the
    embeddings table; q46-style driver contract)."""
    return f"""
    d{i} AS (SELECT e.vec_id, e.v, c.cid,
              ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                    + list_dot_product(c.cv, c.cv), 6) AS dist
             FROM e CROSS JOIN c{i} c),
    a{i} AS (SELECT vec_id, v, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY dist, cid) AS rn FROM d{i})
             WHERE rn = 1),
    x{i} AS (SELECT cell, ix.dim AS dim, v[ix.dim] AS val
             FROM a{i}, (SELECT unnest(range(1, 65)) AS dim) ix),
    m{i} AS (SELECT cell, dim, AVG(val) AS m FROM x{i} GROUP BY cell, dim),
    c{i + 1} AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv
                 FROM m{i} GROUP BY cell)"""


@_q(
    "q47_kmeans_cells",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    {_kmeans_iter_sql(0)},
    {_kmeans_iter_sql(1)},
    df AS (SELECT e.vec_id, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                  + list_dot_product(c.cv, c.cv), 6) AS dist
           FROM e CROSS JOIN c2 c)
    SELECT vec_id, cell FROM
      (SELECT vec_id, cid AS cell,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       FROM df)
    WHERE rn = 1
    """,
)
def q47(spark, sf):
    """Distributed Lloyd k-means coarse quantization (2 iterations, k=8,
    deterministic lowest-id init) — the production IVF training step.
    Distances are rounded to 6 dp before the argmin on BOTH sides so
    float-summation-order jitter cannot flip boundary assignments."""
    from bran_spark.operators.similarity import kmeans_cells

    return kmeans_cells(_t(spark, sf, "embeddings"), k=8, iters=2).select(
        "vec_id", "cell"
    )


@_q(
    "q43_sessionize",
    """
    WITH o AS (SELECT user_id, ts, value,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
    m AS (SELECT user_id, ts, value,
            SUM(CASE WHEN prev IS NULL
                     OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM m GROUP BY user_id, sid
    """,
)
def q43(spark, sf):
    """Gap-based sessionization via Spark's native session_window (the same
    stateful operator Structured Streaming runs; 30-min gap). The DuckDB
    twin replays it with lag + cumulative-sum session ids."""
    from bran_spark.operators.sessions import sessionize

    return sessionize(_t(spark, sf, "events"))


@_q(
    "q44_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q44(spark, sf):
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`). At scale the approx_percentile sketch is
    the one-pass variant; the exact form is the oracle-checkable baseline."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "q45_window_funcs",
    """
    SELECT event_id, user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS value_quartile,
           ROUND(value - AVG(value) OVER (PARTITION BY user_id), 6) AS dev_from_user_mean
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q45(spark, sf):
    """Analytic window battery: lag/lead over event time, ntile quartiles,
    and a frame-free aggregate-over-partition — one shuffle on user_id,
    every function sharing the sort."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wv = W.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(wv).alias("value_quartile"),
        F.round(
            F.col("value") - F.avg("value").over(W.partitionBy("user_id")),
            6,
        ).alias("dev_from_user_mean"),
    )


# Shared CTE chain replaying q29's md5-MinHash-LSH candidate pairs, reused
# by the connected-components oracle below (DuckDB recursive CTE on top).
_MINHASH_PAIRS_CTES = f"""
    wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=4)})) AS shingle
           FROM wl),
    banded AS (SELECT doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(4)) AS band)),
    sig AS (SELECT doc_id, band, MIN(h) AS minhash FROM banded GROUP BY doc_id, band),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
                                   AND a.doc_id < b.doc_id)
"""


@_q(
    "q50_dedup_components",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    )
    SELECT node, MIN(lab) AS component FROM r GROUP BY node
    """,
)
def q50(spark, sf):
    """Duplicate-cluster resolution: connected components (alternating
    large-star/small-star, O(log² n) rounds) over the MinHash-LSH candidate
    pairs — the transitive closure the DuckDB twin computes with a
    recursive CTE. Output: (node, component=min reachable doc_id)."""
    from bran_spark.operators.components import connected_components

    pairs = minhash_lsh_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", n=4, bands=4, hash_fn="md5"
    )
    return connected_components(pairs)


@_q(
    "q51_dedup_cluster_stats",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, MIN(lab) AS component FROM r GROUP BY node)
    SELECT component, COUNT(*)::BIGINT AS n_docs, MIN(node) AS keep_id
    FROM cc GROUP BY component
    """,
)
def q51(spark, sf):
    """Per-cluster dedup summary (component, n_docs, keep_id): the table a
    corpus dedup job anti-joins against to drop non-survivors."""
    from bran_spark.operators.components import dedup_clusters

    pairs = minhash_lsh_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", n=4, bands=4, hash_fn="md5"
    )
    return dedup_clusters(pairs)


@_q(
    "q52_repetition_stats",
    """
    WITH wl AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    ws2 AS (SELECT doc_id, ws FROM wl WHERE len(ws) >= 2),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(len(ws) - 1),
                         i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
           FROM ws2),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
    topb AS (SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_bigram_frac
             FROM bc GROUP BY doc_id)
    SELECT w.doc_id, len(ws)::BIGINT AS n_words,
           ROUND(1 - len(list_distinct(ws))::DOUBLE / len(ws), 6) AS dup_word_frac,
           t.top_bigram_frac
    FROM ws2 w JOIN topb t USING (doc_id)
    """,
)
def q52(spark, sf):
    """Gopher-style repetition quality signals: duplicate-word fraction
    (array-only, shuffle-free) + top-bigram fraction (two-phase agg keyed by
    doc-prefixed bigram — skew-free by construction)."""
    from bran_spark.operators.quality import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"), "doc_id", "text")


# BM25 idf/tf-saturation formula shared by the q53 twin (Lucene form).
# Two query terms only: a two-operand float sum is order-insensitive in
# IEEE-754, so Spark's and DuckDB's aggregation orders cannot diverge.
_BM25_TERMS = ("data", "dup")

# Named so downstream ranking-eval twins (q181/q182/q184/q185) can nest
# the exact same scores / top-10 as subqueries — the cut stays
# byte-identical to q53's. _BM25_SCORES_SQL is the un-truncated score
# table; _BM25_TOPK_SQL adds the top-10 cut.
_BM25_SCORES_SQL = f"""
    WITH wl AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    base AS (SELECT doc_id, len(ws)::DOUBLE AS dl, ws FROM wl),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM base),
    tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM base),
    tf AS (SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM tok
           WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}')
           GROUP BY doc_id, dl, term),
    dft AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term)
    SELECT doc_id,
           ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
    FROM tf JOIN dft USING (term), stats
    GROUP BY doc_id
    """

_BM25_TOPK_SQL = _BM25_SCORES_SQL + """
    ORDER BY score DESC, doc_id LIMIT 10
    """


@_q("q53_bm25_search", _BM25_TOPK_SQL)
def q53(spark, sf):
    """BM25 keyword search: query-term-filtered tf pass (doc-prefixed keys,
    skew-free), broadcast df + corpus stats, TakeOrdered top-k."""
    from bran_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), list(_BM25_TERMS), k=10)


@_q(
    "q54_token_packing",
    """
    WITH t AS (SELECT doc_id AS id,
                      len(string_split(trim(lower(text)), ' '))::BIGINT AS n_tokens
               FROM documents),
    o AS (SELECT id, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (ORDER BY id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)::BIGINT AS "offset"
          FROM t)
    SELECT id, n_tokens, "offset",
           CAST(floor("offset" / 512.0) AS BIGINT) AS bin_id
    FROM o
    """,
)
def q54(spark, sf):
    """Token-budget sequence packing via DISTRIBUTED prefix sum (range
    partition + per-partition window + broadcast partition offsets) — the
    oracle's single global window is exactly the single-task bottleneck the
    operator avoids."""
    from bran_spark.functions.text import token_count
    from bran_spark.operators.packing import pack_token_bins

    docs = _t(spark, sf, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    return pack_token_bins(docs, "doc_id", "n_tok", budget=512)


@_q(
    "q55_ann_knn_join",
    f"""
    WITH mm AS ({_BAND_MEANS_SQL}),
    keys AS ({_BANDED_KEYS_SQL}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM keys a JOIN keys b
               ON a.band = b.band AND a.key = b.key AND a.vec_id != b.vec_id),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (SELECT id_a, id_b,
                      ROUND(list_dot_product(va.v, vb.v)
                            / (sqrt(list_dot_product(va.v, va.v))
                               * sqrt(list_dot_product(vb.v, vb.v))), 6) AS cos
               FROM cand
               JOIN v va ON va.vec_id = cand.id_a
               JOIN v vb ON vb.vec_id = cand.id_b)
    SELECT id_a, id_b, cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                                   ORDER BY cos DESC, id_b)::INT AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q55(spark, sf):
    """Batch ANN k-NN self-join: banded sign-LSH candidates, exact cosine,
    per-query window top-k on the ROUNDED score (engine-stable cut)."""
    from bran_spark.operators.similarity import ann_knn_join

    return ann_knn_join(_t(spark, sf, "embeddings"), k=5)


# =========================================================================
# §6 Graph analytics over the constructed KG + corpus curation (round 2)
# =========================================================================

_FX_PAIRS_SQL = _FX_MENTIONS_SQL + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    pairs AS (SELECT DISTINCT c.mesh_id AS subj, d2.mesh_id AS obj
              FROM ent c JOIN ent d2 ON c.doc_id = d2.doc_id
              WHERE c.type = 'Chemical' AND d2.type = 'Disease'),
    sym AS (SELECT subj AS u, obj AS v FROM pairs WHERE subj <> obj
            UNION
            SELECT obj AS u, subj AS v FROM pairs WHERE subj <> obj)
"""


# session-scoped memo of materialized fixture intermediates: ~10 graph/KG
# queries derive from the same mention stage; in one driver/bench session
# each would otherwise re-run detection+linking (~10-20 s each). Keyed by
# SparkSession identity so a stopped session's checkpoints are never reused.
_FX_MEMO: dict[tuple, DataFrame] = {}


def _fx_memo(spark, key: str, sf: float, build) -> DataFrame:
    # applicationId is unique per SparkContext — a restarted session never
    # sees a stopped context's checkpointed RDDs
    app = spark.sparkContext.applicationId
    k = (app, key, sf)
    if k not in _FX_MEMO:
        # evict entries from stopped sessions so a long-lived driver that
        # cycles SparkSessions doesn't accumulate dead DataFrame refs
        for stale in [mk for mk in _FX_MEMO if mk[0] != app]:
            del _FX_MEMO[stale]
        _FX_MEMO[k] = materialize(build())
    return _FX_MEMO[k]


def _fx_mentions(spark, sf) -> DataFrame:
    """Materialized mention-stage output for the fixture at this scale."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    s = _fixture_sf_for(sf)
    ensure(s)
    cfg = PipelineConfig(
        fixture_dir=fixture_dir(s), checkpoint_root="/tmp/bran_ckpt_q", checkpoint=False
    )
    return _fx_memo(
        spark, "mentions", s,
        lambda: Pipeline(spark, cfg).stage_mentions(resume=False),
    )


def _fx_entity_pairs(spark, sf) -> DataFrame:
    """Distinct (subj, obj) entity pairs of the fixture corpus — the
    θ=-inf edge structure of the constructed KG (same set q48 degrees are
    computed over), built relationally from the mention stage with the
    single-scan collect+explode pattern (no self-join, see _pairs)."""
    m = _fx_mentions(spark, sf)
    per_doc = m.groupBy("doc_id").agg(
        F.array_distinct(
            F.collect_list(F.when(F.col("type") == "Chemical", F.col("mesh_id")))
        ).alias("chems"),
        F.array_distinct(
            F.collect_list(F.when(F.col("type") == "Disease", F.col("mesh_id")))
        ).alias("diss"),
    )
    # materialized once: q56-q58/q64/q65 consume this small edge table from
    # multiple branches and iterative loops — without this the mention
    # pipeline upstream re-executes per branch
    return materialize(
        per_doc.select(F.explode("chems").alias("subj"), "diss")
        .select("subj", F.explode("diss").alias("obj"))
        .distinct()
    )


def _pr_iter_sql(iters: int, base: int) -> str:
    """Unrolled fixed-point PageRank iterations (exact integer math — see
    operators/graphalgo.py for why this is hash-exact across engines)."""
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""
    , c{i} AS (SELECT s.v AS u, CAST(SUM(r.rank // r.deg) AS BIGINT) AS sm
               FROM sym s JOIN r{i - 1} r ON s.u = r.u GROUP BY s.v),
    r{i} AS (SELECT dg.u, dg.deg,
                    CAST({base} + ((85 * COALESCE(c.sm, 0)) // 100) AS BIGINT) AS rank
             FROM deg dg LEFT JOIN c{i} c ON dg.u = c.u)""")
    return "".join(parts)


_PR_SCALE = 10**12
_PR_BASE = _PR_SCALE * 15 // 100


@_q(
    "q56_pagerank",
    _FX_PAIRS_SQL
    + f"""
    , deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    r0 AS (SELECT u, deg, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg)
    {_pr_iter_sql(5, _PR_BASE)}
    SELECT u AS entity, rank AS rank_fp FROM r5
    """,
)
def q56(spark, sf):
    """Entity centrality: 5 synchronous PageRank iterations over the
    symmetric KG edge list in fixed-point integer arithmetic (bit-exact
    across engines and partitionings — see graphalgo.pagerank_fixed_point).
    One shuffle per iteration, lineage truncated per round."""
    from bran_spark.operators.graphalgo import pagerank_fixed_point, symmetric_edges

    return pagerank_fixed_point(
        symmetric_edges(_fx_entity_pairs(spark, sf)), iters=5
    )


@_q(
    "q57_triangle_counts",
    _FX_PAIRS_SQL
    + """
    , pe AS (SELECT DISTINCT subj AS s, obj AS p FROM pairs),
    hotp AS (SELECT p FROM (SELECT p, COUNT(*) AS d FROM pe GROUP BY p) t
             WHERE d > 25),
    kept AS (SELECT s, p FROM pe WHERE p NOT IN (SELECT p FROM hotp)),
    proj AS (SELECT DISTINCT a.s AS u, b.s AS v
             FROM kept a JOIN kept b ON a.p = b.p WHERE a.s < b.s),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM proj e1
            JOIN proj e2 ON e2.u = e1.v
            JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v),
    roles AS (SELECT a AS entity FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
    SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM roles GROUP BY entity
    """,
)
def q57(spark, sf):
    """Per-entity triangle counts on the chemical co-occurrence projection
    (hot-pivot df-cut first — C(d,2)/C(d,3) blowup bound). The Spark side
    runs the degree-ordered orientation (O(m^1.5) wedge bound); the oracle
    runs the naive u<v formulation — per-node counts are
    orientation-independent, so they hash-match."""
    from bran_spark.operators.graphalgo import project_bipartite, triangle_counts

    proj = project_bipartite(_fx_entity_pairs(spark, sf), max_pivot_deg=25)
    return triangle_counts(proj)


def _bfs_sql(max_hops: int) -> str:
    parts = [
        """
    , seed AS (SELECT MIN(subj) AS u FROM pairs),
    d0 AS (SELECT u, 0 AS dist FROM seed)"""
    ]
    for h in range(1, max_hops + 1):
        prev_f = "d0" if h == 1 else f"f{h - 1}"
        parts.append(f"""
    , f{h} AS (SELECT DISTINCT e.v AS u FROM sym e JOIN {prev_f} t ON e.u = t.u
               WHERE e.v NOT IN (SELECT u FROM d{h - 1})),
    d{h} AS (SELECT u, dist FROM d{h - 1}
             UNION ALL SELECT u, {h} AS dist FROM f{h})""")
    return "".join(parts)


@_q(
    "q58_bfs_khop",
    _FX_PAIRS_SQL
    + _bfs_sql(4)
    + """
    SELECT u AS entity, CAST(dist AS INT) AS dist FROM d4
    """,
)
def q58(spark, sf):
    """4-hop BFS distances from the minimum chemical entity over the
    symmetric KG edges — frontier-only expansion, one shuffle per hop."""
    from bran_spark.operators.graphalgo import bfs_distances, symmetric_edges

    pairs = _fx_entity_pairs(spark, sf)
    seeds = pairs.agg(F.min("subj").alias("u"))
    return bfs_distances(symmetric_edges(pairs), seeds, max_hops=4)


@_q(
    "q59_tfidf_terms",
    """
    WITH wl AS (SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), ' +')) AS term
                FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wl GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (SELECT doc_id, term, tf, df,
                      ROUND(tf * ln(n.n_docs / df), 6) AS tfidf
               FROM tf JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS rk
               FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf
    FROM ranked WHERE rk <= 5
    """,
)
def q59(spark, sf):
    """Top-5 characteristic terms per document by tf·idf (corpus audit /
    topical labeling) — df derived from the tf table (no second scan),
    1-row N broadcast, per-doc window cut on the rounded score."""
    from bran_spark.operators.search import tfidf_top_terms

    t = tfidf_top_terms(_t(spark, sf, "documents"), k=5)
    return t.select(
        "doc_id", "term", F.col("tf").cast("long"), F.col("df").cast("long"), "tfidf"
    )


@_q(
    "q60_ngram_dup_stats",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=8)})) AS shingle
           FROM wl),
    dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    per AS (SELECT doc_id, COUNT(*) AS n_ngrams,
                   SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup
            FROM sh JOIN dfq USING (shingle) GROUP BY doc_id)
    SELECT doc_id AS id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
           CAST(n_dup AS BIGINT) AS n_dup,
           ROUND(n_dup * 1.0 / n_ngrams, 6) AS dup_frac
    FROM per
    """,
)
def q60(spark, sf):
    """Passage-level duplication profile: fraction of each doc's distinct
    8-grams that appear in at least one other doc (the ExactSubstr signal
    of Lee et al. 2022 at word-n-gram granularity)."""
    from bran_spark.operators.dedup import duplicated_ngram_stats

    return duplicated_ngram_stats(_t(spark, sf, "documents"), "doc_id", "text", n=8)


_SAMPLE_RATES = {"en": 0.1, "zh": 0.3, "es": 0.3, "de": 0.3, "fr": 0.3}
_HEXPOS = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
_SAMPLE_KEY_SQL = " + ".join(
    f"({_HEXPOS.format(i=i + 1)}) * {16 ** (3 - i)}" for i in range(4)
)
_SAMPLE_THR_SQL = "CASE " + " ".join(
    f"WHEN lang = '{s}' THEN {int(r * 65536)}"
    for s, r in sorted(_SAMPLE_RATES.items())
) + " ELSE 0 END"


@_q(
    "q61_stratified_sample",
    f"""
    WITH h AS (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS h FROM documents),
    k AS (SELECT doc_id, lang, CAST({_SAMPLE_KEY_SQL} AS BIGINT) AS sample_key
          FROM h)
    SELECT doc_id, lang, sample_key FROM k
    WHERE sample_key < {_SAMPLE_THR_SQL}
    """,
)
def q61(spark, sf):
    """Deterministic stratified sampling: keep 10% of English docs, 30% of
    each other language, keyed on md5(doc_id) — engine-portable, shuffle-free
    (pure projection + filter)."""
    from bran_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf, "documents"), "lang", _SAMPLE_RATES
    ).select("doc_id", "lang", "sample_key")


@_q(
    "q62_canonical_surface",
    _FX_MENTIONS_SQL
    + """
    , cnt AS (SELECT mesh_id, text, COUNT(*) AS n_mentions
              FROM m GROUP BY mesh_id, text),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY mesh_id
                                        ORDER BY n_mentions DESC, text) AS rk
           FROM cnt)
    SELECT mesh_id, text AS surface, CAST(n_mentions AS BIGINT) AS n_mentions
    FROM rk WHERE rk = 1
    """,
)
def q62(spark, sf):
    """Surface-form canonicalization: each entity's most frequent mention
    text (deterministic tie-break) — the dictionary-free half of J4."""
    from bran_spark.operators.linking import canonical_surface_forms

    return canonical_surface_forms(_fx_mentions(spark, sf)).select(
        "mesh_id", "surface", F.col("n_mentions").cast("long")
    )


def _fx_entity_incidence(spark, sf) -> DataFrame:
    """Distinct (doc_id, mesh_id, type) entity-incidence table of the
    fixture corpus (the `ent` CTE of the SQL twins)."""
    return (
        _fx_mentions(spark, sf)
        .select("doc_id", "mesh_id", "type")
        .distinct()
    )


@_q(
    "q63_cooccurrence_pmi",
    _FX_MENTIONS_SQL
    + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    a AS (SELECT doc_id, mesh_id AS subj FROM ent WHERE type = 'Chemical'),
    b AS (SELECT doc_id, mesh_id AS obj FROM ent WHERE type = 'Disease'),
    pc AS (SELECT subj, obj, COUNT(*) AS n_co
           FROM a JOIN b USING (doc_id) GROUP BY subj, obj),
    na AS (SELECT subj, COUNT(*) AS n_s FROM a GROUP BY subj),
    nb AS (SELECT obj, COUNT(*) AS n_o FROM b GROUP BY obj),
    dd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_docs FROM ent)
    SELECT subj, obj, CAST(n_co AS BIGINT) AS n_co,
           ROUND(ln((n_co * d_docs) / (n_s * n_o)), 6) AS pmi
    FROM pc JOIN na USING (subj) JOIN nb USING (obj) CROSS JOIN dd
    """,
)
def q63(spark, sf):
    """KG edge weighting: document-co-occurrence PMI per chemical-disease
    pair — pair counts via one doc-keyed join, marginals broadcast back,
    1-row D broadcast (graphalgo.cooccurrence_pmi)."""
    from bran_spark.operators.graphalgo import cooccurrence_pmi

    return cooccurrence_pmi(_fx_entity_incidence(spark, sf))


def _lpa_iter_sql(iters: int) -> str:
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""
    , nc{i} AS (SELECT e.u, l.label, COUNT(*) AS c
                FROM sym e JOIN l{i - 1} l ON e.v = l.u GROUP BY e.u, l.label),
    l{i} AS (SELECT u, label FROM (
               SELECT u, label,
                      ROW_NUMBER() OVER (PARTITION BY u
                                         ORDER BY c DESC, label) AS rk
               FROM nc{i}) t
             WHERE rk = 1)""")
    return "".join(parts)


@_q(
    "q64_label_propagation",
    _FX_PAIRS_SQL
    + """
    , l0 AS (SELECT DISTINCT u, u AS label FROM sym)
    """
    + _lpa_iter_sql(3)
    + """
    SELECT u AS entity, label FROM l3
    """,
)
def q64(spark, sf):
    """Community detection: 3 synchronous label-propagation rounds
    (plurality neighbor label, min tie-break — the deterministic
    distributed LPA formulation; see graphalgo.label_propagation)."""
    from bran_spark.operators.graphalgo import label_propagation, symmetric_edges

    return label_propagation(
        symmetric_edges(_fx_entity_pairs(spark, sf)), iters=3
    )


_HEX8_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
    for j in range(8)
)


@_q(
    "q65_negative_samples",
    _FX_PAIRS_SQL
    + f"""
    , pool AS (SELECT ent, ROW_NUMBER() OVER (ORDER BY ent) - 1 AS idx
               FROM (SELECT DISTINCT obj AS ent FROM pairs) t),
    npool AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pool),
    dr0 AS (SELECT subj, obj, i,
                   md5(subj || ':' || obj || ':' || CAST(i AS VARCHAR)) AS h
            FROM pairs CROSS JOIN (SELECT unnest(range(2)) AS i) z),
    drawn AS (SELECT subj, obj, i,
                     CAST({_HEX8_SQL} AS BIGINT) % (SELECT n FROM npool) AS idx
              FROM dr0),
    wneg AS (SELECT d.subj, d.obj, d.i, p.ent AS neg_obj
             FROM drawn d JOIN pool p USING (idx))
    SELECT w.subj, w.obj, CAST(w.i AS INT) AS i, w.neg_obj,
           CASE WHEN p2.subj IS NOT NULL THEN 1 ELSE 0 END AS is_collision
    FROM wneg w LEFT JOIN pairs p2
      ON p2.subj = w.subj AND p2.obj = w.neg_obj
    """,
)
def q65(spark, sf):
    """KG-training negative sampling: 2 deterministic corrupted-object
    negatives per positive pair, drawn md5(subj:obj:i) mod N from the
    ranked disease pool; accidental positives flagged, not dropped
    (sampling.negative_samples)."""
    from bran_spark.operators.sampling import negative_samples

    pairs = _fx_entity_pairs(spark, sf)
    return negative_samples(pairs, pairs.select("obj"), k=2)


def _closure_sql(max_depth: int) -> str:
    parts = [
        f"""
    WITH e AS (SELECT mesh_id AS child, unnest(parents) AS parent
               FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    a1 AS (SELECT child, parent, 1 AS depth FROM e)"""
    ]
    for d in range(2, max_depth + 1):
        parts.append(f"""
    , a{d} AS (SELECT a{d - 1}.child, e.parent, {d} AS depth
               FROM a{d - 1} JOIN e ON e.child = a{d - 1}.parent)""")
    union = " UNION ALL ".join(f"SELECT * FROM a{d}" for d in range(1, max_depth + 1))
    parts.append(f"""
    , allp AS ({union})
    SELECT child AS mesh_id, parent AS ancestor,
           CAST(MIN(depth) AS INT) AS depth
    FROM allp GROUP BY child, parent""")
    return "".join(parts)


@_q("q66_ancestor_closure", _closure_sql(6))
def q66(spark, sf):
    """Transitive MeSH ancestor closure with shortest depth — the full
    hierarchy expansion behind the hypernym filter (J3), level-synchronous
    BFS over the parent DAG (graphalgo.ancestor_closure). The oracle
    enumerates ALL bounded paths and takes MIN(depth) — identical result,
    quadratic path blowup the Spark side deliberately avoids."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.graphalgo import ancestor_closure

    s = _fixture_sf_for(sf)
    ensure(s)
    dict_df = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    edges = dict_df.select(
        F.col("mesh_id").alias("child"), F.explode("parents").alias("parent")
    )
    return ancestor_closure(edges, max_depth=6).select(
        F.col("child").alias("mesh_id"), "ancestor", "depth"
    )


# =========================================================================
# §7 Relational-surface completions (round 2): CDC merge, full outer,
#    pivot, cube
# =========================================================================


@_q(
    "q67_merge_latest",
    """
    WITH u AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'
               UNION ALL
               SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts DESC, event_id DESC) AS rk
           FROM u)
    SELECT event_id, user_id, event_type, ts, value
    FROM rk WHERE rk = 1
    """,
)
def q67(spark, sf):
    """CDC latest-wins merge (upsert compaction): base = events before a
    cutoff, updates = events after; one surviving row per
    (user_id, event_type) by greatest (ts, event_id)."""
    from bran_spark.operators.asof import merge_latest

    ev = _t(spark, sf, "events")
    base = ev.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    updates = ev.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
    return merge_latest(
        base, updates, keys=["user_id", "event_type"],
        order_col="ts", tiebreak="event_id",
    ).select("event_id", "user_id", "event_type", "ts", "value")


@_q(
    "q68_full_outer",
    """
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
               FROM customer GROUP BY c_nationkey),
    s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
          FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q68(spark, sf):
    """Full-outer join of two aggregates (the one join type the corpus
    lacked) with COALESCE null-repair on both sides."""
    c = (
        _t(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.nk == s.nk_s, "full_outer")
        .select(
            F.coalesce(c.nk, s.nk_s).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
        )
    )


_LANGS = ["de", "en", "es", "fr", "zh"]


@_q(
    "q69_pivot",
    "SELECT source, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END) AS BIGINT) AS {lg}"
        for lg in _LANGS
    )
    + " FROM documents GROUP BY source",
)
def q69(spark, sf):
    """Pivot: per-source document counts with one column per language —
    explicit value list, so the schema is static and the plan is a single
    partial-agg groupBy (pivot with inferred values would add a distinct
    scan)."""
    return (
        _t(spark, sf, "documents")
        .groupBy("source")
        .pivot("lang", _LANGS)
        .count()
        .select(
            "source", *[F.coalesce(F.col(lg), F.lit(0)).alias(lg) for lg in _LANGS]
        )
    )


@_q(
    "q70_cube",
    """
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def q70(spark, sf):
    """CUBE over (lang, source) — all four grouping levels in one pass
    (Catalyst expands to a single Expand + partial agg, not four scans)."""
    return (
        _t(spark, sf, "documents")
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )


@_q(
    "q71_approx_stats",
    """
    SELECT lang, TRUE AS docs_ok, TRUE AS p50_ok, TRUE AS p90_ok
    FROM documents GROUP BY lang
    """,
)
def q71(spark, sf):
    """Sketch-based corpus stats — approx_count_distinct (HyperLogLog++)
    and approx_percentile per language. The scale path for cardinality /
    quantiles at 10^12 rows (exact distinct = a full shuffle; the sketch is
    one partial-agg pass, mergeable across partitions).

    TOLERANCE-BANDED oracle (r4, VERDICT r3 #7): raw sketch estimates are
    implementation-specific, so the twin cannot replay them — instead the
    registry wrapper computes the approx AND exact aggregates side by side
    and emits per-lang contract booleans (HLL++ cardinality within ±5% of
    exact at rsd=0.02; each approx percentile inside the exact
    [p-0.05, p+0.05] rank band). The DuckDB twin emits constant TRUEs, so
    the driver's hash gate passes iff every sketch honors its documented
    tolerance — both sketches are deterministic for a fixed input, so the
    gate is stable, not flaky. The raw-value form of the operator stays
    exercised with the same 5% contract by tests/test_approx.py."""
    docs = _t(spark, sf, "documents")
    approx = docs.groupBy("lang").agg(
        F.approx_count_distinct("doc_id", rsd=0.02)
        .cast("double")
        .alias("approx_docs"),
        F.percentile_approx("n_chars", [0.5, 0.9], 10000).alias(
            "chars_p50_p90"
        ),
    )
    exact = docs.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("double").alias("exact_docs"),
        F.expr(
            "percentile(n_chars, array(0.45D, 0.55D, 0.85D, 0.95D))"
        ).alias("bands"),
    )
    return approx.join(exact, "lang").select(
        "lang",
        (
            F.abs(F.col("approx_docs") - F.col("exact_docs"))
            / F.col("exact_docs")
            <= 0.05
        ).alias("docs_ok"),
        F.col("chars_p50_p90")[0]
        .between(F.col("bands")[0], F.col("bands")[1])
        .alias("p50_ok"),
        F.col("chars_p50_p90")[1]
        .between(F.col("bands")[2], F.col("bands")[3])
        .alias("p90_ok"),
    )


_CHAR_SHINGLE_SQL = (
    "list_transform(range(greatest(length(s) - {n}, 0) + 1),"
    " i -> substr(s, i + 1, {n}))"
)


@_q(
    "q72_entity_name_neardup",
    f"""
    WITH nm AS (SELECT mesh_id, lower(canonical_name) AS s
                FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    sh AS (SELECT mesh_id,
                  unnest(list_distinct({_CHAR_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM nm),
    sizes AS (SELECT mesh_id, COUNT(*) AS n_sh FROM sh GROUP BY mesh_id),
    hot AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS c FROM sh
                                 GROUP BY shingle) t WHERE c > 200),
    kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    common AS (SELECT a.mesh_id AS id_a, b.mesh_id AS id_b, COUNT(*) AS common
               FROM kept a JOIN kept b
                 ON a.shingle = b.shingle AND a.mesh_id < b.mesh_id
               GROUP BY 1, 2),
    j AS (SELECT id_a, id_b,
                 common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
          FROM common
          JOIN sizes sa ON sa.mesh_id = id_a
          JOIN sizes sb ON sb.mesh_id = id_b)
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.4
    """,
)
def q72(spark, sf):
    """Entity-resolution candidates over the MeSH dictionary: pairs of
    entities with near-duplicate NAMES by char-trigram Jaccard (blocking
    via inverted trigram index + hot-trigram df-cut, exact verify) —
    linking.name_neardup_pairs."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.linking import name_neardup_pairs

    s = _fixture_sf_for(sf)
    ensure(s)
    d = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    return name_neardup_pairs(d)


@_q(
    "q73_udtf_sentences",
    r"""
    WITH p AS (SELECT doc_id,
                      string_split_regex(text, '[.!?]+|\ba\b') AS parts
               FROM documents),
    e AS (SELECT doc_id, unnest(range(len(parts))) AS i, parts FROM p)
    SELECT doc_id, CAST(i AS INT) AS sent_idx,
           trim(parts[i + 1]) AS sentence
    FROM e WHERE trim(parts[i + 1]) <> ''
    """,
)
def q73(spark, sf):
    """Python UDTF surface (§2.10): lateral sentence expansion — one row
    per non-empty segment with its raw split index. The UDTF exists to pin
    the procedural-row-expansion API; the DuckDB twin replays the identical
    regex split relationally."""
    from bran_spark.functions.text import make_sentence_udtf

    spark.udtf.register("split_sentences", make_sentence_udtf())
    _t(spark, sf, "documents").createOrReplaceTempView("q73_docs")
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.sentence "
        "FROM q73_docs, LATERAL split_sentences(text) s"
    )


@_q(
    "q74_dedup_survivors",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, MIN(lab) AS component FROM r GROUP BY node),
    keep AS (SELECT component, MIN(node) AS keep_id FROM cc GROUP BY component),
    drp AS (SELECT cc.node FROM cc JOIN keep ON cc.component = keep.component
            WHERE cc.node != keep.keep_id)
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM drp)
    """,
)
def q74(spark, sf):
    """END-TO-END corpus dedup: MinHash-LSH candidates → connected
    components → one survivor per cluster → anti-join the corpus. The
    composed flow a user actually runs (components.dedup_corpus)."""
    from bran_spark.operators.components import dedup_corpus

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=4, bands=4, hash_fn="md5")
    return dedup_corpus(docs, pairs).select("doc_id", "lang", "source")


@_q(
    "q75_funnel",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS conv_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase'
            AND e.ts >= v.first_view
            AND e.ts <= v.first_view + INTERVAL 1 HOUR
          GROUP BY e.user_id)
    SELECT v.user_id, v.first_view, p.conv_ts,
           CASE WHEN p.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS converted
    FROM v LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def q75(spark, sf):
    """Event-sequence funnel: first view per user → earliest purchase
    within 1 hour of it. Two keyed aggregations + one left join — the
    conversion-attribution primitive."""
    ev = _t(spark, sf, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(
            (F.col("ts") >= F.col("first_view"))
            & (F.col("ts") <= F.col("first_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    return v.join(p, "user_id", "left").select(
        "user_id",
        "first_view",
        "conv_ts",
        F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("converted"),
    )


@_q(
    "q76_cohort_retention",
    """
    WITH f AS (SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
               FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT e.user_id, f.cohort,
                   CAST(date_diff('day', f.cohort,
                        CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
                     AS week_offset
            FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT cohort, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort, week_offset
    """,
)
def q76(spark, sf):
    """Cohort retention: users bucketed by first-seen week, counted in each
    later active week — distinct (user, cohort, offset) then a two-phase
    count; the cohort matrix every usage dashboard needs."""
    ev = _t(spark, sf, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts").cast("date")).alias("cohort")
    )
    act = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("week", "ts").cast("date"), F.col("cohort"))
                / 7
            ).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@_q(
    "q77_spend_outliers",
    """
    WITH s AS (SELECT user_id, SUM(value) AS spend
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    st AS (SELECT AVG(spend) AS mu, STDDEV_SAMP(spend) AS sigma FROM s)
    SELECT user_id, ROUND(spend, 2) AS spend,
           ROUND((spend - mu) / sigma, 6) AS zscore,
           CASE WHEN ABS((spend - mu) / sigma) > 2 THEN 1 ELSE 0 END
             AS is_outlier
    FROM s CROSS JOIN st
    """,
)
def q77(spark, sf):
    """Anomaly flagging: per-user spend z-score against the corpus
    mean/stddev — one keyed aggregate + a 1-row stats broadcast, the
    standard data-quality outlier gate."""
    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    s = ev.groupBy("user_id").agg(F.sum("value").alias("spend"))
    st = s.agg(
        F.avg("spend").alias("mu"), F.stddev_samp("spend").alias("sigma")
    )
    z = (F.col("spend") - F.col("mu")) / F.col("sigma")
    return (
        s.crossJoin(F.broadcast(st))
        .select(
            "user_id",
            F.round("spend", 2).alias("spend"),
            F.round(z, 6).alias("zscore"),
            F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_outlier"),
        )
    )


@_q(
    "q78_weighted_sample",
    f"""
    WITH h AS (SELECT doc_id, lang, n_chars, md5(doc_id::VARCHAR) AS h
               FROM documents),
    k AS (SELECT doc_id, lang, n_chars,
                 ROUND(pow((CAST({_SAMPLE_KEY_SQL} AS BIGINT) + 1) / 65537.0,
                           1.0 / n_chars), 9) AS sample_key
          FROM h)
    SELECT doc_id, lang, sample_key FROM k
    ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
)
def q78(spark, sf):
    """Deterministic weighted sampling (Efraimidis-Spirakis A-Res, weight =
    n_chars): key = u^(1/w) from an md5-derived uniform, top-50 by key —
    TakeOrderedAndProject, never a full sort (sampling.weighted_sample)."""
    from bran_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _t(spark, sf, "documents"), "n_chars", k=50
    ).select("doc_id", "lang", "sample_key")


@_q(
    "q79_quantize_embeddings",
    """
    WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      GREATEST(list_max(list_transform(embedding::DOUBLE[],
                                                       x -> abs(x))), 1e-30) AS mx
               FROM embeddings),
    e AS (SELECT vec_id, mx, unnest(range(len(v))) AS dim_idx, v FROM m)
    SELECT vec_id, CAST(dim_idx AS INT) AS dim_idx,
           CAST(ROUND(v[dim_idx + 1] * 127.0 / mx) AS INT) AS qval,
           ROUND(mx / 127.0, 9) AS scale
    FROM e
    """,
)
def q79(spark, sf):
    """Int8 scalar quantization of the embedding store (4× compression):
    exact integer outputs, bit-identical across engines
    (similarity.quantize_embeddings)."""
    from bran_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(_t(spark, sf, "embeddings"))


_SESSION_CTES = """
    o AS (SELECT user_id, ts, value,
            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
    m AS (SELECT user_id, ts, value,
            SUM(CASE WHEN prev IS NULL
                     OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM m_src),
    sess AS (SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
             FROM m GROUP BY user_id, sid)
""".replace("m_src", "o")


@_q(
    "q80_session_busy_overlap",
    f"""
    WITH {_SESSION_CTES},
    busy AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                    COUNT(*) AS n
             FROM events GROUP BY 1 HAVING COUNT(*) >= 8)
    SELECT s.user_id, s.start_ts, b.window_start,
           CAST(b.n AS BIGINT) AS window_events
    FROM sess s JOIN busy b
      ON s.end_ts >= b.window_start
     AND s.start_ts < b.window_start + INTERVAL 1 HOUR
    """,
)
def q80(spark, sf):
    """Interval-overlap join as an equi-join: which user sessions overlap a
    'busy' hour (≥8 events corpus-wide)? Each session explodes into its
    covered hour buckets and equi-joins the busy-hour table — the
    range-join-to-equi-join rewrite that keeps this off the
    O(|A|·|B|) nested-loop path. Bucket match ⇔ overlap for hour-aligned
    windows: h ∈ [trunc(start), trunc(end)] ⟺ [start,end] ∩ [h,h+1h) ≠ ∅.
    The DuckDB twin runs the naive inequality join — identical rows."""
    from bran_spark.operators.sessions import bucketed_interval_join, sessionize

    ev = _t(spark, sf, "events")
    sess = sessionize(ev).select("user_id", "start_ts", "end_ts")
    busy = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("window_events"))
        .where(F.col("window_events") >= 8)
    )
    return bucketed_interval_join(sess, busy).select(
        "user_id", "start_ts", "window_start",
        F.col("window_events").cast("long"),
    )


@_q(
    "q81_snapshot_diff",
    """
    WITH base AS (SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE ts < TIMESTAMP '2024-01-16') t WHERE rk = 1),
    cur AS (SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events) t WHERE rk = 1),
    j AS (SELECT COALESCE(b.user_id, c.user_id) AS user_id,
                 COALESCE(b.event_type, c.event_type) AS event_type,
                 b.value AS old_value, c.value AS new_value,
                 b._in_old AS _in_old, c._in_new AS _in_new
          FROM (SELECT *, 1 AS _in_old FROM base) b
          FULL OUTER JOIN (SELECT *, 1 AS _in_new FROM cur) c
            ON b.user_id = c.user_id AND b.event_type = c.event_type)
    SELECT user_id, event_type,
           CASE WHEN _in_old IS NULL THEN 'added'
                WHEN _in_new IS NULL THEN 'removed'
                WHEN old_value IS DISTINCT FROM new_value THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_value, new_value
    FROM j
    WHERE (CASE WHEN _in_old IS NULL THEN 'added'
                WHEN _in_new IS NULL THEN 'removed'
                WHEN old_value IS DISTINCT FROM new_value THEN 'changed'
                ELSE 'unchanged' END) != 'unchanged'
    """,
)
def q81(spark, sf):
    """Snapshot reconciliation: keyed diff (added/removed/changed) between
    the latest-per-key state before a cutoff and now — one full-outer join,
    unchanged rows dropped in-line (asof.snapshot_diff)."""
    from pyspark.sql import Window as W

    from bran_spark.operators.asof import snapshot_diff

    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest(df):
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("user_id", "event_type", "value")
        )

    base = latest(ev.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp")))
    cur = latest(ev)
    return snapshot_diff(base, cur, ["user_id", "event_type"], "value")


@_q(
    "q82_scrub_text",
    r"""
    SELECT event_id,
           regexp_replace(regexp_replace(props, '[0-9]+', '<num>', 'g'),
                          '[0-9a-f]{8,}', '<hex>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_masked
    FROM events
    """,
)
def q82(spark, sf):
    """PII/noise scrubbing pass: mask digit runs (then hex runs) in the
    event payloads — chained JVM regexp_replace, plus a masked-hit count
    for the audit trail (functions.text.scrub_text)."""
    from bran_spark.functions.text import scrub_text

    return _t(spark, sf, "events").select(
        "event_id",
        scrub_text(
            "props", [("[0-9]+", "<num>"), ("[0-9a-f]{8,}", "<hex>")]
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), 0))
        .cast("int")
        .alias("n_masked"),
    )


def _kcore_sql(k: int, rounds: int) -> str:
    # MATERIALIZED: each e_i references e_{i-1} twice — without
    # materialization DuckDB inlines the whole upstream chain 2^rounds times
    parts = [
        """
    , e0 AS MATERIALIZED (SELECT u, v FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""
    , k{i} AS MATERIALIZED (SELECT u FROM (SELECT u, COUNT(*) AS d
                                           FROM e{i - 1} GROUP BY u) t
               WHERE d >= {k}),
    e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i - 1} e
             JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)""")
    parts.append(f"""
    SELECT u AS entity, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY u""")
    return "".join(parts)


@_q("q83_kcore", _FX_PAIRS_SQL + _kcore_sql(3, 8))
def q83(spark, sf):
    """3-core of the KG entity graph: iterative peel of degree<3 nodes to
    a fixed point (graphalgo.kcore) — the dense-region noise filter. The
    oracle unrolls 8 peel rounds; the Spark side may exit early at the
    fixed point (identical result — peeling is idempotent once stable)."""
    from bran_spark.operators.graphalgo import kcore, symmetric_edges

    return kcore(symmetric_edges(_fx_entity_pairs(spark, sf)), k=3, max_rounds=8)


@_q(
    "q84_user_trend_slope",
    """
    WITH p AS (SELECT user_id, epoch_us(ts) / 3600000000.0 AS x, value AS y
               FROM events WHERE event_type = 'purchase'),
    s AS (SELECT user_id, COUNT(*) AS n,
                 covar_pop(y, x) AS cxy, var_pop(x) AS vx
          FROM p GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           ROUND(cxy / vx, 6) AS slope_per_hour
    FROM s WHERE n >= 2 AND vx > 0
    """,
)
def q84(spark, sf):
    """Per-user purchase-value trend: OLS slope (covar_pop/var_pop) of
    value against event time in hours — one partial-agg pass. The
    applyInPandas grouped-map twin is equivalence-tested in
    tests/test_operators.py (the §2.10 grouped-map surface)."""
    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    p = ev.select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3.6e9).alias("x"),
        F.col("value").alias("y"),
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop("y", "x").alias("cxy"),
        F.var_pop("x").alias("vx"),
    )
    return (
        s.where((F.col("n") >= 2) & (F.col("vx") > 0))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("cxy") / F.col("vx"), 6).alias("slope_per_hour"),
        )
    )


@_q(
    "q85_sliding_window",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL 15 minutes, ts)
                      - k * INTERVAL 15 minutes) AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events, (SELECT unnest(range(4)) AS k) z
    GROUP BY window_start, event_type
    """,
)
def q85(spark, sf):
    """Sliding (hopping) event-time window — 1 h duration, 15 min slide:
    every event lands in exactly duration/slide = 4 windows (Catalyst plans
    the same Expand + partial agg a streaming sliding window uses). The
    oracle replays the window set with a 4-way bucket-offset expansion."""
    return (
        _t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def _walks_sql(n_walks: int, walk_len: int, as_cte: bool = False) -> str:
    parts = [
        f"""
    , adj AS MATERIALIZED (SELECT u, list_sort(list(DISTINCT v)) AS nbrs
                           FROM sym GROUP BY u),
    s0 AS (SELECT u AS start, w.walk_id, u AS cur
           FROM adj, (SELECT unnest(range({n_walks})) AS walk_id) w)"""
    ]
    for t in range(1, walk_len + 1):
        parts.append(f"""
    , p{t} AS (SELECT s.start, s.walk_id, a.nbrs,
                      md5(s.cur || ':' || s.walk_id || ':' || {t}) AS h
               FROM s{t - 1} s JOIN adj a ON a.u = s.cur),
    s{t} AS (SELECT start, walk_id,
                    nbrs[CAST(CAST({_HEX8_SQL} AS BIGINT) % len(nbrs) AS INT) + 1]
                      AS cur
             FROM p{t})""")
    union = " UNION ALL ".join(
        f"SELECT start, walk_id, {t} AS step, cur FROM s{t}"
        for t in range(0, walk_len + 1)
    )
    final = f"""
    SELECT start, CAST(walk_id AS INT) AS walk_id, CAST(step AS INT) AS step,
           cur AS node
    FROM ({union}) t"""
    if as_cte:
        parts.append(f"""
    , wk AS MATERIALIZED ({final})""")
    else:
        parts.append(final)
    return "".join(parts)


@_q("q86_deterministic_walks", _FX_PAIRS_SQL + _walks_sql(2, 3))
def q86(spark, sf):
    """Hash-driven random walks over the KG (DeepWalk corpus prep, made
    deterministic: next = sorted_neighbors[md5(cur:walk:step) mod deg]) —
    adjacency packed once, one equi-join per step
    (graphalgo.deterministic_walks)."""
    from bran_spark.operators.graphalgo import deterministic_walks, symmetric_edges

    return deterministic_walks(
        symmetric_edges(_fx_entity_pairs(spark, sf)), n_walks=2, walk_len=3
    )


@_q(
    "q87_data_contract",
    """
    SELECT 'unique:o_orderkey' AS rule,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_checked,
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'fk:l_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT)
    UNION ALL
    SELECT 'not_null:c_name',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
                 FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'range:l_quantity',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                                      OR l_quantity > 50
                                 THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT)
    """,
)
def q87(spark, sf):
    """Data-contract gate: uniqueness / referential-integrity / not-null /
    range rules reduced to (rule, n_checked, n_violations) rows — the
    pre-commit quality report (operators/contracts.py)."""
    from bran_spark.operators.contracts import (
        contract_report,
        rule_foreign_key,
        rule_in_range,
        rule_not_null,
        rule_unique,
    )

    orders = _t(spark, sf, "orders")
    lineitem = _t(spark, sf, "lineitem")
    customer = _t(spark, sf, "customer")
    return contract_report(
        [
            rule_unique(orders, "o_orderkey"),
            rule_foreign_key(lineitem, "l_orderkey", orders, "o_orderkey"),
            rule_not_null(customer, "c_name"),
            rule_in_range(lineitem, "l_quantity", 1, 50),
        ]
    )


@_q(
    "q88_grouping_sets",
    """
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def q88(spark, sf):
    """Explicit GROUPING SETS (the rollup/cube generalization — per-lang,
    per-source and grand totals in ONE Expand + partial-agg pass)."""
    _t(spark, sf, "documents").createOrReplaceTempView("q88_docs")
    return spark.sql(
        "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM q88_docs GROUP BY GROUPING SETS ((lang), (source), ())"
    )


@_q(
    "q89_bpe_merge_candidates",
    """
    WITH wl AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents),
    w2 AS (SELECT w FROM wl WHERE length(w) >= 2),
    p AS (SELECT substr(w, CAST(i AS INT) + 1, 2) AS pair
          FROM (SELECT w, unnest(range(length(w) - 1)) AS i FROM w2) t)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
    FROM p GROUP BY pair ORDER BY freq DESC, pair LIMIT 20
    """,
)
def q89(spark, sf):
    """BPE training's inner step: corpus-wide adjacent-symbol pair counts →
    the top merge candidates (A1/X1's learn-side twin; the apply side is
    functions/bpe.py). One explode + partial-agg count + TakeOrdered."""
    from bran_spark.functions.text import char_shingles

    w = (
        _t(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.length("w") >= 2)
    )
    return (
        w.select(F.explode(char_shingles("w", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(20)
    )


@_q(
    "q90_score_calibration",
    f"""
    WITH {_PIPE_CTES}
    SELECT CAST(FLOOR((s + 10) / 2) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           ROUND(AVG(s), 6) AS mean_score,
           ROUND(AVG(label), 6) AS frac_pos
    FROM scored GROUP BY bin
    """,
)
def q90(spark, sf):
    """Model-calibration profile: pooled scores bucketed into fixed-width
    bins vs observed positive rate (the reliability-curve table an
    evaluation run persists next to P/R/F1)."""
    s = _scored(spark, sf)
    return (
        s.groupBy(F.floor((F.col("s") + 10) / 2).cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.round(F.avg("s"), 6).alias("mean_score"),
            F.round(F.avg("label"), 6).alias("frac_pos"),
        )
    )


@_q(
    "q91_robust_stats",
    """
    WITH s AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    med AS (SELECT event_type, median(value) AS med FROM s GROUP BY event_type),
    mad AS (SELECT s.event_type,
                   median(abs(s.value - med.med)) AS mad
            FROM s JOIN med USING (event_type) GROUP BY s.event_type)
    SELECT med.event_type, ROUND(med.med, 6) AS median_value,
           ROUND(mad.mad, 6) AS mad
    FROM med JOIN mad USING (event_type)
    """,
)
def q91(spark, sf):
    """Robust per-type location/scale: median + median-absolute-deviation
    (the outlier-resistant alternative to q77's mean/stddev — what a
    quality gate uses when the metric itself is heavy-tailed). Two exact
    percentile passes; at 10^12 rows the approx_percentile sketch is the
    drop-in (q71)."""
    s = _t(spark, sf, "events").where(F.col("value").isNotNull())
    med = s.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        s.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        med.join(mad, "event_type")
        .select(
            "event_type",
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
        )
    )


@_q(
    "q92_levenshtein_verify",
    f"""
    WITH nm AS (SELECT mesh_id, lower(canonical_name) AS s
                FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    sh AS (SELECT mesh_id,
                  unnest(list_distinct({_CHAR_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM nm),
    sizes AS (SELECT mesh_id, COUNT(*) AS n_sh FROM sh GROUP BY mesh_id),
    hot AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS c FROM sh
                                 GROUP BY shingle) t WHERE c > 200),
    kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    common AS (SELECT a.mesh_id AS id_a, b.mesh_id AS id_b, COUNT(*) AS common
               FROM kept a JOIN kept b
                 ON a.shingle = b.shingle AND a.mesh_id < b.mesh_id
               GROUP BY 1, 2),
    j AS (SELECT id_a, id_b,
                 common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
          FROM common
          JOIN sizes sa ON sa.mesh_id = id_a
          JOIN sizes sb ON sb.mesh_id = id_b),
    cand AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(na.s, nb.s) AS INT) AS edit_dist,
           CAST((levenshtein(na.s, nb.s) <= 2) AS INT) AS is_match
    FROM cand c
    JOIN nm na ON na.mesh_id = c.id_a
    JOIN nm nb ON nb.mesh_id = c.id_b
    """,
)
def q92(spark, sf):
    """Entity-resolution VERIFY stage: exact Levenshtein edit distance over
    the trigram-blocked candidates (q72) — blocking keeps the expensive
    O(len²) distance off the full cross product; the ≤2-edit flag is the
    match decision. Integer outputs, bit-exact across engines."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.linking import name_neardup_pairs

    s = _fixture_sf_for(sf)
    ensure(s)
    d = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    names = d.select(
        "mesh_id", F.lower("canonical_name").alias("s")
    )
    cand = name_neardup_pairs(d).select("id_a", "id_b")
    return (
        cand.join(names.select(F.col("mesh_id").alias("id_a"),
                               F.col("s").alias("sa")), "id_a")
        .join(names.select(F.col("mesh_id").alias("id_b"),
                           F.col("s").alias("sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("sa", "sb").cast("int").alias("edit_dist"),
            (F.levenshtein("sa", "sb") <= 2).cast("int").alias("is_match"),
        )
    )


@_q(
    "q96_triple_provenance",
    f"""
    WITH {_PIPE_CTES},
    pos AS (SELECT DISTINCT doc_id, chem_mesh, dis_mesh
            FROM labeled WHERE label = 1),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chem_mesh, dis_mesh
                                       ORDER BY doc_id) AS rk FROM pos),
    ev AS (SELECT chem_mesh, dis_mesh,
                  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                    AS evidence_docs
           FROM r WHERE rk <= 5 GROUP BY chem_mesh, dis_mesh),
    s AS (SELECT chem_mesh, dis_mesh, COUNT(*)::BIGINT AS support
          FROM pos GROUP BY chem_mesh, dis_mesh)
    SELECT s.chem_mesh, s.dis_mesh, s.support, ev.evidence_docs
    FROM s JOIN ev USING (chem_mesh, dis_mesh)
    """,
)
def q96(spark, sf):
    """KG edge provenance: per triple, total support + the first-5 doc-id
    evidence sample. The evidence list is rank-cut to k BEFORE any collect
    so aggregation state stays O(k) on hot triples
    (operators/pooling.triple_provenance)."""
    from bran_spark.operators.pooling import triple_provenance

    pos = (
        _labeled(spark, sf)
        .where(F.col("label") == 1)
        .select("doc_id", "chem_mesh", "dis_mesh")
        .distinct()
    )
    return triple_provenance(pos, ["chem_mesh", "dis_mesh"], "doc_id", k=5)


@_q(
    "q93_doc_chunking",
    """
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    s AS (SELECT doc_id, ws, len(ws) AS n FROM d),
    c AS (SELECT doc_id, ws, n, unnest(range(0, n, 96)) AS start FROM s)
    SELECT doc_id,
           CAST(start // 96 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_tok,
           CAST(least(128, n - start) AS INT) AS n_chunk_toks,
           array_to_string(list_slice(ws, start + 1, start + 128), ' ')
             AS chunk_text
    FROM c
    """,
)
def q93(spark, sf):
    """Sliding-window document chunking (size=128, stride=96 words) — the
    long-document splitter for training/RAG context caps. Row-local array
    math, zero shuffles (operators/packing.chunk_documents)."""
    from bran_spark.operators.packing import chunk_documents

    return chunk_documents(_t(spark, sf, "documents"), size=128, stride=96)


@_q(
    "q94_keyword_contexts",
    """
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    h AS (SELECT doc_id, ws,
                 unnest(list_filter(
                   list_transform(ws, (x, i) -> {'idx': i, 'term': x}),
                   s -> list_contains(['data', 'dup'], s.term))) AS s
          FROM d)
    SELECT doc_id,
           CAST(s.idx - 1 AS INT) AS idx,
           s.term AS term,
           array_to_string(
             list_slice(ws, greatest(s.idx - 3, 1), least(s.idx + 3, len(ws))),
             ' ') AS context
    FROM h
    """,
)
def q94(spark, sf):
    """Keyword-in-context windows (±3 words around each hit of the query
    terms) — distant-supervision context extraction, pure row-local array
    ops (functions/text.keyword_contexts). DuckDB's (x, i) lambda index is
    1-based; Spark's transform index is 0-based — the twin subtracts 1."""
    from bran_spark.functions.text import keyword_contexts

    return keyword_contexts(
        _t(spark, sf, "documents"), ["data", "dup"], window=3
    )


@_q(
    "q95_containment_pairs",
    f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM d),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 30),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
               FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           ROUND(common / sa.n_sh, 6) AS containment_a,
           ROUND(common / sb.n_sh, 6) AS containment_b
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / sa.n_sh >= 0.4 OR common / sb.n_sh >= 0.4
    """,
)
def q95(spark, sf):
    """Asymmetric containment near-dup (|A∩B|/|A| over distinct 3-gram
    shingles, df-cut 30): catches subset/quote duplication invisible to
    symmetric Jaccard (operators/dedup.containment_pairs)."""
    from bran_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf, "documents"), "doc_id", "text",
        n=3, min_containment=0.4, max_df=30,
    )


@_q(
    "q97_unigram_logprob",
    """
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
    freq AS (SELECT w, COUNT(*)::DOUBLE AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS tot FROM freq)
    SELECT doc_id, COUNT(*)::BIGINT AS n_tok,
           ROUND(AVG(ln(c / tot)) + 1e-9, 6) AS logprob
    FROM tok JOIN freq USING (w), tot
    GROUP BY doc_id
    """,
)
def q97(spark, sf):
    """Unigram-LM quality score (mean ln p(word) under the corpus's own
    unigram distribution) — the cheap perplexity-proxy filter. The Spark
    side splits the Zipf-hot top-1000 words onto a broadcast join so the
    word-keyed shuffle never sees the corpus's hottest keys
    (operators/quality.unigram_logprob); the twin computes the same
    corpus-level frequencies directly."""
    from bran_spark.operators.quality import unigram_logprob

    return unigram_logprob(_t(spark, sf, "documents"), "doc_id", "text")


# 8-hex-digit md5 prefix as integer (the rebalance coin), mod 10^6
_COIN8_SQL = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
) + ") % 1000000"

_MIX_SHARES = (("src0", 0.5), ("src1", 0.3), ("src2", 0.2))
_MIX_TOTAL = 40


@_q(
    "q98_mix_rebalance",
    f"""
    WITH counts AS (SELECT source AS g, COUNT(*) AS n_g
                    FROM documents GROUP BY source),
    shares(g, share) AS (VALUES {", ".join(f"('{g}', {s})" for g, s in _MIX_SHARES)}),
    rates AS (SELECT counts.g,
                     CAST(floor(least(1.0, share * {_MIX_TOTAL}.0 / n_g)
                                * 1000000) AS BIGINT) AS keep_millionths
              FROM counts JOIN shares USING (g)),
    keyed AS (SELECT doc_id, source, md5(doc_id::VARCHAR) AS h
              FROM documents)
    SELECT doc_id, source
    FROM keyed JOIN rates ON keyed.source = rates.g
    WHERE CAST({_COIN8_SQL} AS BIGINT) < keep_millionths
    """,
)
def q98(spark, sf):
    """Domain-mix rebalancing: deterministic per-source downsampling toward
    a target share vector (the static data-mixture lever; DoReMi-style
    weights applied as sampling rates). Rates derive from one group-count
    aggregate broadcast back; the keep coin is md5-deterministic
    (operators/sampling.rebalance_mix)."""
    from bran_spark.operators.sampling import rebalance_mix

    return rebalance_mix(
        _t(spark, sf, "documents"),
        "source",
        dict(_MIX_SHARES),
        target_total=_MIX_TOTAL,
    ).select("doc_id", "source")


def _pq_block_sql(b: int, width: int, k: int, iters: int) -> str:
    """Unrolled per-block Lloyd chain for the PQ twin: sliced subvectors →
    k lowest-id seeds → ``iters`` assign/mean rounds → final assignment as
    (vec_id, block, code). Mirrors similarity.kmeans_centroids exactly
    (rounded-dist argmin, cid tie-break, element-wise AVG update)."""
    lo = b * width
    parts = [
        f"eb{b} AS (SELECT vec_id, "
        f"list_slice(embedding::DOUBLE[], {lo + 1}, {lo + width}) AS v "
        f"FROM embeddings)",
        f"cb{b}_0 AS (SELECT vec_id AS cid, v AS cv FROM eb{b} "
        f"ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters):
        parts.append(f"""
    db{b}_{i} AS (SELECT e.vec_id, e.v, c.cid,
              ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                    + list_dot_product(c.cv, c.cv), 6) AS dist
             FROM eb{b} e CROSS JOIN cb{b}_{i} c),
    ab{b}_{i} AS (SELECT vec_id, v, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY dist, cid) AS rn
               FROM db{b}_{i}) WHERE rn = 1),
    xb{b}_{i} AS (SELECT cell, ix.dim AS dim, v[ix.dim] AS val
             FROM ab{b}_{i}, (SELECT unnest(range(1, {width + 1})) AS dim) ix),
    mb{b}_{i} AS (SELECT cell, dim, AVG(val) AS m FROM xb{b}_{i}
                  GROUP BY cell, dim),
    cb{b}_{i + 1} AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv
                 FROM mb{b}_{i} GROUP BY cell)""")
    parts.append(f"""
    fb{b} AS (SELECT e.vec_id, c.cid,
              ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                    + list_dot_product(c.cv, c.cv), 6) AS dist
             FROM eb{b} e CROSS JOIN cb{b}_{iters} c),
    enc{b} AS (SELECT vec_id, {b} AS block, CAST(cell AS INT) AS code FROM
              (SELECT vec_id, cid AS cell,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rn
               FROM fb{b}) WHERE rn = 1)""")
    return ",\n    ".join(parts)


_PQ_M, _PQ_WIDTH, _PQ_K, _PQ_ITERS = 4, 16, 8, 2


@_q(
    "q99_product_quantize",
    "WITH "
    + ",\n    ".join(
        _pq_block_sql(b, _PQ_WIDTH, _PQ_K, _PQ_ITERS) for b in range(_PQ_M)
    )
    + "\n    "
    + " UNION ALL ".join(
        f"SELECT vec_id, block, code FROM enc{b}" for b in range(_PQ_M)
    ),
)
def q99(spark, sf):
    """Product quantization: 4 blocks × 16 dims, k=8 codewords per block,
    2 Lloyd iterations — the vector-store compression encode (64 floats →
    4 codes). Train+encode is hash-exact vs the unrolled DuckDB twin
    (similarity.product_quantize)."""
    from bran_spark.operators.similarity import product_quantize

    return product_quantize(
        _t(spark, sf, "embeddings"), m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, d=64
    )


@_q(
    "q100_pq_adc_topk",
    "WITH "
    + ",\n    ".join(
        _pq_block_sql(b, _PQ_WIDTH, _PQ_K, _PQ_ITERS) for b in range(_PQ_M)
    )
    + f""",
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    tbl AS ({" UNION ALL ".join(
        f'''SELECT {b} AS block, CAST(cid AS INT) AS code,
               ROUND(list_dot_product(qb, qb) - 2 * list_dot_product(qb, cv)
                     + list_dot_product(cv, cv), 6) AS bdist
            FROM cb{b}_{_PQ_ITERS},
                 (SELECT list_slice(qv, {b * _PQ_WIDTH + 1},
                                    {(b + 1) * _PQ_WIDTH}) AS qb FROM q)'''
        for b in range(_PQ_M))}),
    allcodes AS ({" UNION ALL ".join(
        f"SELECT vec_id, block, code FROM enc{b}" for b in range(_PQ_M))})
    SELECT vec_id, ROUND(SUM(bdist), 6) AS approx_dist
    FROM allcodes JOIN tbl USING (block, code)
    WHERE vec_id != 0
    GROUP BY vec_id
    ORDER BY approx_dist, vec_id
    LIMIT 10
    """,
)
def q100(spark, sf):
    """ADC search over the PQ index: query = float vector, corpus = m
    integer codes, distance = sum of a broadcast m×k lookup table — the
    scan that reads m bytes per vector instead of d·4 at 10^12 scale
    (similarity.pq_topk)."""
    from bran_spark.operators.similarity import pq_topk

    return pq_topk(
        _t(spark, sf, "embeddings"), query_id=0, k=10,
        m=_PQ_M, codewords=_PQ_K, iters=_PQ_ITERS, d=64,
    )


_POIS = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406)
_U32_SQL = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
) + ") / 4294967296.0"
_POIS_W_SQL = "CASE " + " ".join(
    f"WHEN u < {t} THEN {n}" for n, t in enumerate(_POIS)
) + f" ELSE {len(_POIS)} END"


@_q(
    "q101_bootstrap_prf",
    f"""
    WITH {_PIPE_CTES},
    per_doc AS (SELECT doc_id,
            SUM(CASE WHEN s >= 0 AND label = 1 THEN 1 ELSE 0 END) AS tp,
            SUM(CASE WHEN s >= 0 AND label = 0 THEN 1 ELSE 0 END) AS fp,
            SUM(CASE WHEN s <  0 AND label = 1 THEN 1 ELSE 0 END) AS fn
        FROM scored GROUP BY doc_id),
    drawn AS (SELECT doc_id, tp, fp, fn, bi.b AS b,
                     md5(doc_id::VARCHAR || ':' || bi.b::VARCHAR) AS h
              FROM per_doc, (SELECT unnest(range(0, 20)) AS b) bi),
    wtd AS (SELECT b, tp, fp, fn, {_POIS_W_SQL} AS w
            FROM (SELECT b, tp, fp, fn, {_U32_SQL} AS u FROM drawn)),
    agg AS (SELECT b, SUM(w * tp) AS tp, SUM(w * fp) AS fp,
                   SUM(w * fn) AS fn FROM wtd GROUP BY b)
    SELECT CAST(b AS INT) AS b,
           ROUND(CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp/(tp+fp) END, 6) AS precision,
           ROUND(CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp/(tp+fn) END, 6) AS recall,
           ROUND(CASE WHEN 2*tp+fp+fn = 0 THEN 0.0
                 ELSE 2.0*tp/(2*tp+fp+fn) END, 6) AS f1
    FROM agg
    """,
)
def q101(spark, sf):
    """Poisson-bootstrap micro-P/R/F1 distribution (20 deterministic
    resamples): per-doc confusion × md5-seeded Poisson(1) weights, one
    pass, no corpus duplication (operators/evaluate.bootstrap_prf). The
    scalable-bootstrap CI for the KG eval gate."""
    from bran_spark.operators.evaluate import bootstrap_prf

    sc = _scored(spark, sf)
    per_doc = sc.groupBy("doc_id").agg(
        F.sum(((F.col("s") >= 0) & (F.col("label") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("s") >= 0) & (F.col("label") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("s") < 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
    )
    return bootstrap_prf(per_doc, n_resamples=20)


@_q(
    "q102_ivf_pq_topk",
    "WITH "
    + ",\n    ".join(
        _pq_block_sql(b, _PQ_WIDTH, _PQ_K, _PQ_ITERS) for b in range(_PQ_M)
    )
    + f""",
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    dd AS (SELECT e.vec_id, e.v, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6) AS dist
          FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, cid AS cell FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn FROM dd)
          WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (SELECT c.cid AS cell FROM c, q
              ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(c.cv, q.qv)
                        + list_dot_product(q.qv, q.qv), 6), c.cid
              LIMIT 3),
    tbl AS ({" UNION ALL ".join(
        f'''SELECT {b} AS block, CAST(cid AS INT) AS code,
               ROUND(list_dot_product(qb, qb) - 2 * list_dot_product(qb, cv)
                     + list_dot_product(cv, cv), 6) AS bdist
            FROM cb{b}_{_PQ_ITERS},
                 (SELECT list_slice(qv, {b * _PQ_WIDTH + 1},
                                    {(b + 1) * _PQ_WIDTH}) AS qb FROM q)'''
        for b in range(_PQ_M))}),
    allcodes AS ({" UNION ALL ".join(
        f"SELECT vec_id, block, code FROM enc{b}" for b in range(_PQ_M))}),
    adc AS (SELECT allcodes.vec_id AS vec_id,
                   ROUND(SUM(bdist), 6) AS approx_dist
            FROM allcodes JOIN tbl USING (block, code)
            WHERE allcodes.vec_id != 0 GROUP BY allcodes.vec_id)
    SELECT adc.vec_id AS vec_id, adc.approx_dist
    FROM adc JOIN a ON a.vec_id = adc.vec_id
    WHERE a.cell IN (SELECT cell FROM probe)
    ORDER BY approx_dist, vec_id
    LIMIT 10
    """,
)
def q102(spark, sf):
    """Composed IVF-PQ search: coarse-cell pruning (n_probe=3 of 8 seed
    cells) + ADC ranking over the global PQ codes — the billion-scale ANN
    recipe assembled from the oracle-checked pieces
    (similarity.ivf_pq_topk)."""
    from bran_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        _t(spark, sf, "embeddings"), query_id=0, k=10,
        n_centroids=8, n_probe=3, m=_PQ_M, codewords=_PQ_K,
        iters=_PQ_ITERS, d=64,
    )


def _hex8(col: str) -> str:
    """First-8-hex-chars-of-md5 → BIGINT (the Spark conv(substr(md5,1,8))
    idiom) over an existing hex-string column ``col``."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


@_q(
    "q103_contrastive_pairs",
    f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM d),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 30),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
               FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    pos AS (SELECT id_a, id_b,
                   ROUND(c / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.4),
    sym AS (SELECT id_a AS anchor, id_b AS partner, jaccard FROM pos
            UNION ALL
            SELECT id_b AS anchor, id_a AS partner, jaccard FROM pos),
    anchors AS (SELECT DISTINCT anchor FROM sym),
    bi AS (SELECT unnest(range(0, 2)) AS i),
    draws AS (SELECT anchor, i,
                     md5(anchor::VARCHAR || ':' || i::VARCHAR) AS h
              FROM anchors, bi),
    draws2 AS (SELECT anchor, i, {_hex8('h')} % 64 AS bk FROM draws),
    cand0 AS (SELECT doc_id AS cand, md5(doc_id::VARCHAR) AS h FROM documents),
    cands AS (SELECT cand, {_hex8('h')} % 64 AS bk FROM cand0),
    negsel AS (SELECT anchor, i,
                      arg_min(cand, md5(cand::VARCHAR || ':' ||
                              anchor::VARCHAR || ':' || i::VARCHAR)) AS partner
               FROM draws2 JOIN cands USING (bk)
               WHERE cand != anchor GROUP BY anchor, i),
    neg AS (SELECT n.anchor, n.partner, 'neg' AS kind, 0.0 AS weight,
                   CASE WHEN EXISTS (SELECT 1 FROM sym s
                                     WHERE s.anchor = n.anchor
                                       AND s.partner = n.partner)
                        THEN 1 ELSE 0 END AS is_collision
            FROM negsel n)
    SELECT anchor, partner, kind, weight, is_collision FROM (
      SELECT anchor, partner, 'pos' AS kind, jaccard AS weight,
             0 AS is_collision FROM sym
      UNION ALL
      SELECT anchor, partner, kind, weight, is_collision FROM neg)
    """,
)
def q103(spark, sf):
    """Contrastive training-pair mining: near-dup positives + rendezvous-
    bucketed deterministic negatives (no global rank anywhere — the draw is
    an equi-join on md5 buckets with arg-min selection inside the bucket),
    collisions flagged (operators/sampling.contrastive_pairs)."""
    from bran_spark.operators.sampling import contrastive_pairs

    return contrastive_pairs(
        _t(spark, sf, "documents"), n=3, min_jaccard=0.4, max_df=30,
        k_neg=2, buckets=64,
    )


@_q(
    "q104_alias_clusters",
    f"""
    WITH RECURSIVE nm AS (SELECT mesh_id, lower(canonical_name) AS s
                FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    sh AS (SELECT mesh_id,
                  unnest(list_distinct({_CHAR_SHINGLE_SQL.format(n=3)})) AS shingle
           FROM nm),
    sizes AS (SELECT mesh_id, COUNT(*) AS n_sh FROM sh GROUP BY mesh_id),
    hot AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS c FROM sh
                                 GROUP BY shingle) t WHERE c > 200),
    kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    common AS (SELECT a.mesh_id AS id_a, b.mesh_id AS id_b, COUNT(*) AS common
               FROM kept a JOIN kept b
                 ON a.shingle = b.shingle AND a.mesh_id < b.mesh_id
               GROUP BY 1, 2),
    j AS (SELECT id_a, id_b,
                 common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
          FROM common
          JOIN sizes sa ON sa.mesh_id = id_a
          JOIN sizes sb ON sb.mesh_id = id_b),
    verified AS (SELECT c.id_a, c.id_b FROM
                   (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4) c
                 JOIN nm na ON na.mesh_id = c.id_a
                 JOIN nm nb ON nb.mesh_id = c.id_b
                 WHERE levenshtein(na.s, nb.s) <= 2),
    edges AS (SELECT id_a AS a, id_b AS b FROM verified
              UNION ALL SELECT id_b, id_a FROM verified),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS mesh_id, MIN(lab) AS alias_group FROM r
             GROUP BY node)
    SELECT comp.mesh_id, comp.alias_group, nm.s AS name,
           cn.s AS canonical_alias
    FROM comp
    JOIN nm ON nm.mesh_id = comp.mesh_id
    JOIN nm cn ON cn.mesh_id = comp.alias_group
    """,
)
def q104(spark, sf):
    """Entity-alias canonicalization, END-TO-END: trigram-blocked name
    candidates (q72) → exact ≤2-edit Levenshtein verify (q92) → connected
    components over the verified pairs (q50's large-star/small-star) →
    canonical alias = the cluster minimum's name. The full ER/canonical-
    ization flow a KG runs before edge materialization, every stage of
    which is individually oracle-checked."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.components import connected_components
    from bran_spark.operators.linking import name_neardup_pairs

    s = _fixture_sf_for(sf)
    ensure(s)
    d = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    names = d.select("mesh_id", F.lower("canonical_name").alias("s"))
    cand = name_neardup_pairs(d).select("id_a", "id_b")
    verified = (
        cand.join(names.select(F.col("mesh_id").alias("id_a"),
                               F.col("s").alias("sa")), "id_a")
        .join(names.select(F.col("mesh_id").alias("id_b"),
                           F.col("s").alias("sb")), "id_b")
        .where(F.levenshtein("sa", "sb") <= 2)
        .select("id_a", "id_b")
    )
    comps = connected_components(verified)
    return (
        comps.select(
            F.col("node").alias("mesh_id"),
            F.col("component").alias("alias_group"),
        )
        .join(names.select(F.col("mesh_id"), F.col("s").alias("name")), "mesh_id")
        .join(
            names.select(
                F.col("mesh_id").alias("alias_group"),
                F.col("s").alias("canonical_alias"),
            ),
            "alias_group",
        )
        .select("mesh_id", "alias_group", "name", "canonical_alias")
    )


@_q(
    "q105_degree_distribution",
    _FX_PAIRS_SQL + """
    , deg AS (SELECT u, COUNT(*) AS degree FROM sym GROUP BY u),
    hist AS (SELECT degree, COUNT(*)::BIGINT AS n_nodes FROM deg
             GROUP BY degree),
    tot AS (SELECT SUM(n_nodes)::DOUBLE AS n FROM hist)
    SELECT degree, n_nodes,
           ROUND(SUM(n_nodes) OVER (ORDER BY degree) / tot.n, 6)
             AS cum_node_share
    FROM hist, tot
    """,
)
def q105(spark, sf):
    """KG degree distribution: per-degree node counts + cumulative node
    share (the graph-health histogram behind skew decisions — how heavy is
    the hub tail that salting/df-cuts must bound). Two partial-aggregate
    shuffles (degree, then histogram — the second over ≤|distinct degrees|
    rows) + a window over the TINY histogram; the 1-row total broadcasts."""
    from pyspark.sql import Window as W

    from bran_spark.operators.graphalgo import symmetric_edges

    sym = symmetric_edges(_fx_entity_pairs(spark, sf))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    tot = hist.agg(F.sum("n_nodes").cast("double").alias("n"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_node_share",
            F.round(
                F.sum("n_nodes").over(
                    W.orderBy("degree").rowsBetween(W.unboundedPreceding, 0)
                )
                / F.col("n"),
                6,
            ),
        )
        .select("degree", "n_nodes", "cum_node_share")
    )


@_q(
    "q106_tokenizer_fertility",
    f"""
    WITH per_doc AS (
      SELECT lang,
             len({_WORDS_RE_SQL}) AS n_words,
             len({_WORDS_RE_SQL})
               + len(regexp_extract_all(lower(text), '[a-z0-9]{{6}}'))
               AS n_subtok
      FROM documents)
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_subtok) AS BIGINT) AS n_subtok,
           ROUND(SUM(n_subtok) * 1.0 / SUM(n_words) + 1e-9, 6) AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def q106(spark, sf):
    """Tokenizer fertility per language: subword-tokens-per-word using the
    BPE-ish proxy (functions/text.bpe_ish_token_count) — the standard
    multilingual tokenizer-fairness metric (a language whose fertility is
    2× pays 2× the context budget per word; data-mixture and budget
    decisions key off exactly this table). One partial-agg pass."""
    from bran_spark.functions.text import bpe_ish_token_count, token_count

    return (
        _t(spark, sf, "documents")
        .select(
            "lang",
            token_count("text").alias("n_words"),
            bpe_ish_token_count("text").alias("n_subtok"),
        )
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subtok").cast("long").alias("n_subtok"),
        )
        .withColumn(
            "fertility",
            F.round(
                F.col("n_subtok") / F.col("n_words") + F.lit(1e-9), 6
            ),
        )
    )


@_q(
    "q107_chunk_retrieval",
    f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    s AS (SELECT doc_id, ws, len(ws) AS n FROM d),
    c AS (SELECT doc_id, ws, n, unnest(range(0, n, 96)) AS start FROM s),
    chunks AS (SELECT doc_id || '#' || CAST(start // 96 AS VARCHAR) AS chunk_id,
                      doc_id, CAST(start // 96 AS INT) AS chunk_idx,
                      list_slice(ws, start + 1, start + 128) AS cws
               FROM c),
    base AS (SELECT chunk_id, doc_id, chunk_idx,
                    len(cws)::DOUBLE AS dl, cws FROM chunks),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM base),
    tok AS (SELECT chunk_id, doc_id, chunk_idx, dl, unnest(cws) AS term
            FROM base),
    tf AS (SELECT chunk_id, doc_id, chunk_idx, dl, term,
                  COUNT(*)::DOUBLE AS tf FROM tok
           WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}')
           GROUP BY chunk_id, doc_id, chunk_idx, dl, term),
    dft AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term)
    SELECT chunk_id, doc_id, chunk_idx,
           ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
             AS score
    FROM tf JOIN dft USING (term), stats
    GROUP BY chunk_id, doc_id, chunk_idx
    ORDER BY score DESC, chunk_id LIMIT 10
    """,
)
def q107(spark, sf):
    """Chunk-level retrieval — the RAG serving shape: sliding-window chunks
    (q93) scored as BM25 units (q53), so the returned passages fit a
    context window instead of whole documents. The composition costs one
    extra row-local chunking projection over the corpus; BM25's stats and
    df tables are computed over chunks (the correct collection for
    chunk-level idf)."""
    from bran_spark.operators.packing import chunk_documents
    from bran_spark.operators.search import bm25_topk

    chunks = chunk_documents(
        _t(spark, sf, "documents"), size=128, stride=96
    ).select(
        F.concat_ws("#", "doc_id", "chunk_idx").alias("chunk_id"),
        "doc_id",
        "chunk_idx",
        F.col("chunk_text"),
    )
    top = bm25_topk(
        chunks, list(_BM25_TERMS), id_col="chunk_id", text_col="chunk_text",
        k=10,
    ).select(F.col("doc_id").alias("chunk_id"), "score")  # bm25 renames its id
    return (
        top.join(
            chunks.select("chunk_id", "doc_id", "chunk_idx"), "chunk_id"
        )
        .select(
            F.col("chunk_id"), "doc_id", "chunk_idx", "score"
        )
        .orderBy(F.desc("score"), "chunk_id")
    )


@_q(
    "q108_decontaminate",
    """
    WITH wl AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ws
                FROM documents),
    bench AS (SELECT doc_id AS bench_id, list_slice(ws, 1, 12) AS bws
              FROM wl WHERE doc_id % 41 = 0),
    bsh AS (SELECT DISTINCT bench_id,
                   unnest(list_distinct(list_transform(range(greatest(len(bws) - 8, 0) + 1),
                          i -> array_to_string(list_slice(bws, i + 1, i + 8), ' ')))) AS shingle
            FROM bench),
    csh AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(range(greatest(len(ws) - 8, 0) + 1),
                          i -> array_to_string(list_slice(ws, i + 1, i + 8), ' ')))) AS shingle
            FROM wl)
    SELECT doc_id, CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
    FROM csh JOIN bsh USING (shingle) GROUP BY doc_id
    """,
)
def q108(spark, sf):
    """Benchmark decontamination (GPT-3 appendix-C / Gopher eval-leak
    filter): corpus docs sharing any 8-word n-gram with a benchmark set are
    flagged with distinct-hit counts. The benchmark here is synthesized
    deterministically from the corpus itself (every doc_id % 41 == 0
    contributes its 12-word prefix as an "eval prompt") so the filter has
    guaranteed positives on the synthetic tables; in production the bench
    side is the real eval suite. Scale shape: the tiny benchmark shingle
    set is BROADCAST — the 10^12-doc corpus stream is never shuffled on
    the n-gram key (operators/dedup.decontaminate)."""
    from bran_spark.functions.text import words
    from bran_spark.operators.dedup import decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 41 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(words("text"), 1, 12), " ").alias("btext"),
    )
    return decontaminate(
        docs, bench, "doc_id", "text", "bench_id", "btext", n=8
    )


@_q(
    "q109_dup_span_removal",
    """
    WITH wl AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ws
                FROM documents),
    win0 AS (SELECT doc_id,
                   unnest(list_transform(range(greatest(len(ws) - 8 + 1, 0)),
                          i -> {'pos': i, 'sh': array_to_string(list_slice(ws, i + 1, i + 8), ' ')})) AS u
            FROM wl WHERE len(ws) >= 8),
    win AS (SELECT doc_id, u.pos AS pos, u.sh AS shingle FROM win0),
    dupset AS (SELECT shingle FROM win GROUP BY shingle HAVING COUNT(*) >= 2),
    dpos AS (SELECT doc_id, list(pos ORDER BY pos) AS dps, COUNT(*) AS n_dup
             FROM win JOIN dupset USING (shingle) GROUP BY doc_id),
    base AS (SELECT wl.doc_id, ws,
                    COALESCE(dps, CAST([] AS BIGINT[])) AS dps,
                    COALESCE(n_dup, 0) AS n_dup
             FROM wl LEFT JOIN dpos ON wl.doc_id = dpos.doc_id),
    kept AS (SELECT doc_id, len(ws) AS n_words, n_dup, ws,
                    list_filter(range(len(ws)),
                                j -> len(list_filter(dps, p -> p <= j AND j < p + 8)) = 0) AS kidx
             FROM base)
    SELECT doc_id AS id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_dup AS BIGINT) AS n_dup_windows,
           CAST(len(kidx) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(list_transform(kidx, j -> ws[j + 1]), ' '), '') AS clean_text
    FROM kept
    """,
)
def q109(spark, sf):
    """Duplicate-span REMOVAL (the ExactSubstr removal semantics of Lee et
    al. 2022 at word-window granularity): every 8-word window occurring
    >= 2 times corpus-wide is masked out of every containing doc and the
    doc is rebuilt from surviving words — q60 only REPORTS the dup
    fraction; this is the curation step that acts on it. Word survival is
    row-local array math over the collected per-doc duplicate start
    positions (bounded by doc length, never corpus-sized)
    (operators/dedup.mask_duplicate_spans)."""
    from bran_spark.operators.dedup import mask_duplicate_spans

    return mask_duplicate_spans(
        _t(spark, sf, "documents"), "doc_id", "text", n=8, min_count=2
    )


@_q(
    "q110_semantic_dedup",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    {_kmeans_iter_sql(0)},
    {_kmeans_iter_sql(1)},
    fdist AS (SELECT e.vec_id, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                  + list_dot_product(c.cv, c.cv), 6) AS dist
           FROM e CROSS JOIN c2 c),
    asg AS (SELECT vec_id, cell FROM
      (SELECT vec_id, cid AS cell,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       FROM fdist) WHERE rn = 1),
    dropped AS (SELECT DISTINCT b.vec_id AS vec_id
            FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id
            WHERE ROUND(list_dot_product(ea.v, eb.v) /
                  (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.4)
    SELECT vec_id, cell FROM asg
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = asg.vec_id)
    """,
)
def q110(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding store,
    then inside each cell drop every vector with a lower-id cosine
    neighbor >= tau — prunes semantic duplicates (paraphrases) that share
    no surface n-grams, the gap the LSH family (q35) cannot cover. tau is
    0.4 here because the synthetic store contains no true near-dups (max
    pairwise cosine 0.51) — production stores use 0.95+; the plan shape is
    tau-independent. Quadratic work is confined INSIDE cells: (N/k)^2 per
    cell, k scaled so cells fit a partition at 10^12
    (operators/dedup.semantic_dedup)."""
    from bran_spark.operators.dedup import semantic_dedup

    return semantic_dedup(_t(spark, sf, "embeddings"), tau=0.4, k=8, iters=2)


def _ppr_iter_sql(iters: int, base: int) -> str:
    """Unrolled personalized-PageRank iterations (seeded teleport; exact
    integer math — same hash-exactness argument as _pr_iter_sql)."""
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""
    , pc{i} AS (SELECT s.v AS u, CAST(SUM(r.rank // r.deg) AS BIGINT) AS sm
               FROM sym s JOIN pr{i - 1} r ON s.u = r.u GROUP BY s.v),
    pr{i} AS (SELECT f.u, f.deg, f.is_seed,
                    CAST(f.is_seed * {base} + ((85 * COALESCE(c.sm, 0)) // 100) AS BIGINT) AS rank
             FROM sflag f LEFT JOIN pc{i} c ON f.u = c.u)""")
    return "".join(parts)


@_q(
    "q111_personalized_pagerank",
    _FX_PAIRS_SQL
    + f"""
    , deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    sds AS (SELECT u FROM (SELECT DISTINCT u FROM sym) t ORDER BY u LIMIT 3),
    sflag AS (SELECT dg.u, dg.deg,
                     CASE WHEN s.u IS NULL THEN 0 ELSE 1 END AS is_seed
              FROM deg dg LEFT JOIN sds s ON dg.u = s.u),
    pr0 AS (SELECT u, deg, is_seed,
                   CAST(is_seed * {_PR_SCALE} AS BIGINT) AS rank FROM sflag)
    {_ppr_iter_sql(5, _PR_BASE)}
    SELECT u AS entity, rank AS rank_fp FROM pr5 WHERE rank > 0
    """,
)
def q111(spark, sf):
    """Personalized PageRank from the 3 lexicographically-first entities —
    the related-entity-expansion ranking (relevance to a seed set, not
    global centrality). Teleport mass lands only on the broadcast seed
    set; unreached nodes stay at rank 0 and are dropped, so the output is
    the seeds' neighborhood rather than a |V| table
    (operators/graphalgo.personalized_pagerank)."""
    from bran_spark.operators.graphalgo import (
        personalized_pagerank,
        symmetric_edges,
    )

    sym = symmetric_edges(_fx_entity_pairs(spark, sf))
    seeds = sym.select("u").distinct().orderBy("u").limit(3)
    return personalized_pagerank(sym, seeds, iters=5)


def _sssp_iter_sql(iters: int) -> str:
    """Unrolled min-plus Bellman-Ford rounds (exact integer arithmetic)."""
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""
    , rx{i} AS (SELECT e.v AS u, d.dist + e.w AS dist
               FROM sd{i - 1} d JOIN wsym e ON d.u = e.u),
    sd{i} AS (SELECT u, MIN(dist) AS dist FROM
               (SELECT u, dist FROM sd{i - 1} UNION ALL SELECT u, dist FROM rx{i}) t
              GROUP BY u)""")
    return "".join(parts)


@_q(
    "q112_weighted_sssp",
    _FX_MENTIONS_SQL
    + f"""
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    a AS (SELECT doc_id, mesh_id AS subj FROM ent WHERE type = 'Chemical'),
    b AS (SELECT doc_id, mesh_id AS obj FROM ent WHERE type = 'Disease'),
    pc AS (SELECT subj, obj, COUNT(*) AS n_co
           FROM a JOIN b USING (doc_id) GROUP BY subj, obj),
    wsym AS (SELECT subj AS u, obj AS v,
                    CAST(1000000 // n_co AS BIGINT) AS w
             FROM pc WHERE subj <> obj
             UNION ALL
             SELECT obj AS u, subj AS v,
                    CAST(1000000 // n_co AS BIGINT) AS w
             FROM pc WHERE subj <> obj),
    src AS (SELECT MIN(u) AS u FROM wsym),
    sd0 AS (SELECT u, CAST(0 AS BIGINT) AS dist FROM src)
    {_sssp_iter_sql(4)}
    SELECT u AS entity, CAST(dist AS BIGINT) AS dist FROM sd4
    """,
)
def q112(spark, sf):
    """Weighted shortest paths (≤4 edges) from the lexicographically-first
    entity over support-weighted KG edges — w = 10^6 DIV co-occurrence
    count, so strongly-evidenced links are cheap. The connection-strength
    path query hop-BFS (q58) cannot answer on weighted edges; integer
    min-plus keeps every round hash-exact across engines
    (operators/graphalgo.weighted_sssp)."""
    from bran_spark.operators.graphalgo import weighted_sssp

    # materialized once (r06): the incidence DISTINCT feeds both join
    # sides — filters push below the aggregate, so the two branches were
    # two separate distinct exchanges over the mention table
    inc = materialize(_fx_entity_incidence(spark, sf))
    a = inc.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    b = inc.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    pc = a.join(b, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).alias("n_co")
    )
    half = pc.where(F.col("subj") != F.col("obj")).select(
        F.col("subj").alias("u"),
        F.col("obj").alias("v"),
        F.expr("CAST(1000000 DIV n_co AS LONG)").alias("w"),
    )
    wsym = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    seeds = wsym.select(F.min("u").alias("u"))
    return weighted_sssp(wsym, seeds, iters=4)


@_q(
    "q113_chunk_neardup_profile",
    """
    WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    s AS (SELECT doc_id, ws, len(ws) AS n FROM d),
    c AS (SELECT doc_id, ws, n, unnest(range(0, n, 64)) AS start FROM s),
    ch AS (SELECT doc_id,
                  doc_id::VARCHAR || '#' || CAST(start // 64 AS INT)::VARCHAR AS chunk_id,
                  array_to_string(list_slice(ws, start + 1, start + 64), ' ') AS chunk_text
           FROM c),
    cw AS (SELECT chunk_id, doc_id,
                  string_split_regex(trim(lower(chunk_text)), ' +') AS cws FROM ch),
    sh AS (SELECT chunk_id, doc_id,
                  unnest(list_distinct(list_transform(range(greatest(len(cws) - 4, 0) + 1),
                         i -> array_to_string(list_slice(cws, i + 1, i + 4), ' ')))) AS shingle
           FROM cw),
    banded AS (SELECT chunk_id, doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(4)) AS band) b),
    sig AS (SELECT chunk_id, doc_id, band, MIN(h) AS minhash
            FROM banded GROUP BY chunk_id, doc_id, band),
    prs AS (SELECT DISTINCT a.chunk_id AS ca, b.chunk_id AS cb
            FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
                                 AND a.chunk_id < b.chunk_id
            WHERE a.doc_id <> b.doc_id),
    dupc AS (SELECT ca AS chunk_id FROM prs UNION SELECT cb FROM prs),
    per AS (SELECT doc_id, COUNT(*) AS n_chunks,
                   SUM(CASE WHEN dupc.chunk_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
            FROM ch LEFT JOIN dupc ON ch.chunk_id = dupc.chunk_id
            GROUP BY doc_id)
    SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_dup AS BIGINT) AS n_dup_chunks,
           ROUND(n_dup * 1.0 / n_chunks, 6) AS dup_chunk_frac
    FROM per
    """,
)
def q113(spark, sf):
    """Paragraph-granularity near-dup profile (the RefinedWeb/MassiveText
    refinement of doc-level dedup): split docs into 64-word chunks (q93's
    splitter, stride = size → disjoint), MinHash-LSH the CHUNKS (q29's md5
    twin machinery), and report per doc what fraction of its chunks have a
    cross-document near-duplicate — catches partially-copied documents
    whose doc-level signature stays distinct. Pure composition of two
    oracle-checked operators; the chunk fan-out multiplies rows but each
    stage keeps its own scale bound (row-local chunking, banded LSH join)
    (operators/packing.chunk_documents + dedup.minhash_lsh_pairs)."""
    from bran_spark.operators.dedup import minhash_lsh_pairs
    from bran_spark.operators.packing import chunk_documents

    docs = _t(spark, sf, "documents")
    chunks = chunk_documents(docs, size=64, stride=64).select(
        F.concat_ws("#", "doc_id", "chunk_idx").alias("chunk_id"),
        "doc_id",
        "chunk_text",
    )
    pairs = minhash_lsh_pairs(
        chunks, "chunk_id", "chunk_text", n=4, bands=4, hash_fn="md5"
    )
    cross = pairs.where(
        F.split(F.col("id_a"), "#").getItem(0)
        != F.split(F.col("id_b"), "#").getItem(0)
    )
    dupc = (
        cross.select(F.col("id_a").alias("chunk_id"))
        .union(cross.select(F.col("id_b").alias("chunk_id")))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        chunks.join(dupc, "chunk_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_d").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_chunk_frac",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


@_q("rerank_fixture")
def rerank_fixture(spark, sf):
    """Two-stage retrieval over the fixture corpus: BM25 recall (q53's
    scorer) proposes top-10 candidates, the cross-encoder reranks them with
    a JOINT [query ; passage] encoder pass (model/rerank.py) — the
    standard precision stage of a RAG service; the expensive model touches
    only k rows, never the corpus.

    IMPOSSIBILITY NOTE (r4, permanent holdout): the cross-encoder forward
    pass (embedding lookup -> multi-head attention -> MLP head) is a
    tensor program, not a relational query — no SQL twin can exist without
    re-implementing the model in SQL, which would verify nothing. Rows-only
    by design; correctness carried by the bitwise NumPy-parity pin in
    tests/test_model.py."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.functions.bpe import full_text_col, with_token_arrays
    from bran_spark.model.rerank import rerank_pairs
    from bran_spark.operators.search import bm25_topk
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    s = _fixture_sf_for(sf)
    ensure(s)
    cfg = PipelineConfig(
        fixture_dir=fixture_dir(s),
        checkpoint_root="/tmp/bran_ckpt_q",
        checkpoint=False,
    )
    p = Pipeline(spark, cfg)
    docs = p._even_repartition(p.documents()).withColumn(
        "full_text", full_text_col("spans")
    )
    # query = the corpus's two most frequent words (deterministic count +
    # lexicographic tie-break): the fixture lexicon is synthetic, so the
    # query must be derived from the corpus itself, exactly as a smoke
    # query against an unknown corpus would be
    terms = [
        r.word
        for r in docs.select(
            F.explode(F.split(F.lower("full_text"), " +")).alias("word")
        )
        .groupBy("word")
        .count()
        .orderBy(F.desc("count"), "word")
        .limit(2)
        .collect()
    ]
    cands = bm25_topk(
        docs, terms, id_col="doc_id", text_col="full_text", k=10
    )
    cand_toks = with_token_arrays(
        docs.join(cands.select("doc_id"), "doc_id"),
        p.codec_bc(),
        max_tokens=cfg.max_tokens,
    ).select(
        F.col("doc_id").alias("cand_id"), F.col("tok_ids").alias("c_tok_ids")
    )
    query = with_token_arrays(
        spark.createDataFrame(
            [("q0", " ".join(terms))], "query_id string, full_text string"
        ),
        p.codec_bc(),
        max_tokens=cfg.max_tokens,
    ).select("query_id", F.col("tok_ids").alias("q_tok_ids"))
    pairs = cand_toks.crossJoin(F.broadcast(query))
    return rerank_pairs(pairs, p.weights_bc())


# integer value of the first 8 md5 hex digits of the shingle — the mod-p
# sampling coin of the Broder shingle sketch (q114), engine-replayable
_SHINGLE_COIN_SQL = "((strpos('0123456789abcdef', substr(md5(shingle), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(shingle), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(shingle), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(shingle), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(shingle), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(shingle), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(shingle), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(shingle), 8, 1)) - 1) * 1)"


@_q(
    "q114_containment_sampled",
    f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(ws) - 3, 0) + 1), i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')))) AS shingle
           FROM d),
    sh AS (SELECT doc_id, shingle FROM sh0
           WHERE {_SHINGLE_COIN_SQL} % 4 = 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 30),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
               FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           ROUND(common / sa.n_sh, 6) AS containment_a,
           ROUND(common / sb.n_sh, 6) AS containment_b
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / sa.n_sh >= 0.4 OR common / sb.n_sh >= 0.4
    """,
)
def q114(spark, sf):
    """Mod-4 SAMPLED containment (Broder's shingle sketch over q95's exact
    form): index, sizes, and overlap counts all live in the same
    1/4-sampled shingle subspace — unbiased containment estimates at ~4×
    lower index/join cost. Exact containment (q95) is the corpus-slice
    tool; this sketch is the 10^12-doc corpus-wide path. The sampling coin
    is md5-content-keyed, deterministic on both engines
    (operators/dedup.containment_pairs sample_mod=4)."""
    from bran_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf, "documents"), "doc_id", "text",
        n=3, min_containment=0.4, max_df=30, sample_mod=4,
    )


@_q(
    "q115_dsir_resample",
    f"""
    WITH d AS (SELECT doc_id, source,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    tokr AS (SELECT doc_id, unnest(ws) AS w FROM d),
    tokt AS (SELECT unnest(ws) AS w FROM d WHERE source = 'src0'),
    rf AS (SELECT w, COUNT(*)::DOUBLE AS c_r FROM tokr GROUP BY w),
    tf AS (SELECT w, COUNT(*)::DOUBLE AS c_t FROM tokt GROUP BY w),
    vocab AS (SELECT COALESCE(rf.w, tf.w) AS w,
                     COALESCE(c_r, 0) AS c_r, COALESCE(c_t, 0) AS c_t
              FROM rf FULL OUTER JOIN tf ON rf.w = tf.w),
    tots AS (SELECT COUNT(*)::DOUBLE AS v, SUM(c_r) AS tot_r,
                    SUM(c_t) AS tot_t FROM vocab),
    lr AS (SELECT w, ln((c_t + 1) / (tot_t + v))
                    - ln((c_r + 1) / (tot_r + v)) AS lr
           FROM vocab, tots),
    scored AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tok,
                      ROUND(AVG(lr) + 1e-9, 6) AS logratio
               FROM tokr JOIN lr USING (w) GROUP BY doc_id),
    h AS (SELECT doc_id, n_tok, logratio, md5(doc_id::VARCHAR) AS h
          FROM scored)
    SELECT doc_id, n_tok, logratio,
           ROUND(logratio - ln(-ln((CAST({_SAMPLE_KEY_SQL} AS BIGINT) + 1)
                                   / 65537.0)), 6) AS resample_key
    FROM h
    ORDER BY resample_key DESC, doc_id LIMIT 60
    """,
)
def q115(spark, sf):
    """DSIR importance resampling (Xie et al. 2023): pick the 60 corpus
    docs most like the src0 in-domain slice by Laplace-smoothed unigram
    log-likelihood ratio, drawn via the deterministic md5-Gumbel top-k
    (sample ∝ exp(logratio) without replacement). Zipf-hot words ride a
    broadcast join; the draw is TakeOrderedAndProject
    (operators/sampling.importance_resample)."""
    from bran_spark.operators.sampling import importance_resample

    docs = _t(spark, sf, "documents")
    return importance_resample(
        docs, docs.where(F.col("source") == "src0"), "doc_id", "text", k=60
    )


# md5-derived 32-bit int of an arbitrary SQL expression {x} — the shingle
# hash of the winnowing fingerprints (q116), usable inside list lambdas
_MD5INT8 = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5({{x}}), {i + 1}, 1)) - 1)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
) + ")"

_WINNOW_WIN = "list_slice(h, j + 1, j + 4)"


_WINNOW_CTES = f"""
    d AS (SELECT doc_id,
                 string_split_regex(trim(lower(text)), ' +') AS ws
          FROM documents),
    s AS (SELECT doc_id, {_SHINGLE_SQL.format(n=3)} AS sh FROM d),
    hh AS (SELECT doc_id,
                  list_transform(sh, s -> {_MD5INT8.format(x="s")}) AS h
           FROM s),
    sel AS (SELECT doc_id,
                   unnest(list_transform(
                       range(greatest(len(h) - 4, 0) + 1),
                       j -> {{'pos': j + len({_WINNOW_WIN})
                                     - list_position(list_reverse({_WINNOW_WIN}),
                                                     list_min({_WINNOW_WIN})),
                             'fp': list_min({_WINNOW_WIN})}})) AS s
            FROM hh),
    wfp AS MATERIALIZED (SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos,
                   CAST(s.fp AS BIGINT) AS fp
            FROM sel)"""


@_q(
    "q116_winnow_fingerprints",
    f"WITH {_WINNOW_CTES} SELECT doc_id, pos, fp FROM wfp",
)
def q116(spark, sf):
    """Winnowing fingerprints (Schleimer et al. 2003, MOSS): per-window
    minimum of md5 3-gram hashes, window 4, rightmost-min tie-break —
    guaranteed-coverage local fingerprints for sub-document similarity.
    Entirely row-local array math; zero shuffles
    (operators/dedup.winnow_fingerprints)."""
    from bran_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf, "documents"), "doc_id", "text", n=3, window=4
    )


@_q(
    "q117_adamic_adar",
    _FX_PAIRS_SQL
    + """
    , nz AS (SELECT u AS z, v AS x FROM sym),
    deg AS (SELECT z, COUNT(*) AS deg FROM nz GROUP BY z),
    nzk AS (SELECT nz.z, nz.x, deg FROM nz JOIN deg USING (z)
            WHERE deg <= 50),
    wdg AS (SELECT a.x AS u, b.x AS v, a.deg AS deg
            FROM nzk a JOIN nzk b ON a.z = b.z AND a.x < b.x),
    cand AS (SELECT u, v, COUNT(*)::BIGINT AS common,
                    ROUND(SUM(1.0 / ln(deg)) + 1e-9, 6) AS aa_score
             FROM wdg GROUP BY u, v HAVING COUNT(*) >= 2)
    SELECT u, v, common, aa_score
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.u = cand.u AND e.v = cand.v)
    """,
)
def q117(spark, sf):
    """Adamic-Adar link prediction over the KG co-occurrence graph:
    Σ 1/ln deg(z) over common neighbors of non-adjacent pairs — the
    missing-edge ranking for KG completion. Wedge centers df-cut at deg 50
    (explicit estimator truncation), degree attach by shuffle join, known
    edges anti-joined out (operators/graphalgo.adamic_adar)."""
    from bran_spark.operators.graphalgo import adamic_adar, symmetric_edges

    return adamic_adar(
        symmetric_edges(_fx_entity_pairs(spark, sf)),
        max_hub_deg=50,
        min_common=2,
    )


@_q(
    "q118_eval_by_entity",
    f"""
    WITH {_PIPE_CTES}
    , cells AS (SELECT chem_mesh,
                   CAST(SUM(CASE WHEN s >= 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s >= 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN s <  0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
                FROM scored GROUP BY chem_mesh)
    SELECT chem_mesh AS slice, tp, fp, fn,
           CAST(CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp/(tp+fp) END AS DOUBLE) AS precision,
           CAST(CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp/(tp+fn) END AS DOUBLE) AS recall,
           CAST(CASE WHEN 2*tp+fp+fn = 0 THEN 0.0 ELSE 2.0*tp/(2*tp+fp+fn) END AS DOUBLE) AS f1
    FROM cells
    """,
)
def q118(spark, sf):
    """Sliced evaluation: per-chemical-entity micro P/R/F1 of the
    thresholded predictions vs pseudo-gold — the error breakdown that
    shows WHICH entities the extractor fails on (macro averages are one
    tiny aggregate over this table). Same single union+marker shuffle as
    q25's confusion (operators/evaluate.confusion_by)."""
    from bran_spark.operators.evaluate import confusion_by

    scored = _scored(spark, sf)
    predicted = scored.where(F.col("s") >= 0).select(
        "doc_id", "chem_mesh", "dis_mesh"
    )
    gold = scored.where(F.col("label") == 1).select(
        "doc_id", "chem_mesh", "dis_mesh"
    )
    return confusion_by(predicted, gold, "chem_mesh")


def _trim_sql(rounds: int) -> str:
    """Unrolled forward+backward trim for the cycle-residue twin: mesh
    parent edges + deterministically planted back-edges (md5 coin on the
    edge string, mod 17), then ``rounds`` rounds of dropping edges whose
    source lacks an incoming or whose target lacks an outgoing edge."""
    coin = _MD5INT8.format(x="child || '|' || parent")
    parts = [
        f"""
    WITH he AS (SELECT mesh_id AS child, unnest(parents) AS parent
                FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             SELECT child AS u, parent AS v FROM he
             UNION ALL
             SELECT parent AS u, child AS v FROM he
             WHERE {coin} % 17 = 0))"""
    ]
    # MATERIALIZED: each round references the prior round three times —
    # left to inline, the planner would expand 3^rounds parquet scans
    for r in range(1, rounds + 1):
        parts.append(f"""
    , e{r} AS MATERIALIZED (SELECT u, v FROM e{r - 1}
               WHERE u IN (SELECT v FROM e{r - 1})
                 AND v IN (SELECT u FROM e{r - 1}))""")
    parts.append(f"""
    SELECT DISTINCT node FROM (SELECT u AS node FROM e{rounds}
                               UNION ALL SELECT v FROM e{rounds})""")
    return "".join(parts)


@_q("q119_cycle_residue", _trim_sql(12))
def q119(spark, sf):
    """Hierarchy cycle detection (ontology data contract): forward+
    backward trim to fixed point — a DAG empties, anything left is
    entangled in cycles. Input = the MeSH parent DAG plus planted
    back-edges (reversals of the md5-coin ≡ 0 mod 17 edges), so the
    residue is non-empty and deterministic on both engines
    (operators/graphalgo.cycle_residue)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.graphalgo import cycle_residue

    s = _fixture_sf_for(sf)
    ensure(s)
    dict_df = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    he = dict_df.select(
        F.col("mesh_id").alias("child"), F.explode("parents").alias("parent")
    )
    coin = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "child", "parent")), 1, 8),
            16,
            10,
        ).cast("long") % 17
    )
    edges = he.select(
        F.col("child").alias("u"), F.col("parent").alias("v")
    ).unionByName(
        he.where(coin == 0).select(
            F.col("parent").alias("u"), F.col("child").alias("v")
        )
    )
    return cycle_residue(edges, max_rounds=12)


@_q(
    "q120_mix_divergence",
    """
    WITH ca AS (SELECT source AS g, COUNT(*)::DOUBLE AS n_a FROM documents
                WHERE doc_id % 2 = 0 GROUP BY source),
    cb AS (SELECT source AS g, COUNT(*)::DOUBLE AS n_b FROM documents
           WHERE doc_id % 2 = 1 GROUP BY source),
    m AS (SELECT COALESCE(ca.g, cb.g) AS g, COALESCE(n_a, 0) AS n_a,
                 COALESCE(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.g = cb.g),
    t AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n_a) AS tot_a,
                 SUM(n_b) AS tot_b FROM m),
    pq AS (SELECT g, (n_a + 0.5) / (tot_a + 0.5 * k) AS p,
                  (n_b + 0.5) / (tot_b + 0.5 * k) AS q
           FROM m, t)
    SELECT g, ROUND(p, 6) AS p_a, ROUND(q, 6) AS p_b,
           ROUND(p * ln(p / q) + 1e-9, 6) AS kl_ab_term,
           ROUND(q * ln(q / p) + 1e-9, 6) AS kl_ba_term,
           ROUND((p * ln(p / ((p + q) / 2))
                  + q * ln(q / ((p + q) / 2))) / 2 + 1e-9, 6) AS js_term
    FROM pq
    """,
)
def q120(spark, sf):
    """Domain-mix drift between two corpus snapshots (even vs odd doc_id
    halves): per-source smoothed shares + pointwise KL/JS terms — the
    new-crawl mixture monitor; totals are one SUM over this tiny table.
    Two group aggregates + a 1-row totals broadcast, nothing corpus-scale
    shuffles (operators/quality.mix_divergence)."""
    from bran_spark.operators.quality import mix_divergence

    docs = _t(spark, sf, "documents")
    return mix_divergence(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        "source",
    )


@_q(
    "q121_bigram_logprob",
    """
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    big AS (SELECT doc_id,
                   unnest(list_transform(range(len(ws) - 1),
                          i -> {'w1': ws[i + 1], 'w2': ws[i + 2]})) AS b
            FROM d WHERE len(ws) >= 2),
    bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM big),
    c12 AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT w)::DOUBLE AS v
           FROM (SELECT unnest(ws) AS w FROM d)),
    probs AS (SELECT c12.w1, c12.w2,
                     ln((c12 + 0.1) / (c1 + 0.1 * v)) AS lp
              FROM c12 JOIN c1 USING (w1), vv)
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigram,
           ROUND(AVG(lp) + 1e-9, 6) AS logprob
    FROM bg JOIN probs USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q121(spark, sf):
    """Bigram-LM quality score (CCNet-style LM bucketing, Wenzek et al.
    2020): mean ln p(w2|w1) per doc under the corpus's own add-0.1 bigram
    model. Conditional probabilities assembled by joining the two
    dimension-scale count tables (never the token stream on the skewed
    first word); the bigram stream attaches once on the flat composite
    key with a hot-bigram broadcast split
    (operators/quality.bigram_logprob)."""
    from bran_spark.operators.quality import bigram_logprob

    return bigram_logprob(_t(spark, sf, "documents"), "doc_id", "text")


@_q(
    "q122_embedding_outliers",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, ix.dim AS dim, v[ix.dim] AS x
          FROM v, (SELECT unnest(range(1, 65)) AS dim) ix),
    cent AS (SELECT dim, AVG(x) AS c FROM e GROUP BY dim),
    agg AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm,
                   sqrt(SUM((x - c) * (x - c))) AS dist
            FROM e JOIN cent USING (dim) GROUP BY vec_id),
    mo AS (SELECT AVG(nrm) AS mu_n, stddev_pop(nrm) AS sd_n,
                  AVG(dist) AS mu_d, stddev_pop(dist) AS sd_d FROM agg),
    z AS (SELECT vec_id,
                 ROUND((nrm - mu_n) / greatest(sd_n, 1e-12) + 1e-9, 6) AS norm_z,
                 ROUND((dist - mu_d) / greatest(sd_d, 1e-12) + 1e-9, 6) AS dist_z
          FROM agg, mo)
    SELECT vec_id, norm_z, dist_z,
           CAST(CASE WHEN abs(norm_z) > 3.0 OR abs(dist_z) > 3.0
                     THEN 1 ELSE 0 END AS INT) AS is_outlier
    FROM z
    """,
)
def q122(spark, sf):
    """Embedding-store hygiene: z-score every vector's L2 norm and its
    distance to the global centroid, flag |z| > 3 — the cheap corrupt-
    vector detector run before ANN indexing / semantic dedup. Centroid +
    moments are O(d) broadcasts; the scoring pass is a pure projection
    (operators/similarity.embedding_outliers)."""
    from bran_spark.operators.similarity import embedding_outliers

    return embedding_outliers(_t(spark, sf, "embeddings"))


@_q(
    "q123_winnow_overlap",
    f"""
    WITH {_WINNOW_CTES},
    fpd AS (SELECT DISTINCT doc_id, fp FROM wfp),
    hot AS (SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) > 30),
    kept AS (SELECT doc_id, fp FROM fpd
             WHERE fp NOT IN (SELECT fp FROM hot))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b HAVING COUNT(*) >= 3
    """,
)
def q123(spark, sf):
    """MOSS-style local-overlap candidates: doc pairs sharing ≥3 distinct
    winnowing fingerprints — localized copy detection where whole-doc
    Jaccard dilutes away small shared runs. Fingerprint index is
    ~2/(w+1) of the shingle index; hot fingerprints broadcast-anti-cut
    before the self-join (operators/dedup.winnow_overlap_pairs)."""
    from bran_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _t(spark, sf, "documents"), "doc_id", "text",
        n=3, window=4, min_shared=3, max_df=30,
    )


@_q(
    "q124_jl_projection",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    mat AS (SELECT dd.dim AS dim, oo.o AS o,
                   1 - 2 * ({_MD5INT8.format(x="dd.dim || '|' || oo.o")} % 2)
                   AS sgn
            FROM (SELECT unnest(range(64)) AS dim) dd,
                 (SELECT unnest(range(16)) AS o) oo),
    e AS (SELECT vec_id, ix.dim AS dim, v[ix.dim + 1] AS x
          FROM v, (SELECT unnest(range(64)) AS dim) ix)
    SELECT vec_id, o, ROUND(SUM(x * sgn) / sqrt(16.0) + 1e-9, 6) AS val
    FROM e JOIN mat USING (dim)
    GROUP BY vec_id, o
    """,
)
def q124(spark, sf):
    """Johnson-Lindenstrauss ±1 random projection 64→16 dims (Achlioptas
    2003): the matrix is REGENERATED from md5 coins on (dim, out) — no
    stored state, identical on both engines and for incrementally
    arriving vectors. Matrix broadcast, one (vec, o) aggregate
    (operators/similarity.jl_project)."""
    from bran_spark.operators.similarity import jl_project

    return jl_project(_t(spark, sf, "embeddings"), in_dims=64, out_dims=16)


@_q(
    "q125_countmin_audit",
    f"""
    WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), ' +'))
                 AS w FROM documents),
    cells AS (SELECT r.row AS row,
                     {_MD5INT8.format(x="r.row || '|' || w")} % 256 AS col
              FROM tok, (SELECT unnest(range(4)) AS row) r),
    sketch AS (SELECT row, col, COUNT(*)::BIGINT AS cnt
               FROM cells GROUP BY row, col),
    exact AS (SELECT w, COUNT(*)::BIGINT AS exact FROM tok GROUP BY w
              ORDER BY exact DESC, w LIMIT 20),
    probes AS (SELECT w, exact, r.row AS row,
                      {_MD5INT8.format(x="r.row || '|' || w")} % 256 AS col
               FROM exact, (SELECT unnest(range(4)) AS row) r)
    SELECT probes.w AS w, exact, MIN(cnt) AS est
    FROM probes JOIN sketch USING (row, col)
    GROUP BY probes.w, exact
    """,
)
def q125(spark, sf):
    """Count-min sketch audit (Cormode & Muthukrishnan 2005): 4×256
    md5-hashed cell counts — the fixed-size replacement for an unbounded
    word-count aggregate — scored against the exact top-20 words
    (est ≥ exact always; overestimate bounded by εN). The token stream
    aggregates straight to depth×width rows with map-side combine
    (functions/text.countmin_heavy_hitters)."""
    from bran_spark.functions.text import countmin_heavy_hitters

    return countmin_heavy_hitters(
        _t(spark, sf, "documents"), "doc_id", "text",
        width=256, depth=4, k=20,
    )


def _luby_sql(rounds: int) -> str:
    """Unrolled Luby MIS twin over the fixture co-occurrence graph:
    md5-string priorities, per-round select/deactivate, MATERIALIZED so
    the multiply-referenced per-round sets are not exponentially
    inlined."""
    parts = [
        _FX_PAIRS_SQL
        + """
    , act0 AS MATERIALIZED (SELECT DISTINCT u FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    , ae{r} AS MATERIALIZED (SELECT e.u, e.v FROM sym e
                 JOIN act{r - 1} a1 ON e.u = a1.u
                 JOIN act{r - 1} a2 ON e.v = a2.u),
    nm{r} AS (SELECT u, MAX(md5(v) || v) AS mx FROM ae{r} GROUP BY u),
    sel{r} AS MATERIALIZED (SELECT a.u FROM act{r - 1} a
                 LEFT JOIN nm{r} m ON m.u = a.u
                 WHERE m.mx IS NULL OR md5(a.u) || a.u > m.mx),
    act{r} AS MATERIALIZED (SELECT u FROM act{r - 1}
                 WHERE u NOT IN (SELECT u FROM sel{r})
                   AND u NOT IN (SELECT e.u FROM ae{r} e
                                 JOIN sel{r} s ON e.v = s.u))""")
    union = " UNION ".join(f"SELECT u FROM sel{r}" for r in range(1, rounds + 1))
    parts.append(f"""
    SELECT u AS node FROM ({union})""")
    return "".join(parts)


@_q("q126_luby_mis", _luby_sql(8))
def q126(spark, sf):
    """Deterministic Luby maximal independent set over the KG
    co-occurrence graph (md5-string priorities — reproducible parallel
    rounds): the conflict-free batch-scheduling primitive (no two chosen
    entities adjacent, every unchosen entity blocked by a chosen
    neighbor). Per round: two semi-joins + one max-aggregate + two
    anti-joins on the shrinking active set
    (operators/graphalgo.luby_mis)."""
    from bran_spark.operators.graphalgo import luby_mis, symmetric_edges

    return luby_mis(symmetric_edges(_fx_entity_pairs(spark, sf)), max_rounds=8)


@_q(
    "q127_ann_recall",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    d AS (SELECT e.vec_id, e.v, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6) AS dist
          FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, cid AS cell FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d)
          WHERE rn = 1),
    q AS (SELECT v AS qv FROM a WHERE vec_id = 0),
    probe AS (SELECT c.cid AS cell FROM c, q
              ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(c.cv, q.qv)
                        + list_dot_product(q.qv, q.qv), 6), c.cid
              LIMIT 1),
    appr AS (SELECT a.vec_id FROM a, q, probe
             WHERE a.vec_id != 0 AND a.cell = probe.cell
             ORDER BY ROUND(list_dot_product(a.v, q.qv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, vec_id
             LIMIT 10),
    exct AS (SELECT a.vec_id FROM a, q WHERE a.vec_id != 0
             ORDER BY ROUND(list_dot_product(a.v, q.qv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, vec_id
             LIMIT 10)
    SELECT CAST(0 AS BIGINT) AS query_id,
           CAST((SELECT COUNT(*) FROM exct) AS BIGINT) AS n_exact,
           CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / (SELECT COUNT(*) FROM exct)::DOUBLE, 6) AS recall
    FROM exct JOIN appr USING (vec_id)
    """,
)
def q127(spark, sf):
    """ANN recall@10 as a first-class eval operator: single-probe IVF
    (q42's index) scored against the exact cosine ranking (q30) for
    query 0 — the probes-vs-recall dial an index owner tunes. One
    (query, id) equi-join over two k-row lists
    (operators/similarity.ann_recall)."""
    from bran_spark.operators.similarity import ann_recall, cosine_topk, ivf_topk

    emb = _t(spark, sf, "embeddings")
    ex = cosine_topk(emb, query_id=0, k=10).select(
        F.lit(0).cast("long").alias("query_id"), "vec_id"
    )
    ap = ivf_topk(emb, query_id=0, k=10).select(
        F.lit(0).cast("long").alias("query_id"), "vec_id"
    )
    return ann_recall(ex, ap)


def _harmonic_sql(max_hops: int, n_seeds: int) -> str:
    """Unrolled multi-source BFS for the harmonic-centrality twin:
    ``n_seeds`` lowest chemical ids advance as (seed, u) frontiers;
    MATERIALIZED per round (each set is referenced 2-3× downstream)."""
    parts = [
        f"""
    , sd AS (SELECT DISTINCT subj AS s FROM pairs ORDER BY s LIMIT {n_seeds}),
    f0 AS MATERIALIZED (SELECT s AS seed, s AS u FROM sd),
    d0 AS MATERIALIZED (SELECT seed, u, 0 AS dist FROM f0)"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(f"""
    , f{h} AS MATERIALIZED (
        SELECT DISTINCT pf.seed, e.v AS u
        FROM sym e JOIN f{h - 1} pf ON e.u = pf.u
        WHERE NOT EXISTS (SELECT 1 FROM d{h - 1} x
                          WHERE x.seed = pf.seed AND x.u = e.v)),
    d{h} AS MATERIALIZED (SELECT seed, u, dist FROM d{h - 1}
              UNION ALL SELECT seed, u, {h} AS dist FROM f{h})""")
    parts.append(f"""
    SELECT u AS entity, CAST(COUNT(*) AS BIGINT) AS n_reached,
           ROUND(SUM(1.0 / dist) + 1e-9, 6) AS harmonic
    FROM d{max_hops} WHERE dist > 0 GROUP BY u""")
    return "".join(parts)


@_q("q128_harmonic_centrality", _FX_PAIRS_SQL + _harmonic_sql(4, 4))
def q128(spark, sf):
    """Seed-sampled harmonic centrality (Eppstein-Wang family): Σ 1/d(s,v)
    from the 4 lowest chemical entities, 4-hop bound — the closeness-style
    reachability ranking PageRank mass does not give. One multi-source
    BFS: all seed frontiers advance as (seed, node) rows through the same
    per-hop join, so hops — not seeds — set the shuffle count
    (operators/graphalgo.harmonic_centrality)."""
    from bran_spark.operators.graphalgo import harmonic_centrality, symmetric_edges

    pairs = _fx_entity_pairs(spark, sf)
    seeds = (
        pairs.select("subj").distinct().orderBy("subj").limit(4)
    )
    return harmonic_centrality(
        symmetric_edges(pairs), seeds, max_hops=4
    )


@_q(
    "q129_rrf_hybrid",
    f"""
    WITH wl AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    base AS (SELECT doc_id, len(ws)::DOUBLE AS dl, ws FROM wl),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM base),
    tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM base),
    tf AS (SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM tok
           WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}')
           GROUP BY doc_id, dl, term),
    dft AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term),
    bmr AS (SELECT doc_id,
                   ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                             * (tf * 2.2)
                             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                         6) AS s
            FROM tf JOIN dft USING (term), stats
            GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT 20),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cosr AS (SELECT vec_id AS doc_id,
                    ROUND(list_dot_product(e.v, q.qv)
                          / (sqrt(list_dot_product(e.v, e.v))
                             * sqrt(list_dot_product(q.qv, q.qv))), 6) AS s
             FROM e, q WHERE vec_id != 0
             ORDER BY s DESC, doc_id LIMIT 20),
    r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
           FROM bmr),
    r2 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
           FROM cosr),
    allc AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM r1
             UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM r2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
           ROUND(SUM(c) + 1e-9, 6) AS rrf_score
    FROM allc GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def q129(spark, sf):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    BM25 lexical top-20 + exact-cosine embedding top-20 (doc_id ≡ vec_id
    in the synthetic store) fused as Σ 1/(60+rank) — the modern RAG
    default; rank fusion needs no cross-retriever score calibration.
    Each list is 20 rows, so the fusion windows are trivially bounded
    (operators/search.rrf_fuse)."""
    from bran_spark.operators.search import bm25_topk, rrf_fuse
    from bran_spark.operators.similarity import cosine_topk

    bm = bm25_topk(_t(spark, sf, "documents"), list(_BM25_TERMS), k=20)
    cos = cosine_topk(_t(spark, sf, "embeddings"), query_id=0, k=20).select(
        F.col("vec_id").alias("doc_id"), "cos"
    )
    return rrf_fuse([bm, cos], id_col="doc_id", k=60, top=10)


def _mmr_sql(k: int) -> str:
    """Unrolled greedy MMR twin: 15 cosine candidates + pairwise sims,
    then ``k`` argmax-pick rounds (MATERIALIZED — each selected set is
    referenced by the next round's correlated max-sim subquery)."""
    parts = [
        """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT vec_id AS id,
               ROUND(list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel,
               v
        FROM e, q WHERE vec_id != 0 ORDER BY rel DESC, vec_id LIMIT 15),
    sims AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM cand a JOIN cand b ON a.id != b.id),
    p1 AS MATERIALIZED (SELECT id, ROUND(0.7 * rel + 1e-9, 6) AS mmr,
                               1 AS rank
                        FROM cand ORDER BY mmr DESC, id LIMIT 1),
    sel1 AS MATERIALIZED (SELECT id, mmr, rank FROM p1)"""
    ]
    for i in range(2, k + 1):
        parts.append(f"""
    , p{i} AS MATERIALIZED (
        SELECT id, ROUND(0.7 * rel - (1 - 0.7) * COALESCE(ms, 0) + 1e-9, 6)
                   AS mmr, {i} AS rank
        FROM (SELECT c.id, c.rel,
                     (SELECT MAX(s.sim) FROM sims s
                      JOIN sel{i - 1} p ON s.id_b = p.id
                      WHERE s.id_a = c.id) AS ms
              FROM cand c WHERE c.id NOT IN (SELECT id FROM sel{i - 1}))
        ORDER BY mmr DESC, id LIMIT 1),
    sel{i} AS MATERIALIZED (SELECT id, mmr, rank FROM sel{i - 1}
                            UNION ALL SELECT id, mmr, rank FROM p{i})""")
    parts.append(f"""
    SELECT rank, id AS vec_id, mmr FROM sel{k}""")
    return "".join(parts)


@_q("q130_mmr_rerank", _mmr_sql(5))
def q130(spark, sf):
    """MMR diversification (Carbonell & Goldstein 1998) of the exact-
    cosine top-15 for query 0: greedy λ·rel − (1−λ)·max-sim-to-selected,
    5 picks — the RAG-serving pass that stops the context window being
    five paraphrases of one passage. Greedy runs over the bounded
    candidate list only (operators/search.mmr_rerank)."""
    from bran_spark.operators.search import mmr_rerank
    from bran_spark.operators.similarity import cosine, cosine_topk, _as_double

    emb = _t(spark, sf, "embeddings")
    cand = cosine_topk(emb, query_id=0, k=15)
    cvec = emb.join(cand.select("vec_id"), "vec_id", "left_semi").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    a = cvec.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = cvec.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    sims = a.join(F.broadcast(b), F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim")
    )
    out = mmr_rerank(
        cand.select(F.col("vec_id").alias("id"), "cos"), sims, k=5, lam=0.7
    )
    return out.select("rank", F.col("id").alias("vec_id"), "mmr")


@_q(
    "q131_rendezvous_shards",
    f"""
    WITH c AS (SELECT doc_id, s.s AS s,
                      {_MD5INT8.format(x="s.s || '|' || doc_id")} AS coin
               FROM documents, (SELECT unnest(range(8)) AS s) s),
    r AS (SELECT doc_id, s,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY coin DESC, s DESC) AS rn
          FROM c)
    SELECT doc_id, CAST(s AS INT) AS shard FROM r WHERE rn = 1
    """,
)
def q131(spark, sf):
    """Rendezvous (highest-random-weight) sharding across 8 shards
    (Thaler-Ravishankar): argmax of per-shard md5 coins — consistent
    placement where growing N moves only ~1/(N+1) of keys (mod-N moves
    nearly all). Row-local array argmax, zero shuffle
    (operators/sampling.rendezvous_assign)."""
    from bran_spark.operators.sampling import rendezvous_assign

    return rendezvous_assign(
        _t(spark, sf, "documents"), "doc_id", n_shards=8
    ).select("doc_id", "shard")


@_q(
    "q132_bloom_audit",
    f"""
    WITH mem AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    prb AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
    mb AS (SELECT DISTINCT ({_MD5INT8.format(x="j.j || '|' || doc_id")})
                  % 4096 AS bit
           FROM mem, (SELECT unnest(range(3)) AS j) j),
    pb AS (SELECT doc_id, ({_MD5INT8.format(x="j.j || '|' || doc_id")})
                  % 4096 AS bit
           FROM prb, (SELECT unnest(range(3)) AS j) j),
    hits AS (SELECT doc_id FROM pb JOIN mb USING (bit)
             GROUP BY doc_id HAVING COUNT(*) = 3)
    SELECT CAST((SELECT COUNT(*) FROM mem) AS BIGINT) AS n_members,
           CAST((SELECT COUNT(*) FROM mb) AS BIGINT) AS n_bits_set,
           CAST((SELECT COUNT(*) FROM prb) AS BIGINT) AS n_probes,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_fp,
           ROUND((SELECT COUNT(*) FROM hits)
                 / (SELECT COUNT(*) FROM prb)::DOUBLE, 6) AS fpr,
           ROUND(pow(1 - exp(-3.0 * (SELECT COUNT(*) FROM mem) / 4096.0),
                     3), 6) AS fpr_bound
    """,
)
def q132(spark, sf):
    """Bloom-filter audit (Bloom 1970): build the 4096-bit/3-hash filter
    of the even doc_ids as a set-bit-position table, probe with the odd
    half (known non-members), and report measured FPR next to the
    (1−e^{−kn/m})^k bound — the sizing audit before a Bloom-gated
    anti-join prunes a 10^12-row shuffle map-side
    (operators/dedup.bloom_audit)."""
    from bran_spark.operators.dedup import bloom_audit

    docs = _t(spark, sf, "documents")
    return bloom_audit(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        "doc_id",
        m_bits=4096,
        k_hashes=3,
    )


@_q(
    "q133_cluster_safe_split",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, MIN(lab) AS component FROM r GROUP BY node),
    lab AS (SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS cluster
            FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
    co AS (SELECT doc_id, cluster,
                  ({_MD5INT8.format(x="cluster::VARCHAR")}) % 100 AS coin
           FROM lab)
    SELECT doc_id, cluster,
           CASE WHEN coin < 80 THEN 'train'
                WHEN coin < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM co
    """,
)
def q133(spark, sf):
    """Leakage-safe train/val/test split: the md5 split coin is drawn on
    the near-dup CLUSTER (MinHash-LSH pairs → connected components), so
    duplicate copies of a page can never straddle train and test — the
    contamination bug this operator makes structurally impossible.
    Isolated docs fall back to their own id
    (operators/components.cluster_safe_split)."""
    from bran_spark.operators.components import cluster_safe_split

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=4, bands=4, hash_fn="md5"
    )
    return cluster_safe_split(docs, pairs, "doc_id")


def _setcover_sql(k: int, pool: int) -> str:
    """Unrolled greedy max-coverage twin: bounded candidate pool, per-step
    argmax of uncovered-word gain, MATERIALIZED covered/selected sets."""
    parts = [
        f"""
    WITH tok0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, w FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), ' +')) AS w
            FROM documents)),
    poolids AS MATERIALIZED (
        SELECT id FROM (SELECT id, COUNT(*) AS nw FROM tok0 GROUP BY id
                        ORDER BY nw DESC, id LIMIT {pool})),
    tok AS MATERIALIZED (SELECT tok0.id, tok0.w FROM tok0
                         JOIN poolids USING (id)),
    g1 AS (SELECT id, COUNT(*) AS gain FROM tok GROUP BY id),
    p1 AS MATERIALIZED (SELECT id, gain, 1 AS rank FROM g1
                        ORDER BY gain DESC, id LIMIT 1),
    cov1 AS MATERIALIZED (SELECT DISTINCT w FROM tok JOIN p1 USING (id)),
    sel1 AS MATERIALIZED (SELECT rank, id, gain FROM p1)"""
    ]
    for i in range(2, k + 1):
        parts.append(f"""
    , g{i} AS (SELECT t.id, COUNT(*) AS gain FROM tok t
               WHERE t.id NOT IN (SELECT id FROM sel{i - 1})
                 AND t.w NOT IN (SELECT w FROM cov{i - 1})
               GROUP BY t.id),
    p{i} AS MATERIALIZED (SELECT id, gain, {i} AS rank FROM g{i}
                          ORDER BY gain DESC, id LIMIT 1),
    cov{i} AS MATERIALIZED (SELECT w FROM cov{i - 1}
                            UNION SELECT w FROM tok JOIN p{i} USING (id)),
    sel{i} AS MATERIALIZED (SELECT rank, id, gain FROM sel{i - 1}
                            UNION ALL SELECT rank, id, gain FROM p{i})""")
    parts.append(f"""
    SELECT rank, id, CAST(gain AS BIGINT) AS gain,
           CAST(SUM(gain) OVER (ORDER BY rank) AS BIGINT) AS covered_total
    FROM sel{k}""")
    return "".join(parts)


@_q("q134_greedy_set_cover", _setcover_sql(5, 20))
def q134(spark, sf):
    """Greedy maximum-coverage corpus selection ((1−1/e) guarantee):
    5 picks from the 20 largest-vocabulary docs, each maximizing newly
    covered distinct words — diversity-first data selection where
    quality-top-k picks near-copies. Bounded-pool greedy (k driver-side
    argmaxes, MMR legality); one corpus tokenize pass
    (operators/sampling.greedy_set_cover)."""
    from bran_spark.operators.sampling import greedy_set_cover

    return greedy_set_cover(
        _t(spark, sf, "documents"), "doc_id", "text", pool=20, k=5
    )


@_q(
    "q135_ewma_activity",
    """
    WITH e AS (SELECT event_id, user_id, epoch(ts)::DOUBLE AS t, value
               FROM events WHERE event_type = 'purchase'),
    b AS (SELECT *, MIN(t) OVER (PARTITION BY user_id) AS t0 FROM e),
    g AS (SELECT event_id, user_id, t, t0,
                 value * pow(2.0, (t - t0) / 86400.0) AS gv FROM b),
    s AS (SELECT event_id, user_id, t, t0,
                 SUM(gv) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS S
          FROM g)
    SELECT event_id, user_id,
           ROUND(pow(2.0, -(t - t0) / 86400.0) * S + 1e-9, 6) AS ewma
    FROM s
    """,
)
def q135(spark, sf):
    """Exponentially-decayed running activity score (1-day half-life)
    per user over purchase events — the recency-weighted feature a plain
    windowed sum cannot express. Closed form (per-key exponent rebasing
    + ONE running sum) replaces the naive per-arrival re-weighting
    self-join; single window shuffle
    (operators/asof.ewma_scores)."""
    from bran_spark.operators.asof import ewma_scores

    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    return ewma_scores(
        ev, "user_id", "ts", "value", "event_id", half_life_s=86400.0
    )


@_q(
    "q136_entity_salience",
    _FX_MENTIONS_SQL
    + """
    , cnt AS (SELECT doc_id, mesh_id, COUNT(*)::BIGINT AS n_mentions
              FROM m GROUP BY doc_id, mesh_id),
    dfm AS (SELECT mesh_id, COUNT(*)::DOUBLE AS df FROM cnt GROUP BY mesh_id),
    nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS nd FROM cnt),
    sal AS (SELECT doc_id, mesh_id, n_mentions,
                   ROUND(n_mentions * ln(nd / df) + 1e-9, 6) AS salience
            FROM cnt JOIN dfm USING (mesh_id), nd),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY salience DESC, mesh_id)
                     AS rank
           FROM sal)
    SELECT doc_id, mesh_id, n_mentions, salience, CAST(rank AS INT) AS rank
    FROM rk WHERE rank <= 3
    """,
)
def q136(spark, sf):
    """Per-document entity salience (tf·idf over the linked mention
    stream, top-3 per doc): which entities are TOPICAL for this abstract
    vs corpus background — the doc-level evidence weight raw mention
    counts get wrong for ubiquitous entities. Two dimension-scale
    counting aggregates + 1-row N broadcast + WindowGroupLimit
    (operators/pooling.entity_salience)."""
    from bran_spark.operators.pooling import entity_salience

    return entity_salience(_fx_mentions(spark, sf), k=3)


@_q(
    "q137_token_entropy",
    """
    WITH tok AS (SELECT doc_id,
                        unnest(string_split_regex(trim(lower(text)), ' +'))
                        AS w
                 FROM documents),
    cnt AS (SELECT doc_id, w, COUNT(*)::DOUBLE AS c FROM tok
            GROUP BY doc_id, w),
    per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
                   COUNT(*)::BIGINT AS n_distinct,
                   -SUM(c * ln(c)) AS sclogc
            FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tok, n_distinct,
           ROUND(ln(n_tok) + sclogc / n_tok + 1e-9, 6) AS entropy,
           ROUND(CASE WHEN n_distinct > 1
                      THEN (ln(n_tok) + sclogc / n_tok) / ln(n_distinct)
                      ELSE 0.0 END + 1e-9, 6) AS norm_entropy
    FROM per
    """,
)
def q137(spark, sf):
    """Per-doc Shannon entropy of the word distribution + the
    H/ln(n_distinct) normalized form — catches mass collapsed onto few
    tokens even when dup_word_frac looks healthy (template text,
    keyword stuffing). One doc-prefixed counting aggregate, skew-free
    by construction (operators/quality.token_entropy)."""
    from bran_spark.operators.quality import token_entropy

    return token_entropy(_t(spark, sf, "documents"), "doc_id", "text")


_KG_TRIPLES_UNION_SQL = """
        SELECT 'O:' || o_orderkey AS subj, 'placed_by' AS pred,
               'C:' || o_custkey AS obj FROM orders
        UNION ALL
        SELECT 'C:' || c_custkey, 'in_nation', 'N:' || c_nationkey
        FROM customer
        UNION ALL
        SELECT 'S:' || s_suppkey, 'in_nation', 'N:' || s_nationkey
        FROM supplier
        UNION ALL
        SELECT 'N:' || n_nationkey, 'in_region', 'R:' || n_regionkey
        FROM nation
        UNION ALL
        SELECT 'O:' || l_orderkey, 'contains', 'P:' || l_partkey
        FROM lineitem
        UNION ALL
        SELECT 'O:' || l_orderkey, 'uses_supplier', 'S:' || l_suppkey
        FROM lineitem
        UNION ALL
        SELECT 'P:' || l_partkey, 'supplied_by', 'S:' || l_suppkey
        FROM lineitem
        UNION ALL
        SELECT 'C:' || c_custkey, 'in_region_of', 'R:' || n_regionkey
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        UNION ALL
        SELECT 'O:' || o_orderkey, 'from_nation', 'N:' || c_nationkey
        FROM orders JOIN customer ON o_custkey = c_custkey
"""

_KG_TRIPLES_SQL = f"""
    WITH t AS (
      SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_UNION_SQL})
    )
"""


def _kg_relational_triples(spark, sf) -> DataFrame:
    """Multi-predicate KG lifted from the relational tables — the typed
    triple view a KG-construction pipeline materializes when it ingests a
    warehouse alongside text (entity ids are type-prefixed so key spaces
    never collide). Distinct by construction (r06, guide §2.3/§2.4): the
    union's branches can never collide (each carries a distinct pred
    literal), and within a branch every source is PK-unique EXCEPT the
    three lineitem liftings — so only those three dedup, and they dedup
    on the two INTEGER key columns BEFORE the string concat. The previous
    shape (one DISTINCT over the full ~2.3M-row string-triple union at
    sf0.1) shuffled three ~15-byte strings per row to dedup rows of which
    half were provably unique; this one shuffles three 16-byte int pairs
    (lineitem branches only) and exchanges nothing else."""

    def tr(df, s_pre, s_col, pred, o_pre, o_col):
        return df.select(
            F.concat(F.lit(s_pre), F.col(s_col).cast("string")).alias("subj"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit(o_pre), F.col(o_col).cast("string")).alias("obj"),
        )

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    parts = [
        tr(orders, "O:", "o_orderkey", "placed_by", "C:", "o_custkey"),
        tr(_t(spark, sf, "customer"), "C:", "c_custkey", "in_nation", "N:", "c_nationkey"),
        tr(_t(spark, sf, "supplier"), "S:", "s_suppkey", "in_nation", "N:", "s_nationkey"),
        tr(_t(spark, sf, "nation"), "N:", "n_nationkey", "in_region", "R:", "n_regionkey"),
        tr(li.select("l_orderkey", "l_partkey").distinct(),
           "O:", "l_orderkey", "contains", "P:", "l_partkey"),
        tr(li.select("l_orderkey", "l_suppkey").distinct(),
           "O:", "l_orderkey", "uses_supplier", "S:", "l_suppkey"),
        tr(li.select("l_partkey", "l_suppkey").distinct(),
           "P:", "l_partkey", "supplied_by", "S:", "l_suppkey"),
        # join-derived edges (both dims broadcast-sized): they seed rules
        # whose confidence is genuinely partial — e.g. uses_supplier AND
        # in_nation => from_nation holds only when supplier and customer
        # nations coincide. PK-unique: nation/customer are unique on the
        # join key, so these stay one row per customer / per order.
        tr(
            _t(spark, sf, "customer").join(
                F.broadcast(_t(spark, sf, "nation")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            ),
            "C:", "c_custkey", "in_region_of", "R:", "n_regionkey",
        ),
        tr(
            orders.join(
                F.broadcast(_t(spark, sf, "customer")),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            "O:", "o_orderkey", "from_nation", "N:", "c_nationkey",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: pred → small int code for the coded lifted-KG view (order matches the
#: branch order of _kg_relational_triples; decode via _KG_PRED_DECODE)
_KG_PRED_CODES = {
    "placed_by": 1, "in_nation": 2, "in_region": 3, "contains": 4,
    "uses_supplier": 5, "supplied_by": 6, "in_region_of": 7,
    "from_nation": 8,
}
#: entity prefix → code; entity code = prefix_code·2^44 + integer key
#: (exact and invertible: TPC-H keys stay far below 2^44 at any SF this
#: testbed generates)
_KG_PREFIX_CODES = {"O": 1, "C": 2, "S": 3, "N": 4, "R": 5, "P": 6}


def _kg_pred_decode(col):
    """int pred code → pred string (tiny literal CASE map)."""
    m = None
    for name, code in _KG_PRED_CODES.items():
        m = (F.when(col == code, F.lit(name)) if m is None
             else m.when(col == code, F.lit(name)))
    return m


def _kg_relational_triples_coded(spark, sf) -> DataFrame:
    """INTEGER-coded twin of :func:`_kg_relational_triples` (guide §2.3,
    narrower types): subj/obj as exact longs (prefix_code·2^44 + key),
    pred as a small int code. Bijective with the string view, so any
    count/aggregate over it is identical after decoding — used by
    queries whose OUTPUT never carries entity ids (q138: predicate-level
    rules), where every downstream shuffle then moves 8-byte longs
    instead of ~8-15-byte strings and hashes/compares integers."""

    def tr(df, s_pre, s_col, pred, o_pre, o_col):
        return df.select(
            (F.lit(_KG_PREFIX_CODES[s_pre] << 44)
             + F.col(s_col).cast("long")).alias("subj"),
            F.lit(_KG_PRED_CODES[pred]).alias("pred"),
            (F.lit(_KG_PREFIX_CODES[o_pre] << 44)
             + F.col(o_col).cast("long")).alias("obj"),
        )

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    parts = [
        tr(orders, "O", "o_orderkey", "placed_by", "C", "o_custkey"),
        tr(_t(spark, sf, "customer"), "C", "c_custkey", "in_nation", "N", "c_nationkey"),
        tr(_t(spark, sf, "supplier"), "S", "s_suppkey", "in_nation", "N", "s_nationkey"),
        tr(_t(spark, sf, "nation"), "N", "n_nationkey", "in_region", "R", "n_regionkey"),
        tr(li.select("l_orderkey", "l_partkey").distinct(),
           "O", "l_orderkey", "contains", "P", "l_partkey"),
        tr(li.select("l_orderkey", "l_suppkey").distinct(),
           "O", "l_orderkey", "uses_supplier", "S", "l_suppkey"),
        tr(li.select("l_partkey", "l_suppkey").distinct(),
           "P", "l_partkey", "supplied_by", "S", "l_suppkey"),
        tr(
            _t(spark, sf, "customer").join(
                F.broadcast(_t(spark, sf, "nation")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            ),
            "C", "c_custkey", "in_region_of", "R", "n_regionkey",
        ),
        tr(
            orders.join(
                F.broadcast(_t(spark, sf, "customer")),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            "O", "o_orderkey", "from_nation", "N", "c_nationkey",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q(
    "q138_rule_mining",
    _KG_TRIPLES_SQL
    + """
    , body AS (SELECT DISTINCT t1.pred AS p1, t2.pred AS p2,
                      t1.subj AS x, t2.obj AS z
               FROM t t1 JOIN t t2 ON t1.obj = t2.subj),
    bodyn AS (SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS body_size
              FROM body GROUP BY p1, p2),
    supp AS (SELECT b.p1, b.p2, h.pred AS p3,
                    CAST(COUNT(*) AS BIGINT) AS support
             FROM body b JOIN t h ON h.subj = b.x AND h.obj = b.z
             GROUP BY b.p1, b.p2, h.pred),
    heads AS (SELECT DISTINCT pred AS p3, subj AS x FROM t),
    pca AS (SELECT b.p1, b.p2, h.p3, CAST(COUNT(*) AS BIGINT) AS pca_body
            FROM body b JOIN heads h USING (x) GROUP BY b.p1, b.p2, h.p3)
    SELECT s.p1, s.p2, s.p3, s.support, n.body_size,
           ROUND(CAST(s.support AS DOUBLE) / n.body_size, 6) AS confidence,
           p.pca_body,
           ROUND(CAST(s.support AS DOUBLE) / p.pca_body, 6)
             AS pca_confidence
    FROM supp s
    JOIN bodyn n USING (p1, p2)
    JOIN pca p ON p.p1 = s.p1 AND p.p2 = s.p2 AND p.p3 = s.p3
    WHERE s.support >= 1
    """,
)
def q138(spark, sf):
    """AMIE-style horn-rule mining over the lifted relational KG:
    p1(x,y) AND p2(y,z) => p3(x,z) with standard support / body-size /
    confidence (graphalgo.mine_path_rules). Surfaces e.g.
    contains AND supplied_by => uses_supplier with high confidence while
    placed_by AND in_nation compositions yield no head. Body is DISTINCT-ed
    before counting; head attach is one (x,z)-pair equi-join; the optional
    hub df-cut (max_mid_deg) is exercised by unit test, left off here so
    the oracle stays parameter-free."""
    from bran_spark.operators.graphalgo import mine_path_rules

    # mined on the integer-coded KG view (bijective with the string view;
    # rules are predicate-level, so only the tiny output decodes) — every
    # body/support/PCA shuffle moves longs instead of strings
    res = mine_path_rules(
        _kg_relational_triples_coded(spark, sf), assume_distinct=True
    )
    return res.select(
        _kg_pred_decode(F.col("p1")).alias("p1"),
        _kg_pred_decode(F.col("p2")).alias("p2"),
        _kg_pred_decode(F.col("p3")).alias("p3"),
        "support", "body_size", "confidence", "pca_body", "pca_confidence",
    )


@_q(
    "q139_transitive_reduction",
    f"""
    WITH e AS (SELECT mesh_id AS child, unnest(parents) AS parent
               FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    e2 AS (SELECT DISTINCT child, parent FROM e WHERE child <> parent),
    a1 AS (SELECT child, parent, 1 AS depth FROM e2),
    a2 AS (SELECT a1.child, e2.parent, 2 AS depth
           FROM a1 JOIN e2 ON e2.child = a1.parent),
    a3 AS (SELECT a2.child, e2.parent, 3 AS depth
           FROM a2 JOIN e2 ON e2.child = a2.parent),
    a4 AS (SELECT a3.child, e2.parent, 4 AS depth
           FROM a3 JOIN e2 ON e2.child = a3.parent),
    a5 AS (SELECT a4.child, e2.parent, 5 AS depth
           FROM a4 JOIN e2 ON e2.child = a4.parent),
    allp AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
             UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
             UNION ALL SELECT * FROM a5),
    reach2 AS (SELECT DISTINCT e2.child, a.parent
               FROM e2 JOIN allp a ON a.child = e2.parent)
    SELECT child, parent FROM e2
    EXCEPT
    SELECT child, parent FROM reach2
    """,
)
def q139(spark, sf):
    """Transitive reduction of the MeSH parent DAG — the ontology-ingest
    cleanup that strips shortcut edges already implied by a >=2-hop path
    (graphalgo.transitive_reduction; same edge source as the q66 closure).
    The engine derives >=2-hop reachability as one join of the edge table
    against the level-synchronous closure (never the quadratic all-paths
    enumeration the oracle is allowed); the oracle's EXCEPT is the anti-join
    twin."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.graphalgo import transitive_reduction

    s = _fixture_sf_for(sf)
    ensure(s)
    dict_df = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    edges = dict_df.select(
        F.col("mesh_id").alias("child"), F.explode("parents").alias("parent")
    )
    return transitive_reduction(edges, max_depth=6)


@_q(
    "q140_calibration_bins",
    f"""
    WITH {_PIPE_CTES} ,
    conf AS (SELECT ROUND(1.0 / (1.0 + exp(-s)), 6) AS p, label FROM scored),
    binned AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR(p * 10) AS INT))) AS bin,
                      p, label
               FROM conf)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p), 6) AS avg_conf,
           ROUND(AVG(CAST(label AS DOUBLE)), 6) AS frac_pos,
           ROUND(ABS(ROUND(AVG(p), 6) - ROUND(AVG(CAST(label AS DOUBLE)), 6)), 6) AS gap
    FROM binned GROUP BY bin
    """,
)
def q140(spark, sf):
    """Reliability-diagram calibration bins over the deterministic scored
    dev pairs (evaluate.calibration_bins): sigmoid confidence bucketed into
    10 equal-width bins with per-bin count, mean confidence, observed
    positive rate and |gap| — the per-bin ECE terms consulted before
    freezing the acceptance threshold (q24). Confidence is ROUND(.,6)-ed
    BEFORE the bin floor so both engines floor the identical double."""
    from bran_spark.operators.evaluate import calibration_bins

    scored = _scored(spark, sf).select("s", "label")
    return calibration_bins(scored)


@_q(
    "q141_incremental_support",
    f"""
    WITH {_PIPE_CTES}
    SELECT chem_mesh, dis_mesh,
           COUNT(DISTINCT doc_id) AS support, COUNT(*) AS n
    FROM labeled WHERE label = 1
    GROUP BY chem_mesh, dis_mesh
    """,
)
def q141(spark, sf):
    """Incremental triple-support maintenance: the positive corpus is split
    into two doc-disjoint ingest batches (even / odd doc_id), each batch is
    aggregated independently (same salted count-distinct as q23), and the
    per-batch states are additively merged (pooling.merge_support_states).
    The oracle is the FULL-corpus recompute — the hash gate itself proves
    incremental == batch, which is the invariant that lets a 100 TB KG
    absorb a new document batch without re-reading history."""
    from bran_spark.operators.pooling import merge_support_states

    pos = _labeled(spark, sf).where(F.col("label") == 1)

    def batch_state(df):
        support = salted_count_distinct(
            df, ["chem_mesh", "dis_mesh"], "doc_id", buckets=16
        ).withColumnRenamed("distinct_count", "support")
        n = df.groupBy("chem_mesh", "dis_mesh").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        return support.join(n, ["chem_mesh", "dis_mesh"])

    old = batch_state(pos.where(F.col("doc_id") % 2 == 0))
    delta = batch_state(pos.where(F.col("doc_id") % 2 == 1))
    return merge_support_states([old, delta], ["chem_mesh", "dis_mesh"])


@_q(
    "q142_predicate_alignment",
    f"""
    WITH t AS (
      SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_UNION_SQL}
        UNION ALL
        SELECT 'P:' || l_partkey, 'major_supplier', 'S:' || l_suppkey
        FROM lineitem WHERE l_quantity > 20
        UNION ALL
        SELECT 'P:' || l_partkey, 'bulk_supplier', 'S:' || l_suppkey
        FROM lineitem WHERE l_quantity < 40)
    ),
    ext AS (SELECT DISTINCT pred, subj, obj FROM t),
    sizes AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n
              FROM ext GROUP BY pred),
    common AS (SELECT a.pred AS p1, b.pred AS p2,
                      CAST(COUNT(*) AS BIGINT) AS n_common
               FROM ext a JOIN ext b
                 ON a.subj = b.subj AND a.obj = b.obj AND a.pred < b.pred
               GROUP BY a.pred, b.pred
               HAVING COUNT(*) >= 1)
    SELECT c.p1, c.p2, c.n_common, s1.n AS n1, s2.n AS n2,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (s1.n + s2.n - c.n_common), 6) AS jaccard,
           ROUND(CAST(c.n_common AS DOUBLE) / LEAST(s1.n, s2.n), 6)
             AS containment
    FROM common c
    JOIN sizes s1 ON s1.pred = c.p1
    JOIN sizes s2 ON s2.pred = c.p2
    """,
)
def q142(spark, sf):
    """PARIS-style predicate alignment over the lifted KG plus two noisy
    supplier-relation variants from overlapping quantity ranges — the
    ontology-merge reconciliation pass (graphalgo.align_predicates).
    Expected shape: supplied_by fully CONTAINS both variants
    (containment 1.0, partial Jaccard) while the two variants overlap
    partially in both directions; cross-typed predicates share no
    (subj, obj) pair and never reach the output."""
    from bran_spark.operators.graphalgo import align_predicates

    li = _t(spark, sf, "lineitem")

    def supplier_variant(pred, cond):
        return li.where(cond).select(
            F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("subj"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("obj"),
        )

    triples = (
        _kg_relational_triples(spark, sf)
        .unionByName(supplier_variant("major_supplier", F.col("l_quantity") > 20))
        .unionByName(supplier_variant("bulk_supplier", F.col("l_quantity") < 40))
    )
    return align_predicates(triples)


@_q(
    "q143_rule_inference",
    _KG_TRIPLES_SQL
    + """
    , body AS (SELECT DISTINCT t1.pred AS p1, t2.pred AS p2,
                      t1.subj AS x, t2.obj AS z
               FROM t t1 JOIN t t2 ON t1.obj = t2.subj),
    bodyn AS (SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS body_size
              FROM body GROUP BY p1, p2),
    supp AS (SELECT b.p1, b.p2, h.pred AS p3,
                    CAST(COUNT(*) AS BIGINT) AS support
             FROM body b JOIN t h ON h.subj = b.x AND h.obj = b.z
             GROUP BY b.p1, b.p2, h.pred),
    rules AS (SELECT s.p1, s.p2, s.p3,
                     ROUND(CAST(s.support AS DOUBLE) / n.body_size, 6)
                       AS confidence
              FROM supp s JOIN bodyn n USING (p1, p2)
              WHERE ROUND(CAST(s.support AS DOUBLE) / n.body_size, 6)
                    >= 0.8),
    inferred AS (SELECT b.x AS subj, r.p3 AS pred, b.z AS obj,
                        ROUND(MAX(r.confidence), 6) AS confidence
                 FROM body b JOIN rules r USING (p1, p2)
                 GROUP BY b.x, r.p3, b.z)
    SELECT i.subj, i.pred, i.obj, i.confidence
    FROM inferred i
    WHERE NOT EXISTS (SELECT 1 FROM t
                      WHERE t.subj = i.subj AND t.pred = i.pred
                        AND t.obj = i.obj)
    """,
)
def q143(spark, sf):
    """KB completion by forward chaining (graphalgo.apply_rules): mine the
    composition rules on the lifted KG (q138), accept those with
    confidence >= 0.8, and materialize the missing head triples — e.g.
    suppliers inherit in_region_of (asserted only for customers) through
    the in_nation AND in_region => in_region_of rule. Inferred triples
    carry the max accepting-rule confidence as provenance."""
    from bran_spark.operators.graphalgo import apply_rules, mine_path_rules

    # lazy end-to-end: on one box recomputing the fast body shuffle beats
    # forcing its materialization (measured 27 s vs 35-45 s at sf0.1); a
    # cluster-scale mine-then-apply pipeline would instead materialize
    # composition_body(t) once and pass it to both stages via the body=
    # parameter (unit-tested equivalence)
    t = _kg_relational_triples(spark, sf)
    return apply_rules(t, mine_path_rules(t), min_confidence=0.8)


@_q(
    "q144_truth_discovery",
    """
    WITH claims AS (
      SELECT DISTINCT 'S:' || l_suppkey AS source, 'P:' || l_partkey AS key,
             CASE WHEN (l_partkey * 7 + l_suppkey * 13) % 5 = 0
                  THEN 'X' || (l_partkey % 3) ELSE p_brand END AS value
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    t0 AS (SELECT DISTINCT source, 1.0 AS trust FROM claims),
    v1 AS MATERIALIZED (
      SELECT c.key, c.value, ROUND(SUM(t.trust), 6) AS vote
      FROM claims c JOIN t0 t USING (source) GROUP BY c.key, c.value),
    tot1 AS (SELECT key, ROUND(SUM(vote), 6) AS tot FROM v1 GROUP BY key),
    c1 AS MATERIALIZED (
      SELECT v1.key, v1.value, ROUND(vote / tot, 6) AS conf
      FROM v1 JOIN tot1 USING (key)),
    t1 AS (SELECT source, ROUND(AVG(conf), 6) AS trust
           FROM claims c JOIN c1 ON c.key = c1.key AND c.value = c1.value
           GROUP BY source),
    v2 AS MATERIALIZED (
      SELECT c.key, c.value, ROUND(SUM(t.trust), 6) AS vote
      FROM claims c JOIN t1 t USING (source) GROUP BY c.key, c.value),
    tot2 AS (SELECT key, ROUND(SUM(vote), 6) AS tot FROM v2 GROUP BY key),
    c2 AS MATERIALIZED (
      SELECT v2.key, v2.value, ROUND(vote / tot, 6) AS conf
      FROM v2 JOIN tot2 USING (key))
    SELECT key, value, conf AS confidence
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY key ORDER BY conf DESC, value DESC) AS rn
          FROM c2)
    WHERE rn = 1
    """,
)
def q144(spark, sf):
    """Truth discovery / claim fusion (linking.truth_discovery): suppliers
    assert their parts' brand, with a deterministic 20% of claims noised
    onto three shared wrong values; two rounds of trust-weighted voting
    converge on the consensus brand per part and demote the noisy
    assertions. The oracle unrolls both voting rounds (MATERIALIZED CTEs)
    and replays the same ROUND-at-boundary discipline."""
    from bran_spark.operators.linking import truth_discovery

    li = _t(spark, sf, "lineitem")
    part = F.broadcast(_t(spark, sf, "part"))
    claims = li.join(part, li.l_partkey == part.p_partkey).select(
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("source"),
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("key"),
        F.when(
            (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 5 == 0,
            F.concat(F.lit("X"), (F.col("l_partkey") % 3).cast("string")),
        )
        .otherwise(F.col("p_brand"))
        .alias("value"),
    )
    return truth_discovery(claims, iters=2)


@_q(
    "q145_predicate_profile",
    _KG_TRIPLES_SQL
    + """
    , outf AS (
      SELECT pred, CAST(SUM(fanout) AS BIGINT) AS n_triples,
             CAST(COUNT(*) AS BIGINT) AS n_subj,
             CAST(MAX(fanout) AS BIGINT) AS max_out,
             ROUND(AVG(CAST(fanout AS DOUBLE)), 6) AS avg_out
      FROM (SELECT pred, subj, COUNT(*) AS fanout FROM t GROUP BY pred, subj)
      GROUP BY pred),
    inf AS (
      SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_obj,
             CAST(MAX(fanin) AS BIGINT) AS max_in,
             ROUND(AVG(CAST(fanin AS DOUBLE)), 6) AS avg_in
      FROM (SELECT pred, obj, COUNT(*) AS fanin FROM t GROUP BY pred, obj)
      GROUP BY pred)
    SELECT o.pred, o.n_triples, o.n_subj, i.n_obj,
           o.max_out, o.avg_out, i.max_in, i.avg_in,
           o.max_out = 1 AS functional,
           i.max_in = 1 AS inverse_functional
    FROM outf o JOIN inf i USING (pred)
    """,
)
def q145(spark, sf):
    """Predicate cardinality profiling over the lifted KG
    (graphalgo.predicate_profile): placed_by / in_nation / in_region /
    in_region_of / from_nation come out functional (each subject has one
    object), the lineitem-derived relations do not — exactly the
    precondition split truth_discovery (q144) and fusion need."""
    from bran_spark.operators.graphalgo import predicate_profile

    return predicate_profile(_kg_relational_triples(spark, sf))


_KG_CONSTRAINTS = [
    # (pred, domain, range, functional) — intentionally declares in_nation
    # with domain C (suppliers assert it too → real domain violations) and
    # contains as functional (multi-part orders → cardinality violations):
    # the ontology-vs-data mismatch the validator exists to surface.
    ("placed_by", "O", "C", True),
    ("in_nation", "C", "N", True),
    ("contains", "O", "P", True),
    ("uses_supplier", "O", "S", False),
    ("in_region", "N", "R", True),
]

_KG_CONSTRAINTS_SQL = "VALUES " + ", ".join(
    f"('{p}', '{d}', '{r}', {str(f).upper()})" for p, d, r, f in _KG_CONSTRAINTS
)


@_q(
    "q146_kg_constraints",
    _KG_TRIPLES_SQL
    + f"""
    , c AS (SELECT * FROM ({_KG_CONSTRAINTS_SQL})
            v(pred, dom, rng, functional)),
    j AS (SELECT t.*, c.dom, c.rng, c.functional
          FROM t JOIN c USING (pred)),
    dr AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN string_split(subj, ':')[1] = dom
                           THEN 0 ELSE 1 END) AS BIGINT) AS dv,
             CAST(SUM(CASE WHEN string_split(obj, ':')[1] = rng
                           THEN 0 ELSE 1 END) AS BIGINT) AS rv
          FROM j GROUP BY pred),
    fn AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
           FROM (SELECT pred, subj, COUNT(DISTINCT obj) AS n_obj
                 FROM j WHERE functional GROUP BY pred, subj)
           GROUP BY pred)
    SELECT pred, 'domain' AS kind, n_checked, dv AS n_violations FROM dr
    UNION ALL SELECT pred, 'range', n_checked, rv FROM dr
    UNION ALL SELECT pred, 'functional', n_checked, n_violations FROM fn
    """,
)
def q146(spark, sf):
    """SHACL-lite ontology validation over the lifted KG
    (kgquality.validate_kg): domain/range/cardinality checks against a
    declared constraint table. The constraints deliberately mismatch the
    data where real ontologies do — in_nation declared customer-only
    (suppliers assert it too → domain violations) and contains declared
    functional (multi-part orders → cardinality violations) — while
    placed_by/in_region/uses_supplier come back clean. Broadcast
    constraint dim + one domain/range pass + one (pred, subj) rollup."""
    from bran_spark.operators.kgquality import validate_kg

    constraints = spark.createDataFrame(
        _KG_CONSTRAINTS,
        "pred string, domain string, range string, functional boolean",
    )
    return validate_kg(_kg_relational_triples(spark, sf), constraints)


_PROP_PREDS = ["placed_by", "from_nation", "in_nation", "in_region_of"]


@_q(
    "q147_property_table",
    _KG_TRIPLES_SQL
    + f"""
    SELECT subj,
           MAX(CASE WHEN pred = 'placed_by' THEN obj END) AS placed_by,
           MAX(CASE WHEN pred = 'from_nation' THEN obj END) AS from_nation,
           MAX(CASE WHEN pred = 'in_nation' THEN obj END) AS in_nation,
           MAX(CASE WHEN pred = 'in_region_of' THEN obj END)
             AS in_region_of
    FROM t
    WHERE pred IN ({", ".join(repr(p) for p in _PROP_PREDS)})
    GROUP BY subj
    """,
)
def q147(spark, sf):
    """RDF property-table materialization (kgquality.property_table):
    pivot the functional predicates into a wide entity table — orders get
    (placed_by, from_nation), customers (in_nation, in_region_of),
    suppliers (in_nation) — so star lookups become column reads instead
    of per-arm self-joins (SW-Store lineage). One pivot aggregate with an
    explicit predicate list: no distinct-values pre-pass, pred filter
    pushed below the shuffle."""
    from bran_spark.operators.kgquality import property_table

    return property_table(_kg_relational_triples(spark, sf), _PROP_PREDS)


@_q(
    "q148_entity_alignment",
    """
    WITH s AS (
      SELECT p_partkey AS k, 0 AS pi, 'label' AS pred,
             p_name || ' ' || p_brand || ' sz' || p_size AS obj FROM part
      UNION ALL
      SELECT p_partkey, 1, 'brand', p_brand FROM part
      UNION ALL
      SELECT p_partkey, 2, 'type', p_type FROM part
      UNION ALL
      SELECT p_partkey, 3, 'size_band',
             CAST(p_size // 10 AS VARCHAR) FROM part),
    a AS (SELECT DISTINCT 'P:' || k AS subj, pred, obj FROM s
          WHERE (k * 7 + pi) % 10 < 7),
    b AS (SELECT DISTINCT 'B_P:' || k AS subj, pred, obj FROM s
          WHERE (k * 7 + pi) % 10 >= 3),
    fa AS (SELECT pred, obj FROM a GROUP BY pred, obj
           HAVING COUNT(*) <= 4),
    fb AS (SELECT pred, obj FROM b GROUP BY pred, obj
           HAVING COUNT(*) <= 4),
    ka AS (SELECT a.* FROM a JOIN fa USING (pred, obj)),
    kb AS (SELECT b.* FROM b JOIN fb USING (pred, obj)),
    sh AS (SELECT ka.subj AS subj_a, kb.subj AS subj_b,
                  CAST(COUNT(*) AS BIGINT) AS shared
           FROM ka JOIN kb USING (pred, obj) GROUP BY ka.subj, kb.subj),
    na AS (SELECT subj AS subj_a, COUNT(*) AS n_a FROM a GROUP BY subj),
    nb AS (SELECT subj AS subj_b, COUNT(*) AS n_b FROM b GROUP BY subj),
    sc AS (SELECT subj_a, subj_b, shared,
                  ROUND(CAST(shared AS DOUBLE) / (n_a + n_b - shared), 6)
                    AS jaccard
           FROM sh JOIN na USING (subj_a) JOIN nb USING (subj_b))
    SELECT subj_a, subj_b, shared, jaccard FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY subj_a
                                   ORDER BY jaccard DESC, subj_b) AS rn
      FROM sc)
    WHERE rn = 1
    """,
)
def q148(spark, sf):
    """Instance-level entity alignment between two attribute stores
    (kgquality.align_entities): each part's statements — a near-unique
    label plus hot brand/type/size_band attributes — are split
    deterministically into two overlapping views (statement coin
    (k·7+pi)%10: A keeps <7, B keeps ≥3, B re-prefixed 'B_'), then
    aligned. The fanout≤4 df-cut drops brand/type keys (shared by
    hundreds of parts — pure quadratic noise) so candidates come from
    discriminative labels only, while Jaccard runs over the FULL
    statement sets. The PARIS functionality heuristic as a hard cut."""
    from bran_spark.operators.kgquality import align_entities

    part = _t(spark, sf, "part")
    stmts = None
    for pi, pred, obj in [
        (
            0,
            "label",
            F.concat_ws(
                " ",
                F.col("p_name"),
                F.col("p_brand"),
                F.concat(F.lit("sz"), F.col("p_size").cast("string")),
            ),
        ),
        (1, "brand", F.col("p_brand")),
        (2, "type", F.col("p_type")),
        (
            3,
            "size_band",
            F.floor(F.col("p_size") / 10).cast("int").cast("string"),
        ),
    ]:
        s = part.select(
            F.col("p_partkey").alias("k"),
            F.lit(pi).alias("pi"),
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
        )
        stmts = s if stmts is None else stmts.unionByName(s)
    coin = (F.col("k") * 7 + F.col("pi")) % 10
    a = stmts.where(coin < 7).select(
        F.concat(F.lit("P:"), F.col("k").cast("string")).alias("subj"),
        "pred",
        "obj",
    )
    b = stmts.where(coin >= 3).select(
        F.concat(F.lit("B_P:"), F.col("k").cast("string")).alias("subj"),
        "pred",
        "obj",
    )
    return align_entities(a, b, max_key_fanout=4)


@_q(
    "q149_blocking_pairs",
    """
    WITH ws AS (SELECT doc_id,
                       string_split_regex(trim(lower(text)), ' +') AS ws
                FROM documents),
    tok AS (SELECT DISTINCT doc_id AS rid, w FROM (
              SELECT doc_id,
                     unnest(list_transform(
                       range(greatest(len(ws) - 2, 0) + 1),
                       i -> array_to_string(list_slice(ws, i + 1, i + 2),
                                            ' '))) AS w
              FROM ws) WHERE w <> ''),
    bs AS (SELECT w, COUNT(*) AS b FROM tok GROUP BY w),
    keep AS (SELECT rid, w FROM tok JOIN bs USING (w)
             WHERE b <= 20 AND b >= 2),
    pairs AS (SELECT l.rid AS id_a, r.rid AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS cbs
              FROM keep l JOIN keep r
                ON l.w = r.w AND l.rid < r.rid
              GROUP BY l.rid, r.rid),
    nodeavg AS (SELECT node, ROUND(AVG(cbs), 6) AS avgw FROM (
                  SELECT id_a AS node, cbs FROM pairs
                  UNION ALL SELECT id_b, cbs FROM pairs)
                GROUP BY node)
    SELECT p.id_a, p.id_b, p.cbs
    FROM pairs p
    JOIN nodeavg na ON na.node = p.id_a
    JOIN nodeavg nb ON nb.node = p.id_b
    WHERE p.cbs >= na.avgw OR p.cbs >= nb.avgw
    """,
)
def q149(spark, sf):
    """Token blocking + CBS meta-blocking over the document corpus
    (linking.blocking_pairs): rare shared word BIGRAMS form blocks (the
    synthetic lexicon is ~31 words, every unigram block is purged-hot —
    exactly the too-small-vocabulary case the ``n`` knob exists for),
    block-size purge (b>20 cut, b=1 skipped) kills stop-phrase quadratic
    blowup BEFORE pair generation, common-block counts weight the
    blocking graph, and weighted-node pruning keeps a pair only if it
    reaches the mean weight of either endpoint — co-occurrence-structure
    candidate pruning with zero string comparisons (the q72 verify
    step's upstream)."""
    from bran_spark.operators.linking import blocking_pairs

    return blocking_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", max_block=20, n=2
    )


@_q(
    "q150_star_pattern",
    _KG_TRIPLES_SQL
    + """
    SELECT DISTINCT subj, obj AS part FROM t
    WHERE pred = 'contains'
      AND subj IN (SELECT subj FROM t
                   WHERE pred = 'from_nation' AND obj = 'N:5')
      AND subj IN (SELECT subj FROM t WHERE pred = 'uses_supplier')
    """,
)
def q150(spark, sf):
    """SPARQL-ish star-pattern match over the triple table
    (kgquality.star_pattern): parts contained in orders placed from
    nation N:5 that use at least one supplier — ?s contains ?part .
    ?s from_nation N:5 . ?s uses_supplier ?any. Every arm is a
    pred-filtered DISTINCT-subj set applied as a LEFT SEMI join
    (partition-pruned arms on a pred-partitioned sink; fan-out can never
    multiply bindings)."""
    from bran_spark.operators.kgquality import star_pattern

    return star_pattern(
        _kg_relational_triples(spark, sf),
        {"from_nation": "N:5", "uses_supplier": None},
        select_pred="contains",
        binding_name="part",
    )


@_q(
    "q151_psi_drift",
    """
    WITH spine AS (SELECT UNNEST(range(10)) AS bin),
    r AS (SELECT CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INT)
                   AS bin,
                 COUNT(*)::DOUBLE AS n
          FROM events WHERE event_type = 'view' AND value IS NOT NULL
          GROUP BY 1),
    c AS (SELECT CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INT)
                   AS bin,
                 COUNT(*)::DOUBLE AS n
          FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
          GROUP BY 1),
    m AS (SELECT CAST(spine.bin AS INT) AS bin,
                 COALESCE(r.n, 0) AS n_ref, COALESCE(c.n, 0) AS n_cur
          FROM spine LEFT JOIN r ON r.bin = spine.bin
                     LEFT JOIN c ON c.bin = spine.bin),
    tt AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM m)
    SELECT bin, ROUND(50.0 * bin, 6) AS bin_lo,
           CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((n_ref + 0.5) / (tr + 5.0), 6) AS p_ref,
           ROUND((n_cur + 0.5) / (tc + 5.0), 6) AS p_cur,
           ROUND(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
                 * ln(((n_ref + 0.5) / (tr + 5.0))
                      / ((n_cur + 0.5) / (tc + 5.0))) + 1e-9, 6)
             AS psi_term
    FROM m, tt
    """,
)
def q151(spark, sf):
    """Population Stability Index between the 'view' and 'purchase'
    event-value distributions (quality.psi_drift): 10 fixed-width bins
    over [0, 500), smoothed shares, per-bin PSI contributions (total =
    SUM(psi_term); these two snapshots come out stable — the monitor's
    common case). Fixed bounds, not quantiles: bins never depend on the
    data being tested, so the metric replays cross-engine and costs one
    scan per snapshot. The continuous-valued sibling of q120's
    categorical KL/JS."""
    from bran_spark.operators.quality import psi_drift

    ev = _t(spark, sf, "events")
    return psi_drift(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        "value",
        lo=0.0,
        hi=500.0,
        n_bins=10,
        alpha=0.5,
    )


@_q(
    "q152_schema_graph",
    _KG_TRIPLES_SQL
    + """
    SELECT string_split(subj, ':')[1] AS subj_type, pred,
           string_split(obj, ':')[1] AS obj_type,
           CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
           CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj
    FROM t GROUP BY 1, 2, 3
    """,
)
def q152(spark, sf):
    """ABox→TBox schema-graph summarization (kgquality.schema_graph):
    collapse the instance triple store to (subj_type, pred, obj_type)
    edge classes with triple counts and distinct-endpoint cardinalities
    — 'what links orders to suppliers, how many-to-how-many' — the KG
    browser / join-planner view and the gate that catches a mis-prefixed
    feed as a new edge class. One aggregate over one scan; output is
    schema-scale."""
    from bran_spark.operators.kgquality import schema_graph

    return schema_graph(_kg_relational_triples(spark, sf))


@_q(
    "q153_blocking_quality",
    f"""
    WITH ws AS (SELECT doc_id,
                       string_split_regex(trim(lower(text)), ' +') AS ws
                FROM documents),
    tok AS (SELECT DISTINCT doc_id AS rid, w FROM (
              SELECT doc_id,
                     unnest(list_transform(
                       range(greatest(len(ws) - 2, 0) + 1),
                       i -> array_to_string(list_slice(ws, i + 1, i + 2),
                                            ' '))) AS w
              FROM ws) WHERE w <> ''),
    bs AS (SELECT w, COUNT(*) AS b FROM tok GROUP BY w),
    keep AS (SELECT rid, w FROM tok JOIN bs USING (w)
             WHERE b <= 20 AND b >= 2),
    pairs AS (SELECT l.rid AS id_a, r.rid AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS cbs
              FROM keep l JOIN keep r
                ON l.w = r.w AND l.rid < r.rid
              GROUP BY l.rid, r.rid),
    nodeavg AS (SELECT node, ROUND(AVG(cbs), 6) AS avgw FROM (
                  SELECT id_a AS node, cbs FROM pairs
                  UNION ALL SELECT id_b, cbs FROM pairs)
                GROUP BY node),
    kept AS (SELECT p.id_a, p.id_b FROM pairs p
             JOIN nodeavg na ON na.node = p.id_a
             JOIN nodeavg nb ON nb.node = p.id_b
             WHERE p.cbs >= na.avgw OR p.cbs >= nb.avgw),
    wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct({_SHINGLE_SQL.format(n=3)}))
                    AS shingle
           FROM wl),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    gkept AS (SELECT shingle FROM sh GROUP BY shingle
              HAVING COUNT(*) <= 30),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN gkept USING (shingle)),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
               FROM shk a JOIN shk b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    gold AS (SELECT id_a, id_b FROM common
             JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
             WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.1)
    SELECT CAST(nc AS BIGINT) AS n_candidates, CAST(ng AS BIGINT) AS n_gold,
           CAST(nh AS BIGINT) AS n_hit,
           ROUND(CASE WHEN ng > 0 THEN CAST(nh AS DOUBLE) / ng END, 6)
             AS pc,
           ROUND(CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE) / nc END, 6)
             AS pq,
           ROUND(1.0 - nc / (CAST(n AS DOUBLE) * (n - 1) / 2), 6) AS rr
    FROM (SELECT COUNT(*) AS nc FROM kept),
         (SELECT COUNT(*) AS ng FROM gold),
         (SELECT COUNT(*) AS nh FROM kept JOIN gold USING (id_a, id_b)),
         (SELECT COUNT(*) AS n FROM documents)
    """,
)
def q153(spark, sf):
    """Blocking-scheme evaluation (evaluate.blocking_quality): score the
    q149 bigram blocking candidates against the VERIFIED near-duplicate
    gold pairs (q28's trigram-Jaccard ≥ 0.1 — the corpus has near-dups,
    not byte dups) — pair completeness bounds end-to-end dedup recall,
    pairs quality its precision, reduction ratio the fraction of the
    quadratic comparison space avoided. The 'safe to put this blocking
    in front of the expensive verify stage' certificate. The single
    docs.count() is a 1-row scalar (dimension-table legality), not a
    driver-side loop."""
    from bran_spark.operators.evaluate import blocking_quality
    from bran_spark.operators.linking import blocking_pairs

    docs = _t(spark, sf, "documents")
    cand = blocking_pairs(docs, "doc_id", "text", max_block=20, n=2)
    gold = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.1, max_df=30
    ).select("id_a", "id_b")
    return blocking_quality(cand, gold, n_records=docs.count())


@_q(
    "q154_entity_type_inference",
    _KG_TRIPLES_SQL
    + f"""
    , c AS (SELECT * FROM ({_KG_CONSTRAINTS_SQL})
            v(pred, dom, rng, functional)),
    j AS (SELECT t.subj, t.obj, c.dom, c.rng FROM t JOIN c USING (pred)),
    votes AS (SELECT subj AS node, dom AS vote_type FROM j
              UNION ALL SELECT obj, rng FROM j),
    cnt AS (SELECT node, vote_type, CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM votes GROUP BY 1, 2),
    tot AS (SELECT node, CAST(SUM(n_votes) AS BIGINT) AS n_total
            FROM cnt GROUP BY node),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                                        ORDER BY n_votes DESC, vote_type)
                     AS rn
           FROM cnt)
    SELECT node, vote_type AS inferred_type, n_votes, n_total,
           ROUND(CAST(n_votes AS DOUBLE) / n_total, 6) AS agreement
    FROM rk JOIN tot USING (node) WHERE rn = 1
    """,
)
def q154(spark, sf):
    """Vote-based entity typing from the ontology declarations
    (kgquality.infer_entity_types): every governed triple votes its
    subject into the declared domain and its object into the range;
    majority type + agreement per node. Under the deliberately-mismatched
    q146 constraints, suppliers surface with split C/S votes (agreement
    < 1) — the inference-side view of the same ontology defect the
    validator counts. Broadcast dim + two counting aggregates + argmax
    window on the aggregated table."""
    from bran_spark.operators.kgquality import infer_entity_types

    constraints = spark.createDataFrame(
        _KG_CONSTRAINTS,
        "pred string, domain string, range string, functional boolean",
    )
    return infer_entity_types(_kg_relational_triples(spark, sf), constraints)


@_q(
    "q155_temporal_conflicts",
    """
    WITH c AS (SELECT DISTINCT 'O:' || l_orderkey AS subj, 'ships' AS pred,
                      'S:' || l_suppkey AS obj,
                      CAST(l_shipdate AS DATE) AS f,
                      CAST(l_shipdate AS DATE) + 10 AS t
               FROM lineitem),
    fan AS (SELECT subj, pred FROM c GROUP BY subj, pred
            HAVING COUNT(*) <= 32),
    kept AS (SELECT c.* FROM c JOIN fan USING (subj, pred))
    SELECT l.subj, l.pred, l.obj AS obj_a, r.obj AS obj_b,
           GREATEST(l.f, r.f) AS overlap_from,
           LEAST(l.t, r.t) AS overlap_to,
           CAST(date_diff('day', GREATEST(l.f, r.f), LEAST(l.t, r.t)) + 1
                AS INT) AS overlap_days
    FROM kept l JOIN kept r
      ON l.subj = r.subj AND l.pred = r.pred AND l.obj < r.obj
     AND l.f <= r.t AND r.f <= l.t
    """,
)
def q155(spark, sf):
    """Temporal contradiction detection (kgquality.temporal_conflicts):
    per-order shipping claims with 10-day closed validity windows —
    pairs of DIFFERENT suppliers asserted for the same order over
    overlapping windows are the contradictions claim fusion must
    resolve before a snapshot publishes. Pair join confined within
    (subj, pred) keys after the ≤32-claims df-cut; one key shuffle,
    never a global self-join."""
    from bran_spark.operators.kgquality import temporal_conflicts

    li = _t(spark, sf, "lineitem")
    claims = li.select(
        F.concat(F.lit("O:"), F.col("l_orderkey").cast("string")).alias(
            "subj"
        ),
        F.lit("ships").alias("pred"),
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias(
            "obj"
        ),
        F.to_date("l_shipdate").alias("valid_from"),
        F.date_add(F.to_date("l_shipdate"), 10).alias("valid_to"),
    )
    return temporal_conflicts(claims, max_claims_per_key=32)


@_q(
    "q156_path_cardinality",
    _KG_TRIPLES_SQL
    + """
    , sg AS (SELECT string_split(subj, ':')[1] AS subj_type, pred,
                    string_split(obj, ':')[1] AS obj_type,
                    CAST(COUNT(*) AS BIGINT) AS n_triples,
                    CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
                    CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj
             FROM t GROUP BY 1, 2, 3),
    est AS (SELECT s1.pred AS p1, s2.pred AS p2,
                   ROUND(SUM(s1.n_triples * s2.n_triples /
                         CAST(GREATEST(s1.n_obj, s2.n_subj) AS DOUBLE)), 6)
                     AS est
            FROM sg s1 JOIN sg s2 ON s1.obj_type = s2.subj_type
            GROUP BY 1, 2),
    act AS (SELECT t1.pred AS p1, t2.pred AS p2,
                   CAST(COUNT(*) AS BIGINT) AS actual
            FROM t t1 JOIN t t2 ON t1.obj = t2.subj GROUP BY 1, 2)
    SELECT e.p1, e.p2, e.est, COALESCE(a.actual, 0) AS actual,
           ROUND(CASE WHEN COALESCE(a.actual, 0) > 0
                      THEN e.est / a.actual END, 6) AS err_ratio
    FROM est e LEFT JOIN act a ON a.p1 = e.p1 AND a.p2 = e.p2
    """,
)
def q156(spark, sf):
    """Join-cardinality estimation audit (kgquality.path_cardinality_est):
    the System-R formula |R|·|S|/max(V(R.obj), V(S.subj)) from
    schema-graph statistics vs the true metapath join size for every
    type-composable predicate pair — err_ratio ≈ 1 on uniform predicates
    (placed_by∘in_nation), drifting where fanout skews. The statistics a
    1000-executor planner would pick shuffle strategies with, audited
    against ground truth."""
    from bran_spark.operators.kgquality import path_cardinality_est

    return path_cardinality_est(_kg_relational_triples(spark, sf))


def _truss_sql(k: int, rounds: int) -> str:
    """Unrolled k-truss peel: per round, naive triangle enumeration on
    e{i} (u<v ordering makes every triangle's three edges id-ordered),
    per-edge support, filter at k-2. MATERIALIZED is load-bearing — each
    e{i} is referenced 3× by the triangle join (see memory: the planner
    inlines 3^rounds scans otherwise)."""
    parts = []
    for i in range(rounds):
        parts.append(f"""
    , t{i} AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e{i} e1 JOIN e{i} e2 ON e2.u = e1.v
        JOIN e{i} e3 ON e3.u = e1.u AND e3.v = e2.v),
    s{i} AS MATERIALIZED (SELECT u, v, COUNT(*) AS sup FROM (
        SELECT a AS u, b AS v FROM t{i}
        UNION ALL SELECT b, c FROM t{i}
        UNION ALL SELECT a, c FROM t{i}) GROUP BY u, v),
    e{i + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{i} e JOIN s{i} s USING (u, v)
        WHERE s.sup >= {k - 2})""")
    r = rounds
    parts.append(f"""
    , tf AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e{r} e1 JOIN e{r} e2 ON e2.u = e1.v
        JOIN e{r} e3 ON e3.u = e1.u AND e3.v = e2.v),
    sf AS (SELECT u, v, COUNT(*) AS sup FROM (
        SELECT a AS u, b AS v FROM tf
        UNION ALL SELECT b, c FROM tf
        UNION ALL SELECT a, c FROM tf) GROUP BY u, v)
    SELECT e.u, e.v, CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
    FROM e{r} e LEFT JOIN sf s USING (u, v)""")
    return "".join(parts)


@_q(
    "q157_ktruss",
    _FX_PAIRS_SQL
    + """
    , pe AS (SELECT DISTINCT subj AS s, obj AS p FROM pairs),
    hotp AS (SELECT p FROM (SELECT p, COUNT(*) AS d FROM pe GROUP BY p) t
             WHERE d > 25),
    kept AS (SELECT s, p FROM pe WHERE p NOT IN (SELECT p FROM hotp)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.s AS u, b.s AS v
                        FROM kept a JOIN kept b ON a.p = b.p
                        WHERE a.s < b.s)
    """
    + _truss_sql(k=4, rounds=2),
)
def q157(spark, sf):
    """4-truss extraction on the chemical co-occurrence projection
    (graphalgo.ktruss): two peel rounds removing edges on <2 triangles
    (cascades included — peeling an edge can strand its neighbors),
    then per-edge support within the surviving subgraph. The
    edge-level cohesive-core extractor one notch stronger than k-core
    (q83): a star hub survives coreness but owns no triangles and
    dissolves here. Spark side peels with the degree-ordered O(m^1.5)
    orientation per round; the oracle replays the naive u<v
    formulation — per-edge supports agree."""
    from bran_spark.operators.graphalgo import ktruss, project_bipartite

    proj = project_bipartite(_fx_entity_pairs(spark, sf), max_pivot_deg=25)
    return ktruss(proj, k=4, iters=2)


# =========================================================================
# §17 Ontology semantics: LCA / Wu-Palmer path similarity and
#     Resnik/Lin corpus information content (operators/ontosim.py) —
#     the consumer-side semantics of the MeSH hierarchy the hypernym
#     filter (J3/q22) only uses as a blocklist.
# =========================================================================


def _onto_base_sql(max_depth: int) -> str:
    """Shared WITH prefix for the ontology-semantics twins: parent
    edges, shortest-depth ancestor closure including reflexive depth-0
    rows, and root-anchored node depths (root = 1). Mirrors
    ontosim._closure_with_self / node_depths; MATERIALIZED because clo
    is referenced 2-3x downstream (planner inlining blowup otherwise)."""
    parts = [
        f"""
    WITH nodes AS (SELECT mesh_id AS node
                   FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    e AS (SELECT mesh_id AS child, unnest(parents) AS anc
          FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    a1 AS (SELECT child, anc, 1 AS depth FROM e)"""
    ]
    for d in range(2, max_depth + 1):
        parts.append(f"""
    , a{d} AS (SELECT a{d - 1}.child, e.anc, {d} AS depth
               FROM a{d - 1} JOIN e ON e.child = a{d - 1}.anc)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM a{d}" for d in range(1, max_depth + 1)
    )
    parts.append(f"""
    , clo AS MATERIALIZED (
        SELECT child AS node, anc AS ancestor, CAST(MIN(depth) AS INT) AS depth
        FROM ({union}) GROUP BY child, anc
        UNION ALL SELECT node, node, 0 FROM nodes),
    dep AS MATERIALIZED (
        SELECT c.node, CAST(MIN(c.depth) + 1 AS INT) AS depth
        FROM clo c
        WHERE c.ancestor NOT IN (SELECT child FROM e)
        GROUP BY c.node)""")
    return "".join(parts)


_ONTO_PAIRS_SQL = """
    , p AS (SELECT a.node AS node_a, b.node AS node_b, a.ancestor AS anc,
                   a.depth + b.depth AS total
            FROM clo a JOIN clo b ON a.ancestor = b.ancestor
            WHERE a.node < b.node),
    best AS (SELECT node_a, node_b, anc, total,
                    ROW_NUMBER() OVER (PARTITION BY node_a, node_b
                                       ORDER BY total, anc) AS rn
             FROM p)"""

_ONTO_IC_SQL = f"""
    , cnt AS (SELECT mesh_id AS node, COUNT(*) AS n
              FROM read_parquet('{_FX01}/mentions.parquet') GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total
            FROM read_parquet('{_FX01}/mentions.parquet')),
    ic AS MATERIALIZED (
        SELECT c.ancestor AS node, CAST(SUM(cnt.n) AS BIGINT) AS freq,
               ROUND(-LN(SUM(cnt.n) / (SELECT n_total FROM tot)), 6) AS ic
        FROM clo c JOIN cnt ON cnt.node = c.node
        GROUP BY c.ancestor)"""


def _onto_inputs(spark, sf):
    from bran_spark.fixtures.gen import ensure, fixture_dir

    s = _fixture_sf_for(sf)
    ensure(s)
    dict_df = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    edges = dict_df.select(
        F.col("mesh_id").alias("child"), F.explode("parents").alias("parent")
    )
    nodes = dict_df.select(F.col("mesh_id").alias("node"))
    mentions = spark.read.parquet(f"{fixture_dir(s)}/mentions.parquet")
    return edges, nodes, mentions


@_q(
    "q158_semantic_similarity",
    _onto_base_sql(7)
    + _ONTO_PAIRS_SQL
    + """
    SELECT b.node_a, b.node_b, b.anc AS lca, CAST(b.total AS INT) AS path_len,
           ROUND(2.0 * dl.depth / (da.depth + db.depth), 6) AS wup
    FROM best b
    JOIN dep da ON da.node = b.node_a
    JOIN dep db ON db.node = b.node_b
    JOIN dep dl ON dl.node = b.anc
    WHERE b.rn = 1
    """,
)
def q158(spark, sf):
    """Ontology relatedness table (ontosim.semantic_similarity): every
    ancestrally-related MeSH pair with its lowest common ancestor,
    shortest ancestral path length, and Wu-Palmer similarity
    (2*d(lca)/(d(a)+d(b)), root depth 1). One closure self-join on the
    ancestor key + min(struct) per pair; the oracle replays it with a
    ROW_NUMBER argmin over the same unrolled closure."""
    from bran_spark.operators.ontosim import semantic_similarity

    edges, nodes, _ = _onto_inputs(spark, sf)
    return semantic_similarity(edges, nodes, max_depth=7)


@_q(
    "q159_information_content",
    _onto_base_sql(7)
    + _ONTO_IC_SQL
    + """
    SELECT node, freq, ic FROM ic
    """,
)
def q159(spark, sf):
    """Resnik information content from corpus mention frequencies
    (ontosim.information_content): freq(c) = mentions of c or any
    descendant (the classic roll-up-a-hierarchy join), ic = -ln(freq/N).
    N rides in as a broadcast 1-row aggregate, never a collect."""
    from bran_spark.operators.ontosim import information_content

    edges, nodes, mentions = _onto_inputs(spark, sf)
    return information_content(edges, nodes, mentions, node_col="mesh_id")


@_q(
    "q160_lin_similarity",
    _onto_base_sql(7)
    + _ONTO_PAIRS_SQL
    + _ONTO_IC_SQL
    + """
    SELECT b.node_a, b.node_b, b.anc AS lca,
           ROUND(2.0 * icl.ic / (ica.ic + icb.ic), 6) AS lin
    FROM best b
    JOIN ic ica ON ica.node = b.node_a
    JOIN ic icb ON icb.node = b.node_b
    JOIN ic icl ON icl.node = b.anc
    WHERE b.rn = 1 AND ica.ic + icb.ic > 0
    """,
)
def q160(spark, sf):
    """Lin similarity (2*IC(lca)/(IC(a)+IC(b))) composing q158's LCA
    pairs with q159's IC table (ontosim.lin_similarity) — the
    corpus-weighted relatedness score that downranks pairs whose only
    common ancestor is a near-root catch-all. Pairs with a
    never-mentioned endpoint or IC(a)+IC(b)=0 drop on both engines."""
    from bran_spark.operators.ontosim import (
        _closure_with_self,
        information_content,
        lin_similarity,
        semantic_similarity,
    )

    edges, nodes, mentions = _onto_inputs(spark, sf)
    # one shared ancestor closure (its BFS rounds are checkpointed) —
    # similarity, depths and IC otherwise rebuild it 3× (r06)
    clo = _closure_with_self(edges, nodes, 7)
    sim = semantic_similarity(edges, nodes, max_depth=7, closure=clo)
    ic = information_content(
        edges, nodes, mentions, node_col="mesh_id", closure=clo
    )
    return lin_similarity(sim, ic)


def _hits_iter_sql(iters: int, scale: int) -> str:
    """Unrolled fixed-point HITS iterations — exact integer math, see
    graphalgo.hits_fixed_point for why this is hash-exact cross-engine.
    MATERIALIZED on every per-round CTE: each is referenced 2-3x (the
    normalize subquery + the next round) and the planner would otherwise
    inline exponentially many scans."""
    parts = [
        f"""
    , he AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst
                          FROM pairs WHERE subj <> obj),
    hn AS MATERIALIZED (SELECT src AS node FROM he UNION SELECT dst FROM he),
    h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM hn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , ra{i} AS (SELECT e.dst AS node, SUM(h.hub) AS raw
                FROM he e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst),
    af{i} AS MATERIALIZED (SELECT n.node, COALESCE(r.raw, 0) AS raw
                FROM hn n LEFT JOIN ra{i} r ON r.node = n.node),
    an{i} AS MATERIALIZED (SELECT node,
                CAST((raw * {scale}) // (SELECT SUM(raw) FROM af{i}) AS BIGINT) AS auth
                FROM af{i}),
    rh{i} AS (SELECT e.src AS node, SUM(a.auth) AS raw
              FROM he e JOIN an{i} a ON a.node = e.dst GROUP BY e.src),
    hf{i} AS MATERIALIZED (SELECT n.node, COALESCE(r.raw, 0) AS raw
                FROM hn n LEFT JOIN rh{i} r ON r.node = n.node),
    h{i} AS MATERIALIZED (SELECT node,
                CAST((raw * {scale}) // (SELECT SUM(raw) FROM hf{i}) AS BIGINT) AS hub
                FROM hf{i})""")
    parts.append(f"""
    SELECT h.node, h.hub AS hub_fp, a.auth AS auth_fp
    FROM h{iters} h JOIN an{iters} a ON a.node = h.node""")
    return "".join(parts)


@_q("q161_hits", _FX_PAIRS_SQL + _hits_iter_sql(4, 10**6))
def q161(spark, sf):
    """HITS hubs & authorities on the directed chem→disease entity graph
    (graphalgo.hits_fixed_point): chemicals ranked by how many
    well-attested diseases they link (hub side), diseases by how many
    broadly-linked chemicals assert them (authority side) — the
    role-separating complement to q56's symmetric PageRank. Exact
    integer fixed-point with sum-normalization; the oracle unrolls the
    identical recurrence."""
    from bran_spark.operators.graphalgo import hits_fixed_point

    return hits_fixed_point(_fx_entity_pairs(spark, sf), iters=4)


@_q(
    "q162_coalesce_intervals",
    """
    WITH c0 AS (SELECT 'O:' || l_orderkey AS subj, 'ships' AS pred,
                       'S:' || l_suppkey AS obj,
                       CAST(l_shipdate AS DATE) AS f,
                       CAST(l_shipdate AS DATE) + 10 AS t
                FROM lineitem),
    -- pre-aggregate exact duplicates: makes (f, t) a TOTAL order per
    -- key, so the two window passes below can never disagree on ties
    c AS (SELECT subj, pred, obj, f, t, COUNT(*)::BIGINT AS cnt
          FROM c0 GROUP BY subj, pred, obj, f, t),
    m AS (SELECT subj, pred, obj, f, t, cnt,
                 CASE WHEN MAX(t) OVER (PARTITION BY subj, pred, obj
                            ORDER BY f, t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                      OR f > MAX(t) OVER (PARTITION BY subj, pred, obj
                            ORDER BY f, t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS ni
          FROM c),
    i AS (SELECT *, SUM(ni) OVER (PARTITION BY subj, pred, obj
                ORDER BY f, t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m)
    SELECT subj, pred, obj, MIN(f) AS valid_from, MAX(t) AS valid_to,
           SUM(cnt)::BIGINT AS n_claims
    FROM i GROUP BY subj, pred, obj, island
    """,
)
def q162(spark, sf):
    """Temporal-KG interval compaction (asof.coalesce_intervals): the
    same per-order shipping claims q155 checks for contradictions, here
    COALESCED per (subj, pred, obj) — overlapping/touching 10-day
    validity windows from repeated extractions merge into one maximal
    span with its supporting claim count. Gaps-and-islands via two
    key-partitioned windows; islands survive only where a real gap
    (> 10 days between shipments of the same order/supplier) exists."""
    from bran_spark.operators.asof import coalesce_intervals

    li = _t(spark, sf, "lineitem")
    claims = li.select(
        F.concat(F.lit("O:"), F.col("l_orderkey").cast("string")).alias("subj"),
        F.lit("ships").alias("pred"),
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("obj"),
        F.to_date("l_shipdate").alias("valid_from"),
        F.date_add(F.to_date("l_shipdate"), 10).alias("valid_to"),
    )
    return coalesce_intervals(claims, keys=["subj", "pred", "obj"])


@_q(
    "q163_scd2_history",
    """
    WITH c AS (SELECT user_id, CAST(FLOOR(value / 25) AS BIGINT) AS tier,
                      ts, event_id
               FROM events),
    r AS (SELECT *,
                 LAG(tier) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM c),
    ep AS (SELECT user_id, tier, ts AS effective_from, event_id
           FROM r WHERE rn = 1 OR tier IS DISTINCT FROM prev)
    SELECT user_id, tier, effective_from,
           LEAD(effective_from) OVER (PARTITION BY user_id
                ORDER BY effective_from, event_id) AS effective_to,
           LEAD(effective_from) OVER (PARTITION BY user_id
                ORDER BY effective_from, event_id) IS NULL AS is_current
    FROM ep
    """,
)
def q163(spark, sf):
    """SCD type-2 dimension build (asof.scd2_history) — merge_latest's
    persistent sibling: per-user value-TIER episode history with
    (effective_from, effective_to, is_current), consecutive unchanged
    tiers collapsed null-safely, open-ended current row. The standard
    point-in-time lookup contract effective_from <= ts < effective_to,
    built with one shuffle on the key."""
    from bran_spark.operators.asof import scd2_history

    ev = _t(spark, sf, "events").select(
        "user_id",
        F.floor(F.col("value") / 25).cast("long").alias("tier"),
        "ts",
        "event_id",
    )
    return scd2_history(
        ev, keys=["user_id"], order_col="ts", value_col="tier",
        tiebreak="event_id",
    )


# ---- Fellegi-Sunter record linkage (operators/linking.py) ---------------

_FS_CAND_SQL = f"""
    WITH names AS (
        SELECT DISTINCT mesh_id, dict_type, canon, lower(name0) AS name
        FROM (SELECT mesh_id, type AS dict_type,
                     lower(canonical_name) AS canon,
                     unnest(list_concat([canonical_name], synonyms)) AS name0
              FROM read_parquet('{_FX01}/mesh_dict.parquet'))),
    nb AS (SELECT substr(name, 1, 3) AS block, COUNT(*) AS b
           FROM names GROUP BY 1),
    kept AS (SELECT n.*, substr(n.name, 1, 3) AS block
             FROM names n JOIN nb ON nb.block = substr(n.name, 1, 3)
             WHERE nb.b <= 50),
    men AS (SELECT mention_id, type AS m_type, mesh_id AS gold_id,
                   lower(trim(text)) AS surface,
                   substr(lower(trim(text)), 1, 3) AS block
            FROM read_parquet('{_FX01}/mentions.parquet')),
    cand AS MATERIALIZED (
        SELECT mention_id, k.mesh_id,
               BOOL_OR(surface = canon) AS agree_name,
               BOOL_OR(surface = name) AS agree_syn,
               BOOL_OR(m_type = dict_type) AS agree_type,
               BOOL_OR(gold_id = k.mesh_id) AS is_match
        FROM men m JOIN kept k USING (block)
        GROUP BY mention_id, k.mesh_id),
    tot AS (SELECT SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_m,
                   SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS n_u,
                   SUM(CASE WHEN is_match AND agree_name THEN 1 ELSE 0 END) AS am_name,
                   SUM(CASE WHEN NOT is_match AND agree_name THEN 1 ELSE 0 END) AS au_name,
                   SUM(CASE WHEN is_match AND agree_syn THEN 1 ELSE 0 END) AS am_syn,
                   SUM(CASE WHEN NOT is_match AND agree_syn THEN 1 ELSE 0 END) AS au_syn,
                   SUM(CASE WHEN is_match AND agree_type THEN 1 ELSE 0 END) AS am_type,
                   SUM(CASE WHEN NOT is_match AND agree_type THEN 1 ELSE 0 END) AS au_type
            FROM cand),
    mw AS (SELECT 'agree_name' AS field, (am_name + 1.0) / (n_m + 2) AS m,
                  (au_name + 1.0) / (n_u + 2) AS u FROM tot
           UNION ALL
           SELECT 'agree_syn', (am_syn + 1.0) / (n_m + 2),
                  (au_syn + 1.0) / (n_u + 2) FROM tot
           UNION ALL
           SELECT 'agree_type', (am_type + 1.0) / (n_m + 2),
                  (au_type + 1.0) / (n_u + 2) FROM tot),
    w AS MATERIALIZED (
        SELECT field, ROUND(m, 6) AS m, ROUND(u, 6) AS u,
               CAST(ROUND(LN(m / u) * 1000000) AS BIGINT) AS w_agree_fp,
               CAST(ROUND(LN((1 - m) / (1 - u)) * 1000000) AS BIGINT)
                   AS w_disagree_fp
        FROM mw)
"""


def _fs_cand_weights(spark, sf):
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.linking import (
        fs_field_weights,
        mention_dict_candidates,
    )

    s = _fixture_sf_for(sf)
    ensure(s)
    mentions = spark.read.parquet(f"{fixture_dir(s)}/mentions.parquet")
    mesh = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    cand = materialize(
        mention_dict_candidates(mentions, mesh, prefix_len=3, max_block=50)
    )
    weights = fs_field_weights(
        cand, ["agree_name", "agree_syn", "agree_type"]
    )
    return cand, weights


@_q("q164_fs_weights", _FS_CAND_SQL + "SELECT * FROM w")
def q164(spark, sf):
    """Fellegi-Sunter per-field m/u probabilities and fixed-point
    log-weights (linking.fs_field_weights) estimated from the blocked
    mention × dictionary candidate set, gold links as the match labels:
    m = P(agree|match), u = P(agree|non-match), add-1 smoothed; weights
    in micro-nats so downstream sums are exactly associative. One
    aggregate over the candidates, melted to a fields-sized table."""
    _, weights = _fs_cand_weights(spark, sf)
    return weights


@_q(
    "q165_fs_linkage",
    _FS_CAND_SQL
    + """
    , mel AS (SELECT mention_id, mesh_id, 'agree_name' AS field,
                     agree_name AS agree FROM cand
              UNION ALL
              SELECT mention_id, mesh_id, 'agree_syn', agree_syn FROM cand
              UNION ALL
              SELECT mention_id, mesh_id, 'agree_type', agree_type FROM cand),
    sc AS (SELECT mention_id, mesh_id,
                  CAST(SUM(CASE WHEN agree THEN w_agree_fp
                                ELSE w_disagree_fp END) AS BIGINT) AS score_fp
           FROM mel JOIN w USING (field)
           GROUP BY mention_id, mesh_id)
    SELECT mention_id, mesh_id, score_fp,
           CASE WHEN score_fp >= 2000000 THEN 'match'
                WHEN score_fp <= 0 THEN 'non_match'
                ELSE 'possible' END AS decision
    FROM sc
    """,
)
def q165(spark, sf):
    """Fellegi-Sunter linkage decisions (linking.fs_score): every
    blocked candidate scored by the summed fixed-point field weights
    and classified match / possible / non_match (the clerical-review
    triage band). Melt → broadcast fields-table join → one pair-keyed
    integer aggregate; partition-order independent by construction."""
    from bran_spark.operators.linking import fs_score

    cand, weights = _fs_cand_weights(spark, sf)
    return fs_score(
        cand,
        weights,
        id_cols=["mention_id", "mesh_id"],
        agree_cols=["agree_name", "agree_syn", "agree_type"],
        upper_fp=2_000_000,
        lower_fp=0,
    )


@_q(
    "q166_skipgram_pairs",
    _FX_PAIRS_SQL
    + _walks_sql(2, 3, as_cte=True)
    + """
    SELECT a.node AS center, b.node AS context,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM wk a JOIN wk b
      ON a.start = b.start AND a.walk_id = b.walk_id
     AND a.step <> b.step AND ABS(a.step - b.step) <= 2
    GROUP BY a.node, b.node
    """,
)
def q166(spark, sf):
    """Skip-gram (center, context) pair counts from the q86 walks
    (graphalgo.skipgram_pairs) — the word2vec-style training corpus a
    DeepWalk/node2vec KG embedding consumes. Spark packs each walk into
    its sequence array and generates pairs row-locally (constant
    fan-out per walk); the oracle replays it as a positional self-join
    over the same deterministic walks — identical pair multiset."""
    from bran_spark.operators.graphalgo import (
        deterministic_walks,
        skipgram_pairs,
        symmetric_edges,
    )

    walks = deterministic_walks(
        symmetric_edges(_fx_entity_pairs(spark, sf)), n_walks=2, walk_len=3
    )
    return skipgram_pairs(walks, window=2)


_TMIX_COIN = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
) + ") % 1000000"


@_q(
    "q167_temperature_mix",
    f"""
    WITH tot AS (SELECT source AS g, CAST(SUM(n_chars) AS DOUBLE) AS tot
                 FROM documents GROUP BY source),
    raw AS (SELECT g, tot, POWER(tot, 0.5) AS raw FROM tot),
    z AS (SELECT SUM(raw) AS z FROM raw),
    rates AS (SELECT g,
                     CAST(FLOOR(LEAST(1.0,
                          50000 * ROUND(raw / (SELECT z FROM z), 6) / tot)
                          * 1000000) AS BIGINT) AS thr
              FROM raw),
    k AS (SELECT doc_id, source, n_chars,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents)
    SELECT doc_id, source, n_chars
    FROM k JOIN rates ON k.source = rates.g
    WHERE {_TMIX_COIN} < thr
    """,
)
def q167(spark, sf):
    """Temperature-scaled source mixing (sampling.temperature_mix,
    alpha=0.5, 50k-token target): mixture shares derived from per-source
    token mass as tokens^alpha (the GPT-3/PaLM flattening rule), applied
    as deterministic md5-coin keep rates — rebalance_mix's
    derive-the-vector sibling. Two source-sized aggregates + broadcast
    rates; the corpus itself never shuffles."""
    from bran_spark.operators.sampling import temperature_mix

    return temperature_mix(
        _t(spark, sf, "documents"), alpha=0.5, target_tokens=50_000
    )


@_q(
    "q168_mcnemar",
    _FX_MENTIONS_SQL
    + f"""
    , cnts AS (SELECT doc_id, mesh_id, type, COUNT(*) AS cnt
               FROM m GROUP BY 1, 2, 3),
    pd AS MATERIALIZED (
        SELECT c.doc_id, c.mesh_id AS chem, d2.mesh_id AS dis,
               c.cnt AS chem_cnt
        FROM cnts c JOIN cnts d2 ON c.doc_id = d2.doc_id
        WHERE c.type = 'Chemical' AND d2.type = 'Disease'),
    ea AS (SELECT chem, dis FROM (
             SELECT chem, dis, COUNT(DISTINCT doc_id) AS nd
             FROM pd GROUP BY 1, 2) WHERE nd >= 2),
    eb AS (SELECT DISTINCT chem, dis FROM pd WHERE chem_cnt >= 2),
    g AS (SELECT DISTINCT chem_mesh AS chem, dis_mesh AS dis
          FROM read_parquet('{_FX01}/gold_relations.parquet')),
    j AS (SELECT (ea.chem IS NOT NULL) AS ina, (eb.chem IS NOT NULL) AS inb
          FROM g
          LEFT JOIN ea ON ea.chem = g.chem AND ea.dis = g.dis
          LEFT JOIN eb ON eb.chem = g.chem AND eb.dis = g.dis),
    agg AS (SELECT
        CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
        CAST(SUM(CASE WHEN NOT ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
        CAST(SUM(CASE WHEN NOT ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        FROM j)
    SELECT n_both, n_a_only, n_b_only, n_neither,
           CASE WHEN n_a_only + n_b_only > 0
                THEN ROUND(POWER(ABS(n_a_only - n_b_only) - 1, 2)
                           / (n_a_only + n_b_only), 6)
                ELSE 0.0 END AS chi2,
           CASE WHEN n_a_only + n_b_only > 0
                THEN ROUND(POWER(ABS(n_a_only - n_b_only) - 1, 2)
                           / (n_a_only + n_b_only), 6) > 3.841459
                ELSE FALSE END AS significant_95
    FROM agg
    """,
)
def q168(spark, sf):
    """McNemar paired comparison (evaluate.mcnemar_compare) of two
    heuristic extractors against the gold relations: A = pairs
    co-occurring in ≥2 documents (support rule), B = pairs whose
    chemical is mentioned ≥2 times in some shared document (salience
    rule) — non-nested, so both discordant cells are live. The
    statistical-significance layer q25's point metrics and q101's
    bootstrap CI don't provide for MODEL-vs-MODEL claims."""
    from bran_spark.operators.evaluate import mcnemar_compare

    m = _fx_mentions(spark, sf)
    cnts = m.groupBy("doc_id", "mesh_id", "type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    chems = cnts.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("chem"), F.col("cnt").alias("chem_cnt")
    )
    diss = cnts.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("dis")
    )
    pd_ = chems.join(diss, "doc_id")
    pred_a = (
        pd_.groupBy("chem", "dis")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chem", "dis")
    )
    pred_b = pd_.where(F.col("chem_cnt") >= 2).select("chem", "dis").distinct()
    s = _fixture_sf_for(sf)
    from bran_spark.fixtures.gen import fixture_dir

    gold = spark.read.parquet(f"{fixture_dir(s)}/gold_relations.parquet").select(
        F.col("chem_mesh").alias("chem"), F.col("dis_mesh").alias("dis")
    )
    return mcnemar_compare(gold, pred_a, pred_b, keys=["chem", "dis"])


@_q(
    "q169_clustering_coeff",
    _FX_PAIRS_SQL
    + """
    , pe AS (SELECT DISTINCT subj AS s, obj AS p FROM pairs),
    hotp AS (SELECT p FROM (SELECT p, COUNT(*) AS d FROM pe GROUP BY p) t
             WHERE d > 25),
    kept AS (SELECT s, p FROM pe WHERE p NOT IN (SELECT p FROM hotp)),
    proj AS MATERIALIZED (SELECT DISTINCT a.s AS u, b.s AS v
             FROM kept a JOIN kept b ON a.p = b.p WHERE a.s < b.s),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM proj e1
            JOIN proj e2 ON e2.u = e1.v
            JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v),
    roles AS (SELECT a AS entity FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT entity, COUNT(*) AS n_tri FROM roles GROUP BY entity),
    symp AS (SELECT u, v FROM proj UNION ALL SELECT v AS u, u AS v FROM proj),
    deg AS (SELECT u AS entity, COUNT(*) AS degree FROM symp GROUP BY u)
    SELECT d.entity, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN ROUND(2.0 * COALESCE(t.n_tri, 0)
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN tcnt t ON t.entity = d.entity
    """,
)
def q169(spark, sf):
    """Local clustering coefficient over the chemical co-occurrence
    projection (graphalgo.clustering_coefficient): 2T/(deg·(deg−1)) per
    entity — separates community-stitching hubs (high degree, ~0
    clustering) from dense-clique members. q57's triangles + one degree
    aggregate + one |V|-keyed shuffle join."""
    from bran_spark.operators.graphalgo import (
        clustering_coefficient,
        project_bipartite,
    )

    proj = project_bipartite(_fx_entity_pairs(spark, sf), max_pivot_deg=25)
    return clustering_coefficient(proj)


@_q(
    "q170_woe_iv",
    """
    WITH spine AS (SELECT UNNEST(range(10)) AS bin),
    c AS (SELECT CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INT)
                   AS bin,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::DOUBLE AS n_pos,
                 SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
                   ::DOUBLE AS n_neg
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1),
    m AS (SELECT CAST(spine.bin AS INT) AS bin,
                 COALESCE(n_pos, 0) AS n_pos, COALESCE(n_neg, 0) AS n_neg
          FROM spine LEFT JOIN c ON c.bin = spine.bin),
    tt AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM m)
    SELECT bin, ROUND(50.0 * bin, 6) AS bin_lo,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(ln(((n_pos + 0.5) / (tp + 5.0))
                    / ((n_neg + 0.5) / (tn + 5.0))), 6) AS woe,
           ROUND(((n_pos + 0.5) / (tp + 5.0) - (n_neg + 0.5) / (tn + 5.0))
                 * ln(((n_pos + 0.5) / (tp + 5.0))
                      / ((n_neg + 0.5) / (tn + 5.0))), 6) AS iv_term
    FROM m, tt
    """,
)
def q170(spark, sf):
    """Weight-of-evidence binning + information value of the event value
    as a purchase predictor (quality.woe_iv) — psi_drift's SUPERVISED
    sibling: per fixed bin, ln(share_pos/share_neg) and the IV
    contribution; SUM(iv_term) grades the signal before any quality
    score gates a corpus. One conditional-sum aggregate (half q151's
    scans), bin spine, 1-row totals broadcast."""
    from bran_spark.operators.quality import woe_iv

    ev = _t(spark, sf, "events")
    return woe_iv(
        ev.withColumn("is_purchase", F.col("event_type") == "purchase"),
        "value",
        "is_purchase",
        lo=0.0,
        hi=500.0,
        n_bins=10,
        alpha=0.5,
    )


@_q(
    "q171_caption_candidates",
    f"""
    WITH e0 AS (SELECT doc_id, spans, unnest(range(len(spans))) AS i
                FROM read_parquet('{_FX01}/documents_interleaved.parquet')),
    ex AS (SELECT doc_id, CAST(i AS INT) AS position,
                  spans[CAST(i AS INT) + 1].kind AS kind,
                  spans[CAST(i AS INT) + 1].text AS text,
                  spans[CAST(i AS INT) + 1].media_ref AS media_ref
           FROM e0),
    ctx AS (SELECT doc_id, position, kind, media_ref,
                   LAST_VALUE(CASE WHEN kind IN ('title', 'body')
                                   THEN text END IGNORE NULLS)
                     OVER (PARTITION BY doc_id ORDER BY position
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_text,
                   FIRST_VALUE(CASE WHEN kind IN ('title', 'body')
                                    THEN text END IGNORE NULLS)
                     OVER (PARTITION BY doc_id ORDER BY position
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                     AS next_text
            FROM ex)
    SELECT doc_id, position, kind, media_ref, prev_text, next_text
    FROM ctx WHERE kind NOT IN ('title', 'body')
    """,
)
def q171(spark, sf):
    """Caption-candidate pairing over the interleaved corpus
    (multimodal.caption_candidates): every media span with its nearest
    text span before and after in document order — the CLIP-style
    (image, caption) pair extraction the BASELINE.json interleaved
    input shape exists to enable. posexplode + two per-doc windows."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.multimodal import caption_candidates

    s = _fixture_sf_for(sf)
    ensure(s)
    docs = spark.read.parquet(
        f"{fixture_dir(s)}/documents_interleaved.parquet"
    )
    return caption_candidates(docs)


@_q(
    "q172_label_propagation",
    _onto_base_sql(7)
    + """
    SELECT c.node, MIN(c.ancestor) AS label, CAST(MIN(c.depth) AS INT) AS hop
    FROM clo c
    WHERE c.ancestor NOT IN (SELECT child FROM e)
    GROUP BY c.node
    """,
)
def q172(spark, sf):
    """Seeded label propagation (graphalgo.propagate_labels) assigning
    every MeSH node its tree's ROOT as the label — roots are the
    clamped seeds, labels flow one hop per round over the symmetric
    parent edges, hop = chain depth. The oracle never iterates: on a
    forest the propagation fixed point IS the closure's root ancestor
    with its depth, so the hash equality proves the iterative engine
    converges to the closed form (twin is forest-only by design; the
    operator itself handles any graph)."""
    from bran_spark.operators.graphalgo import propagate_labels, symmetric_edges

    edges, nodes, _ = _onto_inputs(spark, sf)
    sym = symmetric_edges(edges, "child", "parent")
    has_parent = edges.select(F.col("child").alias("node")).distinct()
    seeds = nodes.join(has_parent, "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return propagate_labels(sym, seeds, iters=7)


@_q(
    "q173_span_contract",
    f"""
    WITH d AS (SELECT doc_id, spans
               FROM read_parquet('{_FX01}/documents_interleaved.parquet')),
    e0 AS (SELECT doc_id, spans, unnest(range(len(spans))) AS i FROM d),
    sp AS (SELECT doc_id, CAST(i AS INT) AS pos,
                  spans[CAST(i AS INT) + 1].kind AS kind,
                  spans[CAST(i AS INT) + 1].text AS text,
                  spans[CAST(i AS INT) + 1].media_ref AS mref,
                  spans[CAST(i AS INT) + 1]."offset" AS off
           FROM e0),
    txt AS (SELECT *, SUM(length(text) + 1) OVER (PARTITION BY doc_id
                 ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevlen
            FROM sp WHERE kind IN ('title', 'body')),
    r1 AS (SELECT 'offset_arithmetic' AS rule,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_checked,
                  CAST(COUNT(DISTINCT CASE WHEN off <> COALESCE(prevlen, 0)
                                           THEN doc_id END) AS BIGINT)
                    AS n_violations
           FROM txt),
    r2 AS (SELECT 'media_shape',
                  CAST(COUNT(*) AS BIGINT),
                  CAST(COALESCE(SUM(CASE WHEN text <> '' OR mref = ''
                                              OR mref IS NULL
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM sp WHERE kind NOT IN ('title', 'body')),
    r3 AS (SELECT 'text_shape',
                  CAST(COUNT(*) AS BIGINT),
                  CAST(COALESCE(SUM(CASE WHEN mref <> '' OR text = ''
                                              OR text IS NULL
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM sp WHERE kind IN ('title', 'body')),
    r4 AS (SELECT 'kind_known',
                  CAST(COUNT(*) AS BIGINT),
                  CAST(COALESCE(SUM(CASE WHEN kind NOT IN
                                         ('title','body','image','audio','video')
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM sp)
    SELECT * FROM r1 UNION ALL SELECT * FROM r2
    UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
    """,
)
def q173(spark, sf):
    """Interleaved-input contract audit (interleave.validate_interleaved)
    — the operator form of the fixture invariants (q87's relational data
    contract, lifted to the BASELINE.json span shape): per-doc offset
    arithmetic (row-local array fold, violations counted in docs),
    media/text span shape, kind enum. Spark folds row-locally; the
    oracle replays the accumulation as a per-doc window — equality
    proves the fold's bookkeeping."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.sources.interleave import validate_interleaved

    s = _fixture_sf_for(sf)
    ensure(s)
    docs = spark.read.parquet(
        f"{fixture_dir(s)}/documents_interleaved.parquet"
    )
    return validate_interleaved(docs)


@_q(
    "q174_assortativity",
    _FX_PAIRS_SQL
    + """
    , dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    ends AS (SELECT a.d AS dj, b.d AS dk
             FROM sym e JOIN dg a ON a.u = e.u JOIN dg b ON b.u = e.v),
    asum AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(dj * dk) AS BIGINT) AS sjk,
                 CAST(SUM(dj + dk) AS BIGINT) AS sj,
                 CAST(SUM(dj * dj + dk * dk) AS BIGINT) AS sj2
          FROM ends)
    SELECT m AS n_edge_ends,
           CASE WHEN (sj2 / (2.0 * m) - (sj / (2.0 * m)) * (sj / (2.0 * m)))
                     <> 0.0
                THEN ROUND((sjk / (m * 1.0) - (sj / (2.0 * m))
                            * (sj / (2.0 * m)))
                           / (sj2 / (2.0 * m) - (sj / (2.0 * m))
                              * (sj / (2.0 * m))), 6)
           END AS assortativity
    FROM asum
    """,
)
def q174(spark, sf):
    """Degree assortativity of the chem-disease KG edge list
    (graphalgo.degree_assortativity): Pearson correlation of end-point
    degrees from EXACT integer sums (Σjk/Σj/Σj² as longs; floats only in
    the final 1-row formula, rounded 6 dp) — the one-number topology
    drift alarm next to q56/q169's per-node views."""
    from bran_spark.operators.graphalgo import (
        degree_assortativity,
        symmetric_edges,
    )

    return degree_assortativity(symmetric_edges(_fx_entity_pairs(spark, sf)))


@_q(
    "q175_lm_dirichlet",
    _LM_TOPK_SQL := f"""
    WITH wl AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    base AS (SELECT doc_id, len(ws)::DOUBLE AS dl, ws FROM wl),
    coll AS (SELECT SUM(dl) AS c_total FROM base),
    tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM base),
    mt AS (SELECT * FROM tok
           WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}')),
    tf AS (SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM mt
           GROUP BY doc_id, dl, term),
    ctf AS (SELECT term, COUNT(*)::DOUBLE AS ctf FROM mt GROUP BY term)
    SELECT doc_id,
           ROUND(SUM(ln(1 + tf / (2000.0 * (ctf / (SELECT c_total FROM coll)))))
                 + 2 * ln(2000.0 / (dl + 2000.0)), 6) AS score
    FROM tf JOIN ctf USING (term)
    GROUP BY doc_id, dl
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q175(spark, sf):
    """Query-likelihood retrieval with Dirichlet smoothing
    (search.lm_dirichlet_topk, μ=2000) over the same two query terms as
    q53 — the language-modeling ranking next to BM25's probabilistic
    one (the second standard lexical baseline every retrieval stack
    carries). Identical scan shape: term filter before tf, broadcast
    collection stats, TakeOrdered."""
    from bran_spark.operators.search import lm_dirichlet_topk

    return lm_dirichlet_topk(
        _t(spark, sf, "documents"), list(_BM25_TERMS), mu=2000.0, k=10
    )


@_q(
    "q176_zipf_fit",
    """
    WITH tf AS (SELECT term, COUNT(*)::DOUBLE AS freq FROM
                  (SELECT unnest(string_split(trim(lower(text)), ' ')) AS term
                   FROM documents)
                GROUP BY term ORDER BY freq DESC, term LIMIT 100),
    rk AS (SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term)
                          AS DOUBLE)) AS x,
                  ln(freq) AS y
           FROM tf),
    s AS (SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sx2 FROM rk)
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n, 6)
             AS intercept
    FROM s
    """,
)
def q176(spark, sf):
    """Zipf-law fit of the corpus vocabulary (quality.zipf_fit): OLS
    slope of ln(freq) on ln(rank) over the top-100 terms — the
    one-scan corpus-shape alarm (template-heavy feeds drift toward 0,
    vocabulary collapse plunges below −1). The regression input is
    bounded at top_n rows at any corpus size."""
    from bran_spark.operators.quality import zipf_fit

    return zipf_fit(_t(spark, sf, "documents"), top_n=100)


def _prd_iter_sql(iters: int, scale: int) -> str:
    """Unrolled directed-PageRank iterations with dangling-mass
    redistribution — exact integer twin of graphalgo.pagerank_directed."""
    base = scale * 15 // 100
    parts = [
        f"""
    , de AS MATERIALIZED (SELECT DISTINCT subj AS u, obj AS v
                          FROM pairs WHERE subj <> obj),
    dn AS MATERIALIZED (SELECT u AS node FROM de UNION SELECT v FROM de),
    od AS MATERIALIZED (
        SELECT n.node, CAST(COALESCE(o.odeg, 0) AS BIGINT) AS outdeg
        FROM dn n LEFT JOIN (SELECT u AS node, COUNT(*) AS odeg
                             FROM de GROUP BY u) o ON o.node = n.node),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dn),
    pr0 AS (SELECT node, outdeg, CAST({scale} AS BIGINT) AS rank FROM od)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , c{i} AS (SELECT e.v AS node, CAST(SUM(r.rank // r.outdeg) AS BIGINT) AS s
               FROM de e JOIN pr{i - 1} r ON r.node = e.u AND r.outdeg > 0
               GROUP BY e.v),
    dg{i} AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
              FROM pr{i - 1} WHERE outdeg = 0),
    pr{i} AS MATERIALIZED (
        SELECT p.node, p.outdeg,
               CAST({base} + (85 * (COALESCE(c.s, 0)
                    + (SELECT dang FROM dg{i}) // (SELECT n FROM nn)))
                    // 100 AS BIGINT) AS rank
        FROM od p LEFT JOIN c{i} c ON c.node = p.node)""")
    parts.append(f"""
    SELECT node, rank AS rank_fp FROM pr{iters}""")
    return "".join(parts)


@_q("q177_pagerank_directed", _FX_PAIRS_SQL + _prd_iter_sql(5, 10**9))
def q177(spark, sf):
    """Directed PageRank with dangling-mass redistribution over the raw
    chem→disease edges (graphalgo.pagerank_directed) — the form a real
    (subj, pred, obj) KG needs: every disease node is a pure sink here,
    so without the dangling 1-row broadcast 85% of the probability mass
    would silently drain each round (q56's symmetric variant can't see
    this failure mode). Exact integer recurrence, unrolled in the
    oracle."""
    from bran_spark.operators.graphalgo import pagerank_directed

    return pagerank_directed(_fx_entity_pairs(spark, sf), iters=5)


@_q(
    "q178_prf_expansion",
    f"""
    WITH wl AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    base AS MATERIALIZED (SELECT doc_id, len(ws)::DOUBLE AS dl, ws FROM wl),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM base),
    tok AS MATERIALIZED (SELECT doc_id, dl, unnest(ws) AS term FROM base),
    q0 AS (SELECT * FROM (VALUES ('{_BM25_TERMS[0]}'), ('{_BM25_TERMS[1]}'))
           t(term)),
    tf1 AS (SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM tok
            WHERE term IN (SELECT term FROM q0) GROUP BY doc_id, dl, term),
    dft1 AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf1 GROUP BY term),
    r1 AS (SELECT doc_id FROM (
             SELECT doc_id,
                    ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                          * (tf * 2.2)
                          / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
                      AS score
             FROM tf1 JOIN dft1 USING (term), stats GROUP BY doc_id
             ORDER BY score DESC, doc_id LIMIT 5)),
    fbtf AS (SELECT term, COUNT(*)::DOUBLE AS fbtf
             FROM tok JOIN r1 USING (doc_id) GROUP BY term),
    adf AS (SELECT term, COUNT(*)::DOUBLE AS df
            FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
    expt AS (SELECT term FROM (
               SELECT f.term,
                      ROUND(f.fbtf * ln((SELECT n_docs FROM stats) / a.df), 6)
                        AS w
               FROM fbtf f JOIN adf a USING (term)
               WHERE f.term NOT IN (SELECT term FROM q0)
               ORDER BY w DESC, term LIMIT 3)),
    qx AS MATERIALIZED (SELECT DISTINCT term FROM
            (SELECT term FROM q0 UNION ALL SELECT term FROM expt)),
    tf2 AS (SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM tok
            WHERE term IN (SELECT term FROM qx) GROUP BY doc_id, dl, term),
    dft2 AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf2 GROUP BY term)
    SELECT doc_id,
           ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
    FROM tf2 JOIN dft2 USING (term), stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q178(spark, sf):
    """Pseudo-relevance-feedback expansion (search.prf_expand_topk):
    BM25 round 1 → top-5 feedback docs → their 3 most characteristic
    terms (feedback tf · corpus idf, original terms excluded) join the
    query → BM25 round 2. The recall lever for short queries, fully
    in-plan (feedback docs and expansion terms are bounded DataFrames
    through broadcast joins — no driver collect)."""
    from bran_spark.operators.search import prf_expand_topk

    return prf_expand_topk(
        _t(spark, sf, "documents"), list(_BM25_TERMS),
        fb_docs=5, fb_terms=3, k=10,
    )


@_q(
    "q179_cohens_kappa",
    _FX_MENTIONS_SQL
    + """
    , cnts AS (SELECT doc_id, mesh_id, type, COUNT(*) AS cnt
               FROM m GROUP BY 1, 2, 3),
    pd AS MATERIALIZED (
        SELECT c.doc_id, c.mesh_id AS chem, d2.mesh_id AS dis,
               c.cnt AS chem_cnt
        FROM cnts c JOIN cnts d2 ON c.doc_id = d2.doc_id
        WHERE c.type = 'Chemical' AND d2.type = 'Disease'),
    uni AS (SELECT DISTINCT doc_id, chem, dis FROM pd),
    sup AS (SELECT chem, dis FROM (
              SELECT chem, dis, COUNT(DISTINCT doc_id) AS nd
              FROM pd GROUP BY 1, 2) WHERE nd >= 2),
    ra AS (SELECT u.doc_id, u.chem, u.dis
           FROM uni u JOIN sup s ON s.chem = u.chem AND s.dis = u.dis),
    rb AS (SELECT DISTINCT doc_id, chem, dis FROM pd WHERE chem_cnt >= 2),
    j AS (SELECT (ra.chem IS NOT NULL) AS ya, (rb.chem IS NOT NULL) AS yb
          FROM uni u
          LEFT JOIN ra ON ra.doc_id = u.doc_id AND ra.chem = u.chem
                      AND ra.dis = u.dis
          LEFT JOIN rb ON rb.doc_id = u.doc_id AND rb.chem = u.chem
                      AND rb.dis = u.dis),
    cells AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN ya AND yb THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_yy,
                     CAST(SUM(CASE WHEN NOT ya AND NOT yb THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_nn,
                     CAST(SUM(CASE WHEN ya THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_a,
                     CAST(SUM(CASE WHEN yb THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_b
              FROM j)
    SELECT n AS n_items, n_yy AS n_both_yes, n_nn AS n_both_no,
           ROUND((n_yy + n_nn) / (n * 1.0), 6) AS po,
           ROUND((n_a / (n * 1.0)) * (n_b / (n * 1.0))
                 + (1 - n_a / (n * 1.0)) * (1 - n_b / (n * 1.0)), 6) AS pe,
           CASE WHEN ((n_a / (n * 1.0)) * (n_b / (n * 1.0))
                      + (1 - n_a / (n * 1.0)) * (1 - n_b / (n * 1.0))) <> 1.0
                THEN ROUND(((n_yy + n_nn) / (n * 1.0)
                            - ((n_a / (n * 1.0)) * (n_b / (n * 1.0))
                               + (1 - n_a / (n * 1.0))
                                 * (1 - n_b / (n * 1.0))))
                           / (1 - ((n_a / (n * 1.0)) * (n_b / (n * 1.0))
                                   + (1 - n_a / (n * 1.0))
                                     * (1 - n_b / (n * 1.0)))), 6)
           END AS kappa
    FROM cells
    """,
)
def q179(spark, sf):
    """Cohen's kappa (evaluate.cohens_kappa) between q168's two
    heuristic extractors over the per-document candidate-pair universe
    — chance-corrected inter-rater agreement with NO gold involved (the
    weak-supervision consistency statistic; McNemar q168 is the
    against-gold complement). Exact integer cells, floats only in the
    1-row formula."""
    from bran_spark.operators.evaluate import cohens_kappa

    m = _fx_mentions(spark, sf)
    cnts = m.groupBy("doc_id", "mesh_id", "type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    chems = cnts.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("chem"), F.col("cnt").alias("chem_cnt")
    )
    diss = cnts.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("dis")
    )
    pd_ = chems.join(diss, "doc_id")
    uni = pd_.select("doc_id", "chem", "dis").distinct()
    sup = (
        pd_.groupBy("chem", "dis")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chem", "dis")
    )
    rater_a = uni.join(sup, ["chem", "dis"])
    rater_b = (
        pd_.where(F.col("chem_cnt") >= 2)
        .select("doc_id", "chem", "dis")
        .distinct()
    )
    return cohens_kappa(rater_a, rater_b, uni, keys=["doc_id", "chem", "dis"])


def _bfs_ns_sql(prefix: str, seed_sql: str, max_hops: int) -> str:
    """Namespaced unrolled BFS (MATERIALIZED per round — each d{h} is
    referenced 3x and un-materialized CTEs would inline 3^hops scans)."""
    p = prefix
    parts = [f"""
    , {p}sd AS ({seed_sql}),
    {p}d0 AS (SELECT u, 0 AS dist FROM {p}sd)"""]
    for h in range(1, max_hops + 1):
        prev_f = f"{p}d0" if h == 1 else f"{p}f{h - 1}"
        parts.append(f"""
    , {p}f{h} AS MATERIALIZED (
        SELECT DISTINCT e.v AS u FROM sym e JOIN {prev_f} t ON e.u = t.u
        WHERE e.v NOT IN (SELECT u FROM {p}d{h - 1})),
    {p}d{h} AS MATERIALIZED (
        SELECT u, dist FROM {p}d{h - 1}
        UNION ALL SELECT u, {h} AS dist FROM {p}f{h})""")
    return "".join(parts)


@_q(
    "q180_diameter_sweep",
    _FX_PAIRS_SQL
    + _bfs_ns_sql("a", "SELECT MIN(u) AS u FROM sym", 8)
    + _bfs_ns_sql(
        "b", "SELECT u FROM (SELECT u, dist FROM ad8 ORDER BY dist DESC, u LIMIT 1)", 8
    )
    + """
    SELECT (SELECT MIN(u) FROM sym) AS seed,
           (SELECT u FROM ad8 ORDER BY dist DESC, u LIMIT 1) AS periphery,
           (SELECT CAST(MAX(dist) AS INT) FROM ad8) AS ecc_seed,
           (SELECT CAST(MAX(dist) AS INT) FROM bd8) AS diameter_lb,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bd8) AS n_reached
    """,
)
def q180(spark, sf):
    """Double-sweep diameter lower bound on the KG edge list
    (graphalgo.diameter_sweep, exact on trees, empirically tight on
    real graphs): BFS from the min entity, hop to the farthest node
    (deterministic ties), BFS again — the one-number reachability
    health check. Seed and periphery stay 1-row DataFrames in-plan;
    the oracle unrolls both sweeps with MATERIALIZED rounds."""
    from bran_spark.operators.graphalgo import diameter_sweep, symmetric_edges

    return diameter_sweep(
        symmetric_edges(_fx_entity_pairs(spark, sf)), max_hops=8
    )


@_q(
    "q181_rank_agreement",
    f"""
    WITH ra AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS ra
                FROM ({_BM25_TOPK_SQL})),
    rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
           FROM ({_LM_TOPK_SQL})),
    common AS (SELECT ra.doc_id, ra.ra, rb.rb FROM ra JOIN rb USING (doc_id)),
    prods AS (SELECT (c1.ra - c2.ra) * (c1.rb - c2.rb) AS prod
              FROM common c1 JOIN common c2 ON c1.doc_id < c2.doc_id),
    cells AS (SELECT COALESCE(SUM(CASE WHEN prod > 0 THEN 1 END), 0)::BIGINT
                       AS n_concordant,
                     COALESCE(SUM(CASE WHEN prod < 0 THEN 1 END), 0)::BIGINT
                       AS n_discordant
              FROM prods),
    sizes AS (SELECT (SELECT COUNT(*) FROM ra)::BIGINT AS n_a,
                     (SELECT COUNT(*) FROM rb)::BIGINT AS n_b,
                     (SELECT COUNT(*) FROM common)::BIGINT AS n_common)
    SELECT n_a, n_b, n_common, n_concordant, n_discordant,
           ROUND(n_common::DOUBLE / least(n_a, n_b), 6) AS overlap,
           CASE WHEN n_common >= 2 THEN
             ROUND((n_concordant - n_discordant)::DOUBLE
                   / (n_common::DOUBLE * (n_common - 1) / 2), 6) END AS tau
    FROM sizes, cells
    """,
)
def q181(spark, sf):
    """Kendall rank agreement (evaluate.rank_agreement) between the BM25
    (q53) and query-likelihood (q175) top-10 for the same query — the
    ranker-swap decision statistic: tau-a over the common docs (no ties:
    ranks come from row_number over the rounded scores) plus overlap@k.
    Both inputs are k-row lists, so the pairwise self-join is k² rows."""
    from bran_spark.operators.evaluate import rank_agreement
    from bran_spark.operators.search import bm25_topk, lm_dirichlet_topk

    docs = _t(spark, sf, "documents")
    return rank_agreement(
        bm25_topk(docs, list(_BM25_TERMS), k=10),
        lm_dirichlet_topk(docs, list(_BM25_TERMS), mu=2000.0, k=10),
    )


@_q(
    "q182_ndcg_eval",
    f"""
    WITH rel AS (SELECT doc_id,
                        len(list_intersect(
                            list_distinct(string_split(trim(lower(text)), ' ')),
                            ['{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}']))::INT AS rel
                 FROM documents),
    ranked AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
               FROM ({_BM25_TOPK_SQL})),
    g AS (SELECT (pow(2.0, COALESCE(rel, 0)) - 1) / log2(r + 1.0) AS g
          FROM ranked LEFT JOIN rel USING (doc_id)),
    dcg AS (SELECT COALESCE(SUM(g), 0) AS dcg FROM g),
    top_rel AS (SELECT rel FROM rel ORDER BY rel DESC LIMIT 10),
    ig AS (SELECT (pow(2.0, rel) - 1)
               / log2(ROW_NUMBER() OVER (ORDER BY rel DESC) + 1.0) AS g
           FROM top_rel),
    idcg AS (SELECT COALESCE(SUM(g), 0) AS idcg FROM ig)
    SELECT ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
           CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 6) END AS ndcg
    FROM dcg, idcg
    """,
)
def q182(spark, sf):
    """nDCG@10 (evaluate.ndcg_at_k) of the q53 BM25 ranking against
    graded relevance = number of distinct query terms present in the doc
    — the graded ranking eval next to the binary P/R/F1 surface. IDCG
    takes only the corpus's k largest grades via TakeOrdered; gains are
    a k-row frame."""
    from bran_spark.functions.text import words
    from bran_spark.operators.evaluate import ndcg_at_k
    from bran_spark.operators.search import bm25_topk

    docs = _t(spark, sf, "documents")
    rels = docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(words("text")),
                F.array(*[F.lit(t) for t in _BM25_TERMS]),
            )
        ).cast("int").alias("rel"),
    )
    return ndcg_at_k(bm25_topk(docs, list(_BM25_TERMS), k=10), rels, k=10)


# Shared vote matrix for the weak-supervision twins (q183/q184): three
# deterministic quality LFs in {-1,0,+1}, 0 = abstain — exact replica of
# weaksup.quality_lf_votes (same words() split, same thresholds).
_LF_VOTES_SQL = """
    WITH wl AS (SELECT doc_id, text,
                       string_split(trim(lower(text)), ' ') AS ws
                FROM documents),
    v AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN len(ws) >= 30 THEN 1
             WHEN len(ws) < 5 THEN -1 ELSE 0 END::INT AS lf_len,
        CASE WHEN 1 - len(list_distinct(ws))::DOUBLE / len(ws) < 0.1 THEN 1
             WHEN 1 - len(list_distinct(ws))::DOUBLE / len(ws) > 0.4 THEN -1
             ELSE 0 END::INT AS lf_dup,
        CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g')) = 0 THEN 1
             WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                  / greatest(length(text), 1) > 0.2 THEN -1
             ELSE 0 END::INT AS lf_digit
      FROM wl)
    """


@_q(
    "q183_weak_labels",
    _LF_VOTES_SQL
    + """
    SELECT doc_id, lf_len, lf_dup, lf_digit,
           ((lf_len != 0)::INT + (lf_dup != 0)::INT
            + (lf_digit != 0)::INT)::INT AS n_votes,
           sign(lf_len + lf_dup + lf_digit)::INT AS label
    FROM v
    """,
)
def q183(spark, sf):
    """Weak-supervision silver labels (weaksup.majority_vote over
    quality_lf_votes): three deterministic quality LFs vote {-1,0,+1}
    per document, label = sign of the vote sum (0 = tie / all abstain).
    The entire vote matrix is scan-projection column math — one pass,
    no shuffle — which is why data programming is viable at 10^12 docs
    while human labeling is not."""
    from bran_spark.operators.weaksup import majority_vote, quality_lf_votes

    votes = quality_lf_votes(_t(spark, sf, "documents"), "doc_id", "text")
    return majority_vote(votes, "doc_id", ["lf_len", "lf_dup", "lf_digit"])


@_q(
    "q184_lf_diagnostics",
    _LF_VOTES_SQL
    + """
    SELECT 'lf_len' AS lf_name, COUNT(*)::BIGINT AS n_items,
           ROUND(AVG((lf_len != 0)::INT), 6) AS coverage,
           ROUND(AVG((lf_len != 0 AND (lf_dup != 0 OR lf_digit != 0))::INT),
                 6) AS overlap,
           ROUND(AVG((lf_len != 0 AND ((lf_dup != 0 AND lf_dup != lf_len)
                 OR (lf_digit != 0 AND lf_digit != lf_len)))::INT), 6)
             AS conflict
    FROM v
    UNION ALL
    SELECT 'lf_dup', COUNT(*)::BIGINT,
           ROUND(AVG((lf_dup != 0)::INT), 6),
           ROUND(AVG((lf_dup != 0 AND (lf_len != 0 OR lf_digit != 0))::INT),
                 6),
           ROUND(AVG((lf_dup != 0 AND ((lf_len != 0 AND lf_len != lf_dup)
                 OR (lf_digit != 0 AND lf_digit != lf_dup)))::INT), 6)
    FROM v
    UNION ALL
    SELECT 'lf_digit', COUNT(*)::BIGINT,
           ROUND(AVG((lf_digit != 0)::INT), 6),
           ROUND(AVG((lf_digit != 0 AND (lf_len != 0 OR lf_dup != 0))::INT),
                 6),
           ROUND(AVG((lf_digit != 0 AND ((lf_len != 0 AND lf_len != lf_digit)
                 OR (lf_dup != 0 AND lf_dup != lf_digit)))::INT), 6)
    FROM v
    ORDER BY lf_name
    """,
)
def q184(spark, sf):
    """Per-LF coverage / overlap / conflict diagnostics
    (weaksup.lf_stats) — the Snorkel analysis triple that tells a
    pipeline owner which heuristic to fix next. One corpus pass: the
    vote matrix explodes to n_docs × 3 rows keyed by LF name, so the
    aggregate state is 3 rows at any corpus size."""
    from bran_spark.operators.weaksup import lf_stats, quality_lf_votes

    votes = quality_lf_votes(_t(spark, sf, "documents"), "doc_id", "text")
    return lf_stats(votes, ["lf_len", "lf_dup", "lf_digit"])


@_q(
    "q185_hard_negatives",
    f"""
    WITH scores AS (SELECT * FROM ({_BM25_SCORES_SQL})),
    pos AS (SELECT doc_id FROM documents
            WHERE list_has_all(
                list_distinct(string_split(trim(lower(text)), ' ')),
                ['{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}'])),
    negs AS (SELECT s.doc_id, s.score FROM scores s
             ANTI JOIN pos p ON s.doc_id = p.doc_id
             ORDER BY s.score DESC, s.doc_id LIMIT 10)
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)::INT AS rank
    FROM negs
    """,
)
def q185(spark, sf):
    """BM25 hard-negative mining (search.hard_negatives): top-10 scored
    docs that do NOT contain every query term — boundary negatives for
    contrastive retriever training. Positive predicate is scan-local
    array containment, exclusion a left-anti join, cut TakeOrdered; the
    rank window runs over the 10 surviving rows only."""
    from bran_spark.operators.search import hard_negatives

    return hard_negatives(_t(spark, sf, "documents"), list(_BM25_TERMS), k=10)


@_q(
    "q186_mil_bags",
    f"""
    WITH {{pipe}}
    SELECT chem_mesh, dis_mesh,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
           COUNT(DISTINCT CASE WHEN label = 1 THEN doc_id END)::BIGINT
             AS n_pos_docs,
           MAX(label)::INT AS bag_label,
           ROUND(COUNT(DISTINCT CASE WHEN label = 1 THEN doc_id END)::DOUBLE
                 / COUNT(DISTINCT doc_id), 6) AS pos_frac
    FROM labeled
    GROUP BY chem_mesh, dis_mesh
    """.replace("{pipe}", _PIPE_CTES),
)
def q186(spark, sf):
    """Distant-supervision MIL bag construction (pairs.mil_bags): each
    (chem, dis) entity pair becomes one bag with size, positive-doc
    count, at-least-one bag label and the bag-noise fraction — the
    training-set granularity bran's pooled scorer consumes. One exact
    integer aggregate keyed by the composite entity pair."""
    from bran_spark.operators.pairs import mil_bags

    return mil_bags(_labeled(spark, sf))


@_q(
    "q187_semdedup",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    {_kmeans_iter_sql(0)},
    {_kmeans_iter_sql(1)},
    df AS (SELECT e.vec_id, e.v, c.cid,
            ROUND(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                  + list_dot_product(c.cv, c.cv), 6) AS dist
           FROM e CROSS JOIN c2 c),
    asg AS (SELECT vec_id, v, cell FROM
             (SELECT vec_id, v, cid AS cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY dist, cid) AS rn
              FROM df)
            WHERE rn = 1),
    p AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
          FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT cell, id_a, id_b, cos FROM p WHERE cos >= 0.3
    """,
)
def q187(spark, sf):
    """SemDeDup pair-level audit (dedup.semdedup_pairs): the scored
    intra-cell cosine pairs that q110's survivor sweep collapses —
    shipped separately because threshold sweeps and false-positive
    review read the pairs, not the survivor list. Same trained
    quantizer as q47/q110 (k=8, 2 Lloyd iterations, lowest-id init);
    cosine rounded 6 dp BEFORE the 0.3 demo threshold (production uses
    ≥0.95 — this corpus's synthetic embeddings top out at 0.51)."""
    from bran_spark.operators.dedup import semdedup_pairs

    return semdedup_pairs(
        _t(spark, sf, "embeddings"), k=8, iters=2, threshold=0.3
    )


@_q(
    "q188_sketch_accuracy",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=4)}))
             AS shingle
           FROM wl),
    banded AS (SELECT doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(8)) AS band)),
    sig AS (SELECT doc_id, band, MIN(h) AS minhash
            FROM banded GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
                                  AND a.doc_id < b.doc_id),
    agree AS (SELECT c.id_a, c.id_b,
                     SUM(CASE WHEN sa.minhash = sb.minhash THEN 1
                         ELSE 0 END)::DOUBLE / 8 AS est
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.id_a
              JOIN sig sb ON sb.doc_id = c.id_b AND sb.band = sa.band
              GROUP BY c.id_a, c.id_b),
    ns AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    cm AS (SELECT c.id_a, c.id_b, COUNT(*)::BIGINT AS common
           FROM cand c
           JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
           GROUP BY c.id_a, c.id_b),
    ex AS (SELECT c.id_a, c.id_b,
                  COALESCE(m.common, 0)::DOUBLE
                  / (na.n_sh + nb.n_sh - COALESCE(m.common, 0)) AS exact
           FROM cand c
           LEFT JOIN cm m ON m.id_a = c.id_a AND m.id_b = c.id_b
           JOIN ns na ON na.doc_id = c.id_a
           JOIN ns nb ON nb.doc_id = c.id_b)
    SELECT a.id_a, a.id_b, ROUND(a.est, 6) AS est_jaccard,
           ROUND(e.exact, 6) AS exact_jaccard,
           ROUND(ABS(a.est - e.exact), 6) AS abs_err
    FROM agree a JOIN ex e ON e.id_a = a.id_a AND e.id_b = a.id_b
    """,
)
def q188(spark, sf):
    """Sketch-accuracy audit (dedup.minhash_jaccard_audit): MinHash-
    estimated vs exact Jaccard on every LSH candidate pair, with 8
    independent md5 band hashes (estimate noise floor 1/8). Exact
    intersections run ONLY on the LSH-bounded candidates — the audit
    that sizes ``bands`` before a 10^12-doc dedup commits to it."""
    from bran_spark.operators.dedup import minhash_jaccard_audit

    return minhash_jaccard_audit(
        _t(spark, sf, "documents"), "doc_id", "text", n=4, bands=8,
        hash_fn="md5",
    )


@_q(
    "q189_assertion_filter",
    f"""
    WITH dim(surface, mesh_id, type) AS (VALUES {_DIM_VALUES}),
    wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
    wp AS (SELECT doc_id, i AS pos, ws[i + 1] AS word
           FROM wl, unnest(range(len(ws))) AS t(i)),
    m AS (SELECT wp.doc_id, wp.pos, dim.mesh_id, dim.type
          FROM wp JOIN dim ON wp.word = dim.surface),
    cue AS (SELECT doc_id, pos AS cue_pos FROM wp
            WHERE word IN ('slow', 'small')),
    dis AS (SELECT doc_id, pos, mesh_id FROM m WHERE type = 'Disease'),
    neg AS (SELECT DISTINCT d.doc_id, d.pos, d.mesh_id
            FROM dis d JOIN cue c ON c.doc_id = d.doc_id
             AND c.cue_pos >= d.pos - 2 AND c.cue_pos < d.pos),
    ds AS (SELECT doc_id, mesh_id, COUNT(*) AS n_m
           FROM dis GROUP BY doc_id, mesh_id),
    ns AS (SELECT doc_id, mesh_id, COUNT(*) AS n_neg
           FROM neg GROUP BY doc_id, mesh_id),
    dflag AS (SELECT ds.doc_id, ds.mesh_id AS dis_mesh,
                     COALESCE(ns.n_neg, 0) < ds.n_m AS asserted
              FROM ds LEFT JOIN ns ON ns.doc_id = ds.doc_id
                                  AND ns.mesh_id = ds.mesh_id),
    chem AS (SELECT DISTINCT doc_id, mesh_id AS chem_mesh
             FROM m WHERE type = 'Chemical')
    SELECT c.doc_id, c.chem_mesh, d.dis_mesh, d.asserted
    FROM chem c JOIN dflag d ON d.doc_id = c.doc_id
    """,
)
def q189(spark, sf):
    """Negation-cue assertion filter (mentions.assertion_status): a
    (chem, dis) candidate pair is un-asserted when EVERY disease mention
    in the doc has a cue word ('slow'/'small' in this corpus's lexicon)
    within 2 words before it — the NegBio-class post-filter between
    extraction and KG publish. Positions from one posexplode; cue
    proximity is a doc-keyed equi-join with bounded per-doc fan-out."""
    from bran_spark.operators.mentions import assertion_status

    return assertion_status(
        _t(spark, sf, "documents"),
        _plain_dim(spark),
        cues=["slow", "small"],
        window=2,
    )


@_q(
    "q190_bpe_train_step",
    """
    WITH wc AS (SELECT word, COUNT(*)::BIGINT AS cnt FROM
                  (SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
                   FROM documents)
                GROUP BY word),
    bp AS (SELECT cnt,
                  unnest(list_transform(range(1, length(word)),
                         i -> substr(word, i, 2))) AS pair
           FROM wc WHERE length(word) >= 2)
    SELECT pair, SUM(cnt)::BIGINT AS freq
    FROM bp GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 10
    """,
)
def q190(spark, sf):
    """BPE merge learning, one iteration (bpe.bpe_pair_counts): adjacent
    character-pair frequencies over the word VOCABULARY weighted by word
    frequency, top-10 merge candidates — the training-side complement of
    the merge-replay tokenizer (X1). The corpus collapses to its Zipf-
    bounded vocab before any pair explodes."""
    from bran_spark.functions.bpe import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf, "documents"), "text", k=10)


@_q(
    "q191_diversity_profile",
    """
    WITH c AS (SELECT source AS g, COUNT(*)::DOUBLE AS c
               FROM documents GROUP BY source),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    p AS (SELECT c.c / n.n AS p FROM c, n)
    SELECT COUNT(*)::BIGINT AS n_groups,
           ROUND(MAX(p), 6) AS top_share,
           ROUND(-SUM(p * ln(p)), 6) AS shannon_h,
           ROUND(exp(-SUM(p * ln(p))), 6) AS eff_shannon,
           ROUND(1 - SUM(p * p), 6) AS gini_simpson,
           ROUND(1 / SUM(p * p), 6) AS eff_simpson
    FROM p
    """,
)
def q191(spark, sf):
    """Source-mix diversity profile (quality.diversity_profile): Shannon
    and Simpson concentration plus their Hill-number "effective source"
    counts over the corpus's source column — the one-row alarm for a mix
    collapsing onto one domain (complements psi_drift's two-snapshot
    comparison). Per-source counts are dimension-scale; floats only in
    the final few-term sums."""
    from bran_spark.operators.quality import diversity_profile

    return diversity_profile(_t(spark, sf, "documents"), "source")


@_q(
    "q192_llr_association",
    _FX_MENTIONS_SQL
    + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    a AS (SELECT doc_id, mesh_id AS subj FROM ent WHERE type = 'Chemical'),
    b AS (SELECT doc_id, mesh_id AS obj FROM ent WHERE type = 'Disease'),
    pc AS (SELECT subj, obj, COUNT(*) AS n_co
           FROM a JOIN b USING (doc_id) GROUP BY subj, obj),
    na AS (SELECT subj, COUNT(*) AS n_s FROM a GROUP BY subj),
    nb AS (SELECT obj, COUNT(*) AS n_o FROM b GROUP BY obj),
    dd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_docs FROM ent),
    k AS (SELECT subj, obj, n_co,
                 n_co::DOUBLE AS k11,
                 (n_s - n_co)::DOUBLE AS k12,
                 (n_o - n_co)::DOUBLE AS k21,
                 (d_docs - n_s - n_o + n_co)::DOUBLE AS k22,
                 d_docs::DOUBLE AS nn
          FROM pc JOIN na USING (subj) JOIN nb USING (obj) CROSS JOIN dd)
    SELECT subj, obj, CAST(n_co AS BIGINT) AS n_co,
           ROUND(2 * ((CASE WHEN k11 > 0 THEN k11 * ln(k11) ELSE 0 END)
                    + (CASE WHEN k12 > 0 THEN k12 * ln(k12) ELSE 0 END)
                    + (CASE WHEN k21 > 0 THEN k21 * ln(k21) ELSE 0 END)
                    + (CASE WHEN k22 > 0 THEN k22 * ln(k22) ELSE 0 END)
                    - (CASE WHEN k11 + k12 > 0
                            THEN (k11 + k12) * ln(k11 + k12) ELSE 0 END)
                    - (CASE WHEN k21 + k22 > 0
                            THEN (k21 + k22) * ln(k21 + k22) ELSE 0 END)
                    - (CASE WHEN k11 + k21 > 0
                            THEN (k11 + k21) * ln(k11 + k21) ELSE 0 END)
                    - (CASE WHEN k12 + k22 > 0
                            THEN (k12 + k22) * ln(k12 + k22) ELSE 0 END)
                    + (CASE WHEN nn > 0 THEN nn * ln(nn) ELSE 0 END)), 6)
             AS llr
    FROM k
    """,
)
def q192(spark, sf):
    """Dunning G² log-likelihood association (graphalgo.llr_association)
    per chemical-disease pair — the rare-pair-calibrated KG edge weight
    next to q63's PMI. Exact integer 2×2 cells; the G² expression is a
    fixed scalar tree, so no cross-engine float-order divergence
    exists."""
    from bran_spark.operators.graphalgo import llr_association

    return llr_association(_fx_entity_incidence(spark, sf))


@_q(
    "q193_textrank_keywords",
    f"""
    WITH wl AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ws
                FROM documents),
    wp AS (SELECT doc_id, i AS pos, ws[i + 1] AS word
           FROM wl, unnest(range(len(ws))) AS t(i)),
    co AS (SELECT DISTINCT a.word AS subj, b.word AS obj
           FROM wp a JOIN wp b ON a.doc_id = b.doc_id
            AND b.pos > a.pos AND b.pos - a.pos <= 2
            AND a.word != b.word),
    sym AS (SELECT DISTINCT u, v FROM (SELECT subj AS u, obj AS v FROM co
                                       UNION ALL SELECT obj, subj FROM co)
            WHERE u != v),
    deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    r0 AS (SELECT u, deg, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg)
    {_pr_iter_sql(5, _PR_BASE)}
    SELECT u AS word, rank AS rank_fp FROM r5
    ORDER BY rank_fp DESC, word LIMIT 10
    """,
)
def q193(spark, sf):
    """TextRank corpus keywords (search.textrank_keywords): PageRank over
    the word co-occurrence graph (|Δpos| ≤ 2 within a doc), ranking
    reused from graphalgo.pagerank_fixed_point — bit-exact integer
    scores, one shuffle per iteration. The graph collapses to the Zipf-
    bounded vocabulary before any iteration runs."""
    from bran_spark.operators.search import textrank_keywords

    return textrank_keywords(
        _t(spark, sf, "documents"), window=2, iters=5, k=10
    )


@_q(
    "q194_cloze_pairs",
    """
    WITH wl AS (SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), ' +')) AS term
                FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wl GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (SELECT doc_id, term,
                      ROUND(tf * ln(n.n_docs / df), 6) AS tfidf
               FROM tf JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS rk
               FROM scored),
    wsx AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ws
            FROM documents)
    SELECT w.doc_id, t.term AS answer,
           COALESCE(array_to_string(
             list_transform(w.ws,
               x -> CASE WHEN x = t.term THEN '[MASK]' ELSE x END), ' '), '')
             AS question
    FROM wsx w JOIN ranked t ON t.doc_id = w.doc_id AND t.rk = 1
    """,
)
def q194(spark, sf):
    """Salience-masked cloze generation (search.cloze_pairs): per doc the
    argmax-tf·idf term becomes the answer and the doc with that term
    masked becomes the question — synthetic QA training pairs minted
    with exact per-word equality (no regex hazards), byte-reproducible
    across engines."""
    from bran_spark.operators.search import cloze_pairs

    return cloze_pairs(_t(spark, sf, "documents"))


@_q(
    "q195_retrieval_metrics",
    f"""
    WITH r AS (SELECT doc_id,
                      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
               FROM ({_BM25_TOPK_SQL})),
    rl AS (SELECT doc_id FROM documents
           WHERE list_has_all(
               list_distinct(string_split(trim(lower(text)), ' ')),
               ['{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}'])),
    h AS (SELECT r.rank FROM r JOIN rl USING (doc_id)),
    cells AS (SELECT (SELECT COUNT(*) FROM r)::BIGINT AS n_ranked,
                     (SELECT COUNT(*) FROM rl)::BIGINT AS n_rel,
                     (SELECT COUNT(*) FROM h)::BIGINT AS n_hit,
                     (SELECT MIN(rank) FROM h) AS first_rank)
    SELECT n_ranked, n_rel, n_hit,
           ROUND(n_hit / 10.0, 6) AS p_at_k,
           CASE WHEN n_rel > 0
                THEN ROUND(n_hit::DOUBLE / n_rel, 6) END AS r_at_k,
           ROUND(COALESCE(1.0 / first_rank, 0), 6) AS mrr
    FROM cells
    """,
)
def q195(spark, sf):
    """Binary retrieval metrics (evaluate.retrieval_metrics): P@10, R@10
    and MRR of the q53 BM25 ranking against the conjunctive-term-match
    relevance set (q185's positive proxy) — the set/rank eval next to
    q182's graded nDCG. All cells exact integers but the final three
    divisions."""
    from bran_spark.functions.text import words
    from bran_spark.operators.evaluate import retrieval_metrics
    from bran_spark.operators.search import bm25_topk

    docs = _t(spark, sf, "documents")
    rel = docs.where(
        F.size(
            F.array_intersect(
                F.array_distinct(words("text")),
                F.array(*[F.lit(t) for t in _BM25_TERMS]),
            )
        )
        == len(_BM25_TERMS)
    ).select("doc_id")
    return retrieval_metrics(
        bm25_topk(docs, list(_BM25_TERMS), k=10), rel, k=10
    )


@_q(
    "q196_roc_auc",
    f"""
    WITH {_PIPE_CTES},
    g AS (SELECT s, SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
                 SUM(CASE WHEN label = 1 THEN 0 ELSE 1 END)::BIGINT AS nn
          FROM scored GROUP BY s),
    c AS (SELECT np, nn,
                 COALESCE(SUM(nn) OVER (ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum_neg
          FROM g),
    t AS (SELECT SUM(np)::BIGINT AS n_pos, SUM(nn)::BIGINT AS n_neg,
                 SUM(2 * np * cum_neg + np * nn)::BIGINT AS num2 FROM c)
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(num2 / (2.0 * n_pos * n_neg), 6) END AS auc
    FROM t
    """,
)
def q196(spark, sf):
    """Exact ROC AUC (evaluate.roc_auc) of the deterministic pseudo-scores
    against the pseudo-gold labels — Mann-Whitney pair counting with the
    ½-tie correction on the score-GROUPED table (the corpus collapses to
    its score grid before the cumulative window; integers until the one
    final division). Threshold-free ranking quality next to q24's swept
    operating point."""
    from bran_spark.operators.evaluate import roc_auc

    return roc_auc(_scored(spark, sf), label_col="label", score_col="s")


@_q(
    "q197_burst_detection",
    """
    WITH b AS (SELECT event_type,
                      CAST(epoch(time_bucket(INTERVAL 1 hour, ts)) AS BIGINT)
                        AS bucket_start,
                      COUNT(*)::BIGINT AS n
               FROM events GROUP BY event_type, bucket_start),
    m AS (SELECT event_type, COUNT(*)::DOUBLE AS nh,
                 SUM(n)::DOUBLE AS s1, SUM(n * n)::DOUBLE AS s2
          FROM b GROUP BY event_type)
    SELECT b.event_type, b.bucket_start, b.n,
           CASE WHEN (s2 / nh - (s1 / nh) * (s1 / nh)) > 0
                THEN ROUND((b.n - s1 / nh)
                           / sqrt(s2 / nh - (s1 / nh) * (s1 / nh)), 6)
           END AS z,
           COALESCE(
             CASE WHEN (s2 / nh - (s1 / nh) * (s1 / nh)) > 0
                  THEN ROUND((b.n - s1 / nh)
                             / sqrt(s2 / nh - (s1 / nh) * (s1 / nh)), 6)
                       >= 2.0
             END, FALSE) AS burst
    FROM b JOIN m USING (event_type)
    """,
)
def q197(spark, sf):
    """Per-stream burst detection (sessions.burst_scores): hourly bucket
    counts z-scored against each event type's own mean/variance (exact
    two-moment identity — the same fixed expression tree in both
    engines, no library stddev accumulation order in play). The feed-
    ingest anomaly alarm; types are dimension-scale, moments broadcast
    back."""
    from bran_spark.operators.sessions import burst_scores

    return burst_scores(_t(spark, sf, "events"), z_threshold=2.0)


@_q(
    "q198_conformal_coverage",
    f"""
    WITH {_PIPE_CTES},
    pos AS (SELECT doc_id, s FROM scored WHERE label = 1),
    calib AS (SELECT s FROM pos WHERE doc_id % 2 = 0),
    tst AS (SELECT s FROM pos WHERE doc_id % 2 = 1),
    n AS (SELECT COUNT(*)::BIGINT AS n_calib FROM calib),
    rk AS (SELECT s AS cs, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM calib),
    tau AS (SELECT n.n_calib,
                   CASE WHEN floor(0.1 * (n.n_calib + 1)) >= 1
                        THEN rk.rn ELSE 0 END AS k,
                   CASE WHEN floor(0.1 * (n.n_calib + 1)) >= 1
                        THEN rk.cs
                        ELSE CAST('-infinity' AS DOUBLE) END AS tau
            FROM rk, n
            WHERE rk.rn = greatest(1, CAST(floor(0.1 * (n.n_calib + 1))
                                           AS BIGINT)))
    SELECT t.n_calib, t.k, ROUND(t.tau, 6) AS tau,
           (SELECT COUNT(*) FROM tst)::BIGINT AS n_test,
           (SELECT SUM(CASE WHEN s >= t.tau THEN 1 ELSE 0 END)
            FROM tst)::BIGINT AS n_covered,
           ROUND((SELECT SUM(CASE WHEN s >= t.tau THEN 1 ELSE 0 END)
                  FROM tst)::DOUBLE
                 / (SELECT COUNT(*) FROM tst), 6) AS coverage,
           CAST(0.9 AS DOUBLE) AS target
    FROM tau t
    """,
)
def q198(spark, sf):
    """Split-conformal coverage audit (evaluate.conformal_coverage,
    α=0.1): even-doc positives calibrate the distribution-free k-th-
    order-statistic threshold, odd-doc positives verify the ≥ 1−α
    guarantee empirically. The rank window touches only the bounded
    calibration set; the test side is a broadcast-τ aggregate."""
    from bran_spark.operators.evaluate import conformal_coverage

    pos = _scored(spark, sf).where(F.col("label") == 1)
    calib = pos.where(F.col("doc_id") % 2 == 0).select("s")
    tst = pos.where(F.col("doc_id") % 2 == 1).select("s")
    return conformal_coverage(calib, tst, alpha=0.1, score_col="s")


@_q(
    "q199_ks_drift",
    """
    WITH a AS (SELECT value AS v, COUNT(*) AS ca FROM events
               WHERE event_type = 'view' GROUP BY value),
    b AS (SELECT value AS v, COUNT(*) AS cb FROM events
          WHERE event_type = 'purchase' GROUP BY value),
    m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
                 COALESCE(cb, 0) AS cb
          FROM a FULL OUTER JOIN b ON a.v = b.v),
    c AS (SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_a,
                 SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_b
          FROM m),
    t AS (SELECT SUM(ca)::BIGINT AS n_a, SUM(cb)::BIGINT AS n_b FROM m)
    SELECT n_a, n_b,
           ROUND(MAX(ABS(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b)), 6)
             AS ks_d
    FROM c, t GROUP BY n_a, n_b
    """,
)
def q199(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov drift (quality.ks_drift)
    between the view and purchase value distributions — the bin-free
    sup-norm companion of q151's PSI. Integers until the two ECDF
    divisions; window over the distinct-value grid (quantize or lift to
    the packing prefix-sum for continuous corpus-scale values)."""
    from bran_spark.operators.quality import ks_drift

    return ks_drift(
        _t(spark, sf, "events"), "event_type", "value", "view", "purchase"
    )


@_q(
    "q200_vocab_saturation",
    """
    WITH tf AS (SELECT term, COUNT(*)::BIGINT AS freq FROM
                  (SELECT unnest(string_split_regex(trim(lower(text)), ' +'))
                     AS term
                   FROM documents)
                GROUP BY term)
    SELECT SUM(freq)::BIGINT AS n_tokens,
           COUNT(*)::BIGINT AS vocab,
           SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
           ROUND(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / SUM(freq), 6) AS unseen_mass,
           ROUND(ln(COUNT(*)::DOUBLE) / ln(SUM(freq)::DOUBLE), 6) AS herdan_c
    FROM tf
    """,
)
def q200(spark, sf):
    """Vocabulary-saturation audit (quality.vocab_saturation): Good-
    Turing unseen mass (singleton fraction — the probability the next
    token is a new type) and the Herdan/Heaps growth exponent — the
    one-row corpus-growth decision input. Two aggregates over the
    term-frequency table."""
    from bran_spark.operators.quality import vocab_saturation

    return vocab_saturation(_t(spark, sf, "documents"), "text")


@_q(
    "q201_quantile_normalize",
    """
    SELECT doc_id AS id, source AS grp, n_chars AS score,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars),
                 6) AS q
    FROM documents
    """,
)
def q201(spark, sf):
    """Within-source quantile normalization (quality.quantile_normalize)
    of the document length score — per-source percent_rank makes one
    quality threshold keep the SAME fraction of every source (a global
    cutoff keeps 90% of one domain and 2% of another). Ties share a
    rank, so equal scores get equal quantiles with no tie-break; each
    source's window sorts independently (partition-parallel)."""
    from bran_spark.operators.quality import quantile_normalize

    return quantile_normalize(
        _t(spark, sf, "documents"), "source", "n_chars", "doc_id"
    )


@_q(
    "q202_pathsim",
    _FX_MENTIONS_SQL
    + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    ca AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Chemical'),
    da AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Disease'),
    wt AS (SELECT ca.mesh_id AS subj, da.mesh_id AS obj,
                  COUNT(*)::BIGINT AS w
           FROM ca JOIN da USING (doc_id) GROUP BY subj, obj),
    aa AS (SELECT subj AS id_a, obj AS d, w AS wa FROM wt),
    bb AS (SELECT subj AS id_b, obj AS d, w AS wb FROM wt),
    crossp AS (SELECT id_a, id_b, SUM(wa * wb)::BIGINT AS paths_ab
               FROM aa JOIN bb USING (d) WHERE id_a < id_b
               GROUP BY id_a, id_b),
    sp AS (SELECT subj AS s, SUM(w * w)::BIGINT AS paths_self
           FROM wt GROUP BY subj)
    SELECT c.id_a, c.id_b, c.paths_ab,
           ROUND(2.0 * c.paths_ab / (pa.paths_self + pb.paths_self), 6)
             AS pathsim
    FROM crossp c
    JOIN sp pa ON pa.s = c.id_a
    JOIN sp pb ON pb.s = c.id_b
    ORDER BY pathsim DESC, id_a, id_b LIMIT 20
    """,
)
def q202(spark, sf):
    """PathSim metapath similarity (graphalgo.pathsim_pairs) between
    chemicals over the C-D-C metapath, weighted by document
    co-occurrence support — hub-normalized path counting (Sun et al.
    VLDB'11), the entity-similarity surface raw co-occurrence and
    Adamic-Adar both distort. One intermediate-keyed self-join + two
    integer aggregates; top-20 TakeOrdered."""
    from bran_spark.operators.graphalgo import pathsim_pairs

    ent = _fx_entity_incidence(spark, sf)
    chem = ent.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    dis = ent.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    wt = chem.join(dis, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    return pathsim_pairs(wt, "subj", "obj", "w", k=20)


@_q(
    "q203_modularity",
    _FX_PAIRS_SQL
    + """
    , l0 AS (SELECT DISTINCT u, u AS label FROM sym)
    """
    + _lpa_iter_sql(3)
    + """
    , mm AS (SELECT (COUNT(*) / 2)::BIGINT AS m FROM sym),
    ee AS (SELECT lu.label AS lu, lv.label AS lv
           FROM sym s JOIN l3 lu ON lu.u = s.u JOIN l3 lv ON lv.u = s.v),
    pl AS (SELECT lu AS label, COUNT(*)::BIGINT AS deg_sum,
                  (SUM(CASE WHEN lu = lv THEN 1 ELSE 0 END) / 2)::BIGINT
                    AS e_in
           FROM ee GROUP BY lu),
    nn AS (SELECT label, COUNT(*)::BIGINT AS n_nodes FROM l3 GROUP BY label)
    SELECT pl.label, nn.n_nodes, pl.e_in, pl.deg_sum,
           ROUND(pl.e_in::DOUBLE / mm.m
                 - (pl.deg_sum::DOUBLE / (2 * mm.m))
                   * (pl.deg_sum::DOUBLE / (2 * mm.m)), 6) AS q_term
    FROM pl JOIN nn USING (label), mm
    """,
)
def q203(spark, sf):
    """Newman modularity terms (graphalgo.community_quality) of the q64
    LPA partition — the community-quality audit (Σ q_term near 0 means
    the labels are noise). Two label-attach joins over the edge pass,
    exact integer cells, 1-row m broadcast."""
    from bran_spark.operators.graphalgo import (
        community_quality,
        label_propagation,
        symmetric_edges,
    )

    sym = symmetric_edges(_fx_entity_pairs(spark, sf))
    return community_quality(sym, label_propagation(sym, iters=3))


@_q(
    "q204_dedup_savings",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, MIN(lab) AS component FROM r GROUP BY node),
    keep AS (SELECT component, MIN(node) AS keep_id FROM cc
             GROUP BY component),
    drp AS (SELECT cc.node FROM cc JOIN keep ON cc.component = keep.component
            WHERE cc.node != keep.keep_id),
    tok AS (SELECT doc_id, source,
                   len(string_split_regex(trim(lower(text)), ' +'))::BIGINT
                     AS n_tok
            FROM documents),
    tot AS (SELECT source AS grp, COUNT(*)::BIGINT AS n_docs,
                   SUM(n_tok)::BIGINT AS tokens
            FROM tok GROUP BY source),
    kpt AS (SELECT source AS grp, COUNT(*)::BIGINT AS n_kept,
                   SUM(n_tok)::BIGINT AS tokens_kept
            FROM tok WHERE doc_id NOT IN (SELECT node FROM drp)
            GROUP BY source)
    SELECT t.grp, t.n_docs, COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
           t.tokens, COALESCE(k.tokens_kept, 0)::BIGINT AS tokens_kept,
           ROUND(1 - COALESCE(k.tokens_kept, 0) / t.tokens::DOUBLE, 6)
             AS savings_frac
    FROM tot t LEFT JOIN kpt k ON k.grp = t.grp
    """,
)
def q204(spark, sf):
    """Per-source dedup accounting (components.dedup_savings): documents
    and TOKENS each source loses to MinHash-LSH near-dup collapse — the
    report that locates the template-heavy feed. Composes the q29→q50→
    q74 stack (LSH pairs → components → min-id survivors → broadcast
    anti-join) with two dimension-keyed group aggregates."""
    from bran_spark.operators.components import dedup_savings

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=4, bands=4,
                              hash_fn="md5")
    return dedup_savings(docs, pairs, "source")


@_q(
    "q205_incremental_dedup",
    f"""
    WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE_SQL.format(n=4)}))
             AS shingle
           FROM wl),
    banded AS (SELECT doc_id, band, md5(band::VARCHAR || ':' || shingle) AS h
               FROM sh, (SELECT unnest(range(4)) AS band)),
    sig AS (SELECT doc_id, band, MIN(h) AS minhash
            FROM banded GROUP BY doc_id, band),
    sn AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
    so AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
    crossq AS (SELECT DISTINCT sn.doc_id AS new_id, so.doc_id AS dup_of,
                      'existing' AS scope
               FROM sn JOIN so ON sn.band = so.band
                              AND sn.minhash = so.minhash),
    intra AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of,
                     'batch' AS scope
              FROM sn a JOIN sn b ON a.band = b.band
                                 AND a.minhash = b.minhash
                                 AND b.doc_id < a.doc_id)
    SELECT * FROM crossq UNION ALL SELECT * FROM intra
    """,
)
def q205(spark, sf):
    """Incremental dedup (dedup.incremental_dedup_candidates): the odd-id
    half of the corpus arrives as a NEW batch and is LSH-checked against
    the even-id corpus (scope='existing') and against itself
    (scope='batch') — the production shape where only the batch hashes
    per run and the corpus side is the stored signature index."""
    from bran_spark.operators.dedup import incremental_dedup_candidates

    docs = _t(spark, sf, "documents")
    return incremental_dedup_candidates(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        "doc_id", "text", n=4, bands=4, hash_fn="md5",
    )


@_q(
    "q206_kaplan_meier",
    """
    WITH ep AS (SELECT user_id AS uid,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
    hz AS (SELECT MAX(ep) - 86400 AS hz FROM ep),
    users AS (SELECT uid, MIN(ep) AS first_ep, MAX(ep) AS last_ep
              FROM ep GROUP BY uid),
    durs AS (SELECT (last_ep - first_ep) // 3600 AS dur,
                    last_ep <= (SELECT hz FROM hz) AS observed
             FROM users),
    per_t AS (SELECT dur, COUNT(*)::BIGINT AS c_all,
                     SUM(CASE WHEN observed THEN 1 ELSE 0 END)::BIGINT AS d
              FROM durs GROUP BY dur),
    nt AS (SELECT COUNT(*)::BIGINT AS n_tot FROM durs),
    ar AS (SELECT dur, c_all, d,
                  (SELECT n_tot FROM nt)
                  - COALESCE(SUM(c_all) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS n_at_risk
           FROM per_t),
    lt AS (SELECT dur, d, n_at_risk,
                  CASE WHEN n_at_risk > d
                       THEN ln((n_at_risk - d) / n_at_risk::DOUBLE)
                       ELSE 0 END AS ln_term
           FROM ar),
    cm AS (SELECT dur, d, n_at_risk,
                  COALESCE(SUM(ln_term) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cum_prev
           FROM lt)
    SELECT dur AS t_hours, n_at_risk, d AS d_churned,
           ROUND(exp(cum_prev) * (n_at_risk - d) / n_at_risk::DOUBLE, 6)
             AS survival
    FROM cm WHERE d > 0
    """,
)
def q206(spark, sf):
    """Kaplan-Meier survival curve (sessions.kaplan_meier) over per-user
    activity lifetimes with right-censoring at a 24 h horizon — the
    retention estimator a naive lifetime histogram gets wrong. Exact
    integer risk/death cells; the product accumulates as exp(Σ ln) in
    ascending-lifetime window order, so both engines sum identically."""
    from bran_spark.operators.sessions import kaplan_meier

    return kaplan_meier(_t(spark, sf, "events"), censor_window_h=24)


@_q(
    "q207_funnel",
    """
    WITH ev AS (SELECT user_id AS uid, event_type AS et,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
    s1 AS (SELECT uid, MIN(ep) AS entry FROM ev WHERE et = 'signup'
           GROUP BY uid),
    s2 AS (SELECT e.uid, MIN(e.ep) AS entry FROM ev e JOIN s1 ON s1.uid = e.uid
           WHERE e.et = 'view' AND e.ep > s1.entry GROUP BY e.uid),
    s3 AS (SELECT e.uid, MIN(e.ep) AS entry FROM ev e JOIN s2 ON s2.uid = e.uid
           WHERE e.et = 'purchase' AND e.ep > s2.entry GROUP BY e.uid),
    b AS (SELECT (SELECT COUNT(*) FROM s1)::BIGINT AS n_base)
    SELECT 1 AS stage_idx, 'signup' AS stage,
           (SELECT COUNT(*) FROM s1)::BIGINT AS n_users,
           CASE WHEN n_base > 0 THEN
             ROUND((SELECT COUNT(*) FROM s1)::DOUBLE / n_base, 6)
           END AS conversion
    FROM b
    UNION ALL
    SELECT 2, 'view', (SELECT COUNT(*) FROM s2)::BIGINT,
           CASE WHEN n_base > 0 THEN
             ROUND((SELECT COUNT(*) FROM s2)::DOUBLE / n_base, 6) END
    FROM b
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)::BIGINT,
           CASE WHEN n_base > 0 THEN
             ROUND((SELECT COUNT(*) FROM s3)::DOUBLE / n_base, 6) END
    FROM b
    """,
)
def q207(spark, sf):
    """Ordered funnel conversion (sessions.funnel_stages): users who
    signed up, then viewed STRICTLY AFTER their first signup, then
    purchased after that view — first-touch entry per stage, one
    user-keyed min-aggregate and join per stage. The product-analytics
    staple next to q43's sessionization."""
    from bran_spark.operators.sessions import funnel_stages

    return funnel_stages(
        _t(spark, sf, "events"), ["signup", "view", "purchase"]
    )


@_q(
    "q208_link_features",
    _FX_PAIRS_SQL
    + """
    , nz AS (SELECT u AS z, v AS x FROM sym),
    deg AS (SELECT z, COUNT(*) AS deg FROM nz GROUP BY z),
    nzk AS (SELECT nz.z, nz.x, deg FROM nz JOIN deg USING (z)
            WHERE deg <= 50),
    wdg AS (SELECT a.x AS u, b.x AS v, a.deg AS deg
            FROM nzk a JOIN nzk b ON a.z = b.z AND a.x < b.x),
    cand AS (SELECT u, v, COUNT(*)::BIGINT AS common,
                    ROUND(SUM(1.0 / ln(deg)) + 1e-9, 6) AS aa_score,
                    ROUND(SUM(1.0 / deg::DOUBLE) + 1e-9, 6) AS ra_score
             FROM wdg GROUP BY u, v HAVING COUNT(*) >= 2),
    ne AS (SELECT * FROM cand
           WHERE NOT EXISTS (SELECT 1 FROM sym e
                             WHERE e.u = cand.u AND e.v = cand.v))
    SELECT ne.u, ne.v, ne.common,
           ROUND(ne.common / (du.deg + dv.deg - ne.common)::DOUBLE, 6)
             AS jaccard,
           ne.aa_score, ne.ra_score,
           (du.deg * dv.deg)::BIGINT AS pref_att
    FROM ne JOIN deg du ON du.z = ne.u JOIN deg dv ON dv.z = ne.v
    """,
)
def q208(spark, sf):
    """KG-completion feature table (graphalgo.link_prediction_features):
    common neighbors, Jaccard, Adamic-Adar, resource allocation and
    preferential attachment for every 2-hop non-edge — the training
    matrix a link-prediction model consumes (q117 is one column).
    Wedge generation hub-cut at deg ≤ 50; full degrees attached after
    the aggregate."""
    from bran_spark.operators.graphalgo import (
        link_prediction_features,
        symmetric_edges,
    )

    return link_prediction_features(
        symmetric_edges(_fx_entity_pairs(spark, sf)), max_hub_deg=50,
        min_common=2,
    )


@_q(
    "q209_support_precision",
    f"""
    WITH {{pipe}},
    bags AS (SELECT chem_mesh, dis_mesh,
                    COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                    MAX(label)::INT AS bag_label
             FROM labeled GROUP BY chem_mesh, dis_mesh),
    grid AS (SELECT n_docs AS support_ge, COUNT(*)::BIGINT AS c_pairs,
                    SUM(CASE WHEN bag_label = 1 THEN 1 ELSE 0 END)::BIGINT
                      AS c_gold
             FROM bags GROUP BY n_docs),
    tot AS (SELECT SUM(CASE WHEN bag_label = 1 THEN 1 ELSE 0 END)::BIGINT
                     AS total_gold
            FROM bags),
    cum AS (SELECT support_ge,
                   SUM(c_pairs) OVER (ORDER BY support_ge DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS n_pairs,
                   SUM(c_gold) OVER (ORDER BY support_ge DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS n_gold
            FROM grid)
    SELECT support_ge, n_pairs, n_gold,
           ROUND(n_gold::DOUBLE / n_pairs, 6) AS precision,
           CASE WHEN total_gold > 0
                THEN ROUND(n_gold::DOUBLE / total_gold, 6) END AS recall
    FROM cum, tot
    """.replace("{pipe}", _PIPE_CTES),
)
def q209(spark, sf):
    """Support-threshold publication sweep (pairs.support_precision_curve
    over mil_bags): precision/recall of the extracted pairs at every
    co-occurrence support cutoff — the evidence-axis counterpart of
    q24's score sweep, picking where the A5 triple sink publishes. The
    window runs over the bounded support grid."""
    from bran_spark.operators.pairs import mil_bags, support_precision_curve

    return support_precision_curve(mil_bags(_labeled(spark, sf)))


@_q(
    "q210_mutual_nn",
    f"""
    WITH mm AS ({_BAND_MEANS_SQL}),
    keys AS ({_BANDED_KEYS_SQL}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM keys a JOIN keys b
               ON a.band = b.band AND a.key = b.key AND a.vec_id != b.vec_id),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (SELECT id_a, id_b,
                      ROUND(list_dot_product(va.v, vb.v)
                            / (sqrt(list_dot_product(va.v, va.v))
                               * sqrt(list_dot_product(vb.v, vb.v))), 6)
                        AS cos
               FROM cand
               JOIN v va ON va.vec_id = cand.id_a
               JOIN v vb ON vb.vec_id = cand.id_b),
    nn1 AS (SELECT id_a, id_b, cos FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                                           ORDER BY cos DESC, id_b) AS rank
              FROM scored)
            WHERE rank = 1)
    SELECT a.id_a, a.id_b, a.cos
    FROM nn1 a JOIN nn1 b ON b.id_a = a.id_b AND b.id_b = a.id_a
    WHERE a.id_a < a.id_b
    """,
)
def q210(spark, sf):
    """Mutual-nearest-neighbor pairs (similarity.mutual_nearest_neighbors):
    rank-1 in BOTH directions over the banded sign-LSH kNN join — the
    reciprocity filter (MNN / reciprocal-best-hit) that turns a noisy
    kNN into a high-precision match set; hubs satisfy one direction by
    accident, not both. Composes q55's join with one swapped self-join."""
    from bran_spark.operators.similarity import mutual_nearest_neighbors

    return mutual_nearest_neighbors(_t(spark, sf, "embeddings"))


@_q(
    "q211_knn_graph",
    _FX_MENTIONS_SQL
    + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    ca AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Chemical'),
    da AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Disease'),
    wt AS (SELECT ca.mesh_id AS subj, da.mesh_id AS obj,
                  COUNT(*)::BIGINT AS w
           FROM ca JOIN da USING (doc_id) GROUP BY subj, obj),
    sw AS (SELECT subj AS u, obj AS v, w FROM wt
           UNION ALL SELECT obj, subj, w FROM wt),
    kept AS (SELECT u, v, w FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY u
                                            ORDER BY w DESC, v) AS rk
               FROM sw)
             WHERE rk <= 3)
    SELECT k.u, k.v, k.w
    FROM kept k JOIN kept r ON r.u = k.v AND r.v = k.u
    """,
)
def q211(spark, sf):
    """Mutual top-k graph sparsification (graphalgo.topk_neighbor_graph,
    k=3) of the support-weighted entity co-occurrence graph — the
    kNN-graph construction run before LPA/clustering iterates on a
    dense graph: hubs keep their k best but vanish from everyone
    else's lists unless the affinity is reciprocal. Per-node window
    over the aggregated edge list + one equi-self-join."""
    from bran_spark.operators.graphalgo import topk_neighbor_graph

    ent = _fx_entity_incidence(spark, sf)
    chem = ent.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    dis = ent.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    wt = chem.join(dis, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    sw = wt.select(F.col("subj").alias("u"), F.col("obj").alias("v"), "w").unionByName(
        wt.select(F.col("obj").alias("u"), F.col("subj").alias("v"), "w")
    )
    return topk_neighbor_graph(sw, k=3, mutual=True)


@_q(
    "q212_sorted_neighborhood",
    f"""
    WITH names AS (SELECT mesh_id AS id, lower(canonical_name) AS k
                   FROM read_parquet('{_FX01}/mesh_dict.parquet')),
    r AS (SELECT id AS id_a,
                 lead(id, 1) OVER w AS n1,
                 lead(id, 2) OVER w AS n2,
                 lead(id, 3) OVER w AS n3
          FROM names WINDOW w AS (ORDER BY k, id)),
    ex AS (SELECT id_a, unnest([n1, n2, n3]) AS id_b,
                  unnest([1, 2, 3]) AS dist
           FROM r)
    SELECT id_a, id_b, dist FROM ex WHERE id_b IS NOT NULL
    """,
)
def q212(spark, sf):
    """Sorted-neighborhood ER blocking (linking.sorted_neighborhood_pairs,
    w=3) over the entity dictionary's canonical names — the guaranteed-
    budget candidate generator (w·n pairs) next to q149's token
    blocking; pure lead() window arithmetic, no join. At corpus scale
    the sort range-partitions by key prefix with window-overlapped
    boundaries."""
    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.linking import sorted_neighborhood_pairs

    s = _fixture_sf_for(sf)
    ensure(s)
    names = spark.read.parquet(f"{fixture_dir(s)}/mesh_dict.parquet")
    return sorted_neighborhood_pairs(
        names, "mesh_id", "canonical_name", window=3
    )


def _boruvka_round_sql(i: int) -> str:
    """One unrolled Borůvka round over the MAXIMUM-weight objective:
    cross-component edges → per-component best pick (w DESC, edge-key
    ties) → accumulate forest → relabel via a recursive-CTE components
    pass. MATERIALIZED everywhere a CTE is referenced more than once
    (the planner otherwise inlines 3^rounds scans)."""
    return f"""
    , x{i} AS MATERIALIZED (
        SELECT e.u, e.v, e.w, la.lab AS lu, lb.lab AS lv
        FROM se e JOIN l{i - 1} la ON la.node = e.u
                  JOIN l{i - 1} lb ON lb.node = e.v
        WHERE la.lab <> lb.lab),
    cd{i} AS (SELECT lu AS comp, u, v, w FROM x{i}
              UNION ALL SELECT lv, u, v, w FROM x{i}),
    pk{i} AS (SELECT u, v, w FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
                          ORDER BY w DESC, u, v) AS rk FROM cd{i})
              WHERE rk = 1),
    ch{i} AS MATERIALIZED (SELECT DISTINCT u, v, w FROM
             (SELECT u, v, w FROM ch{i - 1}
              UNION ALL SELECT u, v, w FROM pk{i})),
    cs{i} AS MATERIALIZED (SELECT u AS a, v AS b FROM ch{i}
              UNION ALL SELECT v, u FROM ch{i}),
    rr{i}(node, lab) AS (SELECT a, a FROM cs{i}
              UNION SELECT e2.b, rr{i}.lab
                    FROM rr{i} JOIN cs{i} e2 ON e2.a = rr{i}.node),
    cc{i} AS MATERIALIZED (SELECT node, MIN(lab) AS lab FROM rr{i}
                           GROUP BY node),
    l{i} AS MATERIALIZED (SELECT n.node, COALESCE(c.lab, n.node) AS lab
            FROM nodes n LEFT JOIN cc{i} c ON c.node = n.node)"""


@_q(
    "q213_boruvka_msf",
    _FX_MENTIONS_SQL.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    ca AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Chemical'),
    da AS (SELECT doc_id, mesh_id FROM ent WHERE type = 'Disease'),
    wt AS (SELECT ca.mesh_id AS subj, da.mesh_id AS obj,
                  COUNT(*)::BIGINT AS w
           FROM ca JOIN da USING (doc_id) GROUP BY subj, obj),
    sw AS (SELECT subj AS u, obj AS v, w FROM wt
           UNION ALL SELECT obj, subj, w FROM wt),
    kept AS (SELECT u, v, w FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY u
                                            ORDER BY w DESC, v) AS rk
               FROM sw)
             WHERE rk <= 3),
    se AS MATERIALIZED (SELECT k.u, k.v, k.w FROM kept k
                        JOIN kept r ON r.u = k.v AND r.v = k.u
                        WHERE k.u < k.v),
    nodes AS MATERIALIZED (SELECT u AS node FROM se
                           UNION SELECT v FROM se),
    ch0 AS (SELECT u, v, w FROM se WHERE FALSE),
    l0 AS (SELECT node, node AS lab FROM nodes)
    """
    + "".join(_boruvka_round_sql(i) for i in range(1, 9))
    + """
    SELECT u, v, w FROM ch8
    """,
)
def q213(spark, sf):
    """Borůvka MAXIMUM spanning forest (graphalgo.boruvka_spanning_forest)
    over the mutual top-3 co-occurrence graph (q211's sparsifier) — the
    single-linkage similarity backbone taxonomy induction cuts; each
    round every component grabs its strongest incident edge (edge-key
    ties — a consistent total order, so the forest is unique and
    engine-reproducible), components at least halve per round. The
    oracle unrolls 8 rounds, each with a recursive-CTE relabel."""
    from bran_spark.operators.graphalgo import (
        boruvka_spanning_forest,
        topk_neighbor_graph,
    )

    ent = _fx_entity_incidence(spark, sf)
    chem = ent.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("subj")
    )
    dis = ent.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("obj")
    )
    wt = chem.join(dis, "doc_id").groupBy("subj", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    sw = wt.select(
        F.col("subj").alias("u"), F.col("obj").alias("v"), "w"
    ).unionByName(
        wt.select(F.col("obj").alias("u"), F.col("subj").alias("v"), "w")
    )
    knn = topk_neighbor_graph(sw, k=3, mutual=True)
    und = knn.where(F.col("u") < F.col("v"))
    return boruvka_spanning_forest(und, minimum=False, max_rounds=8)


_HEX8_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


@_q(
    "q214_ab_srm",
    f"""
    WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
    k AS (SELECT uid, md5(uid::VARCHAR) AS h FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm FROM k),
    c AS (SELECT g.arm, COALESCE(n.n_units, 0)::BIGINT AS n_units
          FROM (SELECT CAST(unnest(range(2)) AS INT) AS arm) g
          LEFT JOIN (SELECT arm, COUNT(*)::BIGINT AS n_units
                     FROM a GROUP BY arm) n USING (arm)),
    t AS (SELECT COUNT(*)::DOUBLE AS n_tot FROM a)
    SELECT arm, n_units,
           ROUND(n_units / n_tot, 6) AS share,
           ROUND(n_tot / 2, 6) AS expected,
           ROUND((n_units - n_tot / 2) * (n_units - n_tot / 2)
                 / (n_tot / 2), 6) AS chi2_term
    FROM c, t
    """,
)
def q214(spark, sf):
    """Deterministic A/B assignment + sample-ratio-mismatch audit
    (sampling.ab_assignment_srm): md5-coin arm bucketing (sticky, no
    assignment table) and the chi-square cells against the designed
    equal split — SRM means the experiment is void regardless of its
    p-value. One distinct + one 2-key aggregate."""
    from bran_spark.operators.sampling import ab_assignment_srm

    return ab_assignment_srm(_t(spark, sf, "events"), "user_id", n_arms=2)


@_q(
    "q215_neyman_allocation",
    """
    WITH g AS (SELECT event_type AS stratum, COUNT(*)::DOUBLE AS n,
                      SUM(value)::DOUBLE AS s1,
                      SUM(value * value)::DOUBLE AS s2
               FROM events GROUP BY event_type),
    w AS (SELECT stratum, n,
                 sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd,
                 n * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0))
                   AS weight
          FROM g),
    t AS (SELECT SUM(weight) AS w_tot FROM w)
    SELECT stratum, CAST(n AS BIGINT) AS n, ROUND(sd, 6) AS sd,
           ROUND(weight, 6) AS weight,
           ROUND(weight / w_tot, 6) AS alloc_frac,
           CAST(floor(1000.0 * ROUND(weight / w_tot, 6)) AS BIGINT) AS alloc
    FROM w, t
    """,
)
def q215(spark, sf):
    """Neyman optimal allocation (sampling.neyman_allocation, budget
    1000) of a sample budget across event-type strata ∝ n_h·σ_h — the
    stratified-sampling DESIGN step in front of q61's draw. Exact
    two-moment sd; the allocation floors over the ROUNDED fraction so
    summation-order ULP noise can't flip the integer."""
    from bran_spark.operators.sampling import neyman_allocation

    return neyman_allocation(
        _t(spark, sf, "events"), "event_type", "value", budget=1000
    )


@_q(
    "q216_ab_effect",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END)::BIGINT AS q0,
                 SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END)::BIGINT AS q1
          FROM a)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(s0 / (n0::DOUBLE * 100.0), 6) AS mean_ctl,
           ROUND(s1 / (n1::DOUBLE * 100.0), 6) AS mean_trt,
           ROUND(s1 / (n1::DOUBLE * 100.0) - s0 / (n0::DOUBLE * 100.0), 6)
             AS diff,
           ROUND(sqrt(((q0 / 10000.0 - n0::DOUBLE * (s0 / (n0::DOUBLE * 100.0))
                          * (s0 / (n0::DOUBLE * 100.0))) / (n0::DOUBLE - 1))
                        / n0::DOUBLE
                      + ((q1 / 10000.0 - n1::DOUBLE
                            * (s1 / (n1::DOUBLE * 100.0))
                            * (s1 / (n1::DOUBLE * 100.0))) / (n1::DOUBLE - 1))
                        / n1::DOUBLE), 6) AS se,
           ROUND((s1 / (n1::DOUBLE * 100.0) - s0 / (n0::DOUBLE * 100.0))
                 / sqrt(((q0 / 10000.0 - n0::DOUBLE
                            * (s0 / (n0::DOUBLE * 100.0))
                            * (s0 / (n0::DOUBLE * 100.0))) / (n0::DOUBLE - 1))
                          / n0::DOUBLE
                        + ((q1 / 10000.0 - n1::DOUBLE
                              * (s1 / (n1::DOUBLE * 100.0))
                              * (s1 / (n1::DOUBLE * 100.0)))
                           / (n1::DOUBLE - 1))
                          / n1::DOUBLE), 6) AS t_stat
    FROM g
    """,
)
def q216(spark, sf):
    """A/B effect readout (sampling.ab_effect) on q214's md5-coin arms:
    per-user value mass in exact integer cents, then diff-in-means with
    Welch SE/t as ONE fixed scalar tree over associative integer sums —
    the statistic printed next to the SRM validity audit. Null data →
    t ≈ 0; the twin replays the identical expression tree."""
    from bran_spark.operators.sampling import ab_effect

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            .cast("int")
            .alias("arm"),
            "y",
        )
    )
    return ab_effect(units, scale=100)


@_q(
    "q217_cuped",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CASE WHEN ts < TIMESTAMP '2024-01-14'
                               THEN CAST(round(value * 100, 0) AS BIGINT)
                               ELSE 0 END) AS x,
                      SUM(CASE WHEN ts >= TIMESTAMP '2024-01-14'
                               THEN CAST(round(value * 100, 0) AS BIGINT)
                               ELSE 0 END) AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, x, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, x, y FROM k),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sy0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS sy1,
                 SUM(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sx0,
                 SUM(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sx1,
                 SUM(y)::BIGINT AS sy, SUM(x)::BIGINT AS sx,
                 SUM(y * y)::BIGINT AS syy, SUM(x * x)::BIGINT AS sxx,
                 SUM(x * y)::BIGINT AS sxy,
                 COUNT(*)::BIGINT AS n
          FROM a),
    d AS (SELECT n0, n1,
                 sxy / 10000.0 - (sx / 100.0) * (sy / 100.0) / n::DOUBLE
                   AS cov_xy,
                 sxx / 10000.0 - (sx / 100.0) * (sx / 100.0) / n::DOUBLE
                   AS var_x,
                 syy / 10000.0 - (sy / 100.0) * (sy / 100.0) / n::DOUBLE
                   AS var_y,
                 sy1 / (n1::DOUBLE * 100.0) - sy0 / (n0::DOUBLE * 100.0)
                   AS diff_raw,
                 sx1 / (n1::DOUBLE * 100.0) - sx0 / (n0::DOUBLE * 100.0)
                   AS diff_x
          FROM g)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(cov_xy / var_x, 6) AS theta,
           ROUND(diff_raw, 6) AS diff_raw,
           ROUND(diff_raw - cov_xy / var_x * diff_x, 6) AS diff_adj,
           ROUND(cov_xy * cov_xy / (var_x * var_y), 6) AS var_reduction
    FROM d
    """,
)
def q217(spark, sf):
    """CUPED variance reduction (sampling.cuped_effect): pre-period
    value mass (before 2024-01-14) is the covariate for the post-period
    metric on q214's arms — θ, the adjusted diff, and ρ² variance
    reduction, all linear in ONE conditional integer aggregate (no
    second pass for per-arm adjusted means)."""
    from bran_spark.operators.sampling import cuped_effect

    ev = _t(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cut = F.col("ts") < F.lit("2024-01-14").cast("timestamp")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(cut, cents).otherwise(F.lit(0)))
            .cast("long")
            .alias("x"),
            F.sum(F.when(~cut, cents).otherwise(F.lit(0)))
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            .cast("int")
            .alias("arm"),
            "x",
            "y",
        )
    )
    return cuped_effect(units, scale=100)


@_q(
    "q218_transition_matrix",
    """
    WITH s AS (SELECT event_type AS to_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                        AS from_type
               FROM events),
    p AS (SELECT from_type, to_type, COUNT(*)::BIGINT AS n
          FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_type, SUM(n)::BIGINT AS n_from FROM p GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n,
           ROUND(p.n / t.n_from, 6) AS prob
    FROM p JOIN t USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def q218(spark, sf):
    """First-order Markov transition matrix over per-user event
    sequences (sessions.transition_matrix): lag window ordered by
    (ts, event_id) — the unique id breaks timestamp ties — then a
    type-pair count with the per-source totals broadcast back."""
    from bran_spark.operators.sessions import transition_matrix

    return transition_matrix(_t(spark, sf, "events"))


def _stationary_rounds_sql(iters: int) -> "tuple[str, str]":
    """Unrolled integer power iteration for q219's DuckDB twin: each
    round re-derives the full state vector (densified against the state
    dimension so a momentarily-empty state keeps a 0 row), and every
    round is AS MATERIALIZED — referenced twice (join + densify), the
    planner would otherwise inline 2^iters scans."""
    rounds = []
    prev = "p0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
        SELECT e.to_type AS event_type,
               SUM((q.p * e.n) // e.n_from)::BIGINT AS p
        FROM e JOIN {prev} q ON q.event_type = e.from_type
        GROUP BY 1),
    p{i} AS MATERIALIZED (
        SELECT s.event_type, COALESCE(r.p, 0)::BIGINT AS p
        FROM states s LEFT JOIN r{i} r USING (event_type))"""
        )
        prev = f"p{i}"
    return ",\n    ".join(rounds), prev


_ST_ROUNDS, _ST_LAST = _stationary_rounds_sql(8)


@_q(
    "q219_stationary_mix",
    f"""
    WITH sq AS (SELECT event_type AS to_type,
                       LAG(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                         AS from_type
                FROM events),
    pc AS (SELECT from_type, to_type, COUNT(*)::BIGINT AS n
           FROM sq WHERE from_type IS NOT NULL GROUP BY 1, 2),
    tt AS (SELECT from_type, SUM(n)::BIGINT AS n_from FROM pc GROUP BY 1),
    e AS MATERIALIZED (SELECT pc.from_type, pc.to_type, pc.n, tt.n_from
                       FROM pc JOIN tt USING (from_type)),
    states AS MATERIALIZED (
        SELECT DISTINCT event_type FROM (
            SELECT from_type AS event_type FROM e
            UNION ALL SELECT to_type FROM e)),
    p0 AS (SELECT event_type, 1000000::BIGINT AS p FROM states),
    {_ST_ROUNDS},
    z AS (SELECT SUM(p)::DOUBLE AS ptot FROM {_ST_LAST})
    SELECT q.event_type, q.p AS p_fp, ROUND(q.p / z.ptot, 6) AS share
    FROM {_ST_LAST} q, z
    ORDER BY event_type
    """,
)
def q219(spark, sf):
    """Long-run state mix of the event-type Markov chain
    (sessions.stationary_distribution, 8 rounds): synchronous power
    iteration in exact integer arithmetic — (p·n) DIV n_from per round,
    bit-equal across engines — normalized to shares at the end. The
    state space is the tiny type dimension, so iteration cost is
    dimension-sized after the one corpus pass."""
    from bran_spark.operators.sessions import (
        stationary_distribution,
        transition_matrix,
    )

    return stationary_distribution(
        transition_matrix(_t(spark, sf, "events")), iters=8
    )


@_q(
    "q220_fleiss_kappa",
    _LF_VOTES_SQL
    + """
    , melt AS (SELECT doc_id AS item, lf_len AS cat FROM v
               UNION ALL SELECT doc_id, lf_dup FROM v
               UNION ALL SELECT doc_id, lf_digit FROM v),
    nij AS (SELECT item, cat, COUNT(*)::BIGINT AS c
            FROM melt GROUP BY item, cat),
    s2 AS (SELECT SUM(c * c)::BIGINT AS s2,
                  COUNT(DISTINCT item)::BIGINT AS n_items FROM nij),
    ct AS (SELECT cat, SUM(c)::BIGINT AS t FROM nij GROUP BY cat),
    st2 AS (SELECT SUM(t * t)::BIGINT AS st2,
                   COUNT(*)::BIGINT AS n_categories FROM ct),
    g AS (SELECT s2.s2, s2.n_items, st2.st2, st2.n_categories,
                 (s2.n_items::DOUBLE * 3) AS nn
          FROM s2, st2)
    SELECT n_items, 3::BIGINT AS n_raters, n_categories,
           ROUND((s2 - n_items * 3) / (nn * 2), 6) AS p_bar,
           ROUND(st2 / (nn * nn), 6) AS p_e,
           ROUND(CASE WHEN st2 / (nn * nn) != 1.0
                      THEN ((s2 - n_items * 3) / (nn * 2)
                            - st2 / (nn * nn))
                           / (1.0 - st2 / (nn * nn)) END, 6) AS kappa
    FROM g
    """,
)
def q220(spark, sf):
    """Fleiss' κ multi-rater agreement (weaksup.fleiss_kappa) over the
    three quality-LF votes: chance-corrected agreement from THREE exact
    integers (Σn_ij², per-category Σt², N) — the one-number companion
    to q184's pairwise overlap/conflict table."""
    from bran_spark.operators.weaksup import fleiss_kappa, quality_lf_votes

    votes = quality_lf_votes(_t(spark, sf, "documents"), "doc_id", "text")
    return fleiss_kappa(votes, "doc_id", ["lf_len", "lf_dup", "lf_digit"])


def _cov_twin_sql(dims: "tuple[int, ...]") -> str:
    """Single-pass DuckDB twin for q221: one aggregate row with the same
    count / per-dim sum / upper-triangle product-sum cells as the engine,
    exploded into (i, j, cov) rows via UNION ALL over the 1-row CTE."""
    sums = [f"SUM(embedding[{i + 1}]::DOUBLE) AS s{i}" for i in dims]
    pairs = [(i, j) for a, i in enumerate(dims) for j in dims[a:]]
    prods = [
        f"SUM(embedding[{i + 1}]::DOUBLE * embedding[{j + 1}]::DOUBLE)"
        f" AS p{i}_{j}"
        for i, j in pairs
    ]
    cells = [
        f"SELECT {i}::INT AS i, {j}::INT AS j,"
        f" ROUND(p{i}_{j} / n - (s{i} / n) * (s{j} / n), 6) AS cov FROM g"
        for i, j in pairs
    ]
    return (
        "WITH g AS (SELECT COUNT(*)::DOUBLE AS n, "
        + ", ".join(sums + prods)
        + " FROM embeddings)\n    SELECT * FROM ("
        + "\n    UNION ALL ".join(cells)
        + ") ORDER BY i, j"
    )


@_q("q221_embedding_covariance", _cov_twin_sql(tuple(range(8))))
def q221(spark, sf):
    """Exact population covariance of embedding coordinates 0-7
    (similarity.embedding_covariance): one aggregate pass with
    d + d(d+1)/2 JVM sum expressions, 1-row reduce, no Python — the
    embedding-store health audit (dead dims, redundant dims) and the
    small-d PCA input. Full-d scale path: gram_covariance (equivalence-
    tested; its per-partition numpy Gram shuffles partials only)."""
    from bran_spark.operators.similarity import embedding_covariance

    return embedding_covariance(
        _t(spark, sf, "embeddings"), "embedding", tuple(range(8))
    )


@_q("q222_pca_projection")
def q222(spark, sf):
    """Top-4 PCA projection of the 64-d embedding store
    (similarity.pca_project): covariance via per-partition Gram
    matrices, d×d eigh driver-side (dimension-table legality),
    sign-fixed loadings inlined as literals so the corpus-scale
    projection pass is pure JVM column math.

    IMPOSSIBILITY NOTE (r4, permanent holdout): a symmetric eigensolve has
    no closed relational form — DuckDB has no eigh and an unrolled Jacobi/
    QR iteration in SQL would pin an iteration count and float-op order
    that LAPACK does not promise, so any twin would be asserting
    implementation accidents, not the contract. Rows-only by design;
    correctness carried by orthonormality / explained-variance /
    reconstruction property tests in tests/test_dedup_similarity.py."""
    from bran_spark.operators.similarity import pca_project

    return pca_project(_t(spark, sf, "embeddings"), k=4)


_SH_PAT = r"((?:[A-Za-z][A-Za-z-]* ){2,8})\(([A-Z]{2,5})\)"


@_q(
    "q223_acronym_pairs",
    f"""
    WITH pos AS (
        SELECT p_partkey AS doc_id,
               'order of ' || p_name || ' (' ||
               upper(array_to_string(list_transform(
                   string_split(p_name, ' '), w -> substr(w, 1, 1)), ''))
               || ') confirmed' AS text
        FROM part WHERE p_partkey <= 300),
    neg AS (
        SELECT (10000 + n_nationkey)::BIGINT AS doc_id,
               'office of ' || lower(n_name) || ' (XQZ) memo' AS text
        FROM nation),
    corpus AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
    m AS (SELECT doc_id,
                 unnest(regexp_extract_all(text, '{_SH_PAT}')) AS mt
          FROM corpus),
    c AS (SELECT doc_id,
                 trim(regexp_extract(mt, '{_SH_PAT}', 1)) AS win,
                 regexp_extract(mt, '{_SH_PAT}', 2) AS short_form
          FROM m),
    c2 AS (SELECT doc_id, win, short_form,
                  string_split(lower(win), '') AS arr,
                  string_split(lower(short_form), '') AS sfa,
                  length(win)::INT AS wm,
                  length(short_form)::INT AS n
           FROM c),
    -- DuckDB 1.0 list_reduce mishandles CASE over STRUCT-accumulator
    -- fields, so state and elements are BIGINT-encoded instead:
    --   element = pos*64 + ws*32 + match_mask   (mask bit k set iff the
    --             char equals sfa[k+1]; |SF| <= 5 so mask < 32)
    --   state   = j*1000000 + start
    f AS (SELECT doc_id, win, short_form, n,
                 list_reduce(
                   list_prepend(
                     0::BIGINT,
                     list_transform(range(wm), i ->
                       ((wm - i)::BIGINT * 64
                        + CASE WHEN wm - i = 1
                                    OR arr[wm - i - 1] = ' '
                               THEN 32 ELSE 0 END
                        + list_sum(list_transform(range(n), k ->
                            CASE WHEN arr[wm - i] = sfa[k + 1]
                                 THEN (1 << k) ELSE 0 END))::BIGINT
                       )::BIGINT)),
                   (acc, e) ->
                     CASE WHEN (acc // 1000000) < n
                               AND ((e % 32)
                                    // (1 << (n - 1 - (acc // 1000000))::INT)
                                   ) % 2 = 1
                               AND (NOT (acc // 1000000) = n - 1
                                    OR (e // 32) % 2 = 1)
                          THEN CASE WHEN (acc // 1000000) = n - 1
                                    THEN (acc // 1000000 + 1) * 1000000
                                         + (e // 64)
                                    ELSE (acc // 1000000 + 1) * 1000000
                                         + (acc % 1000000) END
                          ELSE acc END) AS res
           FROM c2),
    v AS (SELECT DISTINCT doc_id, short_form,
                 trim(substr(win, (res % 1000000)::INT, length(win)))
                   AS long_form
          FROM f
          WHERE res // 1000000 = n AND res % 1000000 >= 1
            AND len(string_split_regex(
                  trim(substr(win, (res % 1000000)::INT, length(win))),
                  ' +'))
                <= least(n + 5, 2 * n))
    SELECT short_form, long_form, COUNT(*)::BIGINT AS n_docs
    FROM v GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q223(spark, sf):
    """Schwartz-Hearst abbreviation mining (linking.acronym_pairs) over
    a deterministically constructed corpus: part names carrying their
    true initialisms (positives) and nation offices carrying a bogus
    (XQZ) tag (negatives, no x anywhere in a nation name). The twin
    replays the SAME right-to-left greedy fold via DuckDB list_reduce —
    anchor rule, length gate and all — so the hash checks the
    algorithm, not just the demo construction."""
    from bran_spark.operators.linking import acronym_pairs

    part = _t(spark, sf, "part")
    initials = F.upper(
        F.concat_ws(
            "",
            F.transform(
                F.split(F.col("p_name"), " "),
                lambda w: F.substring(w, 1, 1),
            ),
        )
    )
    pos = part.where(F.col("p_partkey") <= 300).select(
        F.col("p_partkey").alias("doc_id"),
        F.concat(
            F.lit("order of "),
            F.col("p_name"),
            F.lit(" ("),
            initials,
            F.lit(") confirmed"),
        ).alias("text"),
    )
    neg = _t(spark, sf, "nation").select(
        (F.col("n_nationkey") + 10000).cast("long").alias("doc_id"),
        F.concat(
            F.lit("office of "),
            F.lower(F.col("n_name")),
            F.lit(" (XQZ) memo"),
        ).alias("text"),
    )
    return acronym_pairs(pos.unionByName(neg))


@_q(
    "q224_decayed_support",
    """
    WITH w AS (SELECT l_suppkey AS subj, l_partkey AS obj,
                      l_shipdate AS ts,
                      CAST(round(pow(2.0,
                             -greatest(datediff('day', l_shipdate,
                                        TIMESTAMP '2002-01-01'), 0)::DOUBLE
                             / 365.0) * 1000000, 0) AS BIGINT) AS w
               FROM lineitem)
    SELECT subj, obj, COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(w) / 1000000.0, 6) AS support,
           MAX(ts) AS last_seen
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q224(spark, sf):
    """Recency-weighted edge support (kgquality.decayed_support) over
    supplier→part evidence with a 1-year half-life at a PINNED
    reference time: per-row 2^(−Δ/hl) micro-weights rounded to exact
    BIGINTs (FS_SCALE idiom) so the per-edge total is an associative
    integer sum — the freshness prior claim fusion consumes."""
    from bran_spark.operators.kgquality import decayed_support

    return decayed_support(
        _t(spark, sf, "lineitem"),
        subj_col="l_suppkey",
        obj_col="l_partkey",
        ts_col="l_shipdate",
        ref_time="2002-01-01",
        half_life_days=365,
    )


@_q(
    "q225_mention_ambiguity",
    _FX_MENTIONS_SQL
    + """
    , pc AS (SELECT text AS surface, mesh_id, COUNT(*)::BIGINT AS c
             FROM m GROUP BY 1, 2),
    g AS (SELECT surface, SUM(c)::BIGINT AS n_mentions,
                 COUNT(*)::BIGINT AS n_entities,
                 MAX(c)::BIGINT AS maxc,
                 SUM(c::DOUBLE * ln(c::DOUBLE)) AS clnc
          FROM pc GROUP BY surface)
    SELECT surface, n_mentions, n_entities,
           ROUND(maxc / n_mentions::DOUBLE, 6) AS majority_share,
           ROUND(greatest(ln(n_mentions::DOUBLE)
                          - clnc / n_mentions::DOUBLE, 0.0), 6) AS entropy
    FROM g ORDER BY surface
    """,
)
def q225(spark, sf):
    """Surface-form ambiguity audit (mentions.ambiguity_profile) over
    the fixture mention table: per surface, distinct linkable entities,
    majority-sense share and link entropy — the precision ceiling of
    dictionary linking and the map of where a disambiguator is needed."""
    from bran_spark.operators.mentions import ambiguity_profile

    return ambiguity_profile(_fx_mentions(spark, sf))


@_q(
    "q226_confident_joint",
    f"""
    WITH {_PIPE_CTES},
    pr AS (SELECT label, (s + 10.0) / 20.0 AS p FROM scored),
    t AS (SELECT ROUND(AVG(CASE WHEN label = 1 THEN p END), 6) AS t1,
                 ROUND(AVG(CASE WHEN label = 0 THEN 1.0 - p END), 6) AS t0
          FROM pr),
    mk AS (SELECT label AS noisy_label,
                  CASE WHEN p >= t1 AND (1.0 - p) >= t0
                       THEN (CASE WHEN p >= 1.0 - p THEN 1 ELSE 0 END)
                       WHEN p >= t1 THEN 1
                       WHEN (1.0 - p) >= t0 THEN 0 END AS est_true
           FROM pr, t),
    c AS (SELECT noisy_label, est_true, COUNT(*)::BIGINT AS n
          FROM mk WHERE est_true IS NOT NULL GROUP BY 1, 2),
    z AS (SELECT SUM(n)::DOUBLE AS n_tot FROM c)
    SELECT noisy_label, est_true::INT AS est_true, n,
           ROUND(n / z.n_tot, 6) AS frac
    FROM c, z ORDER BY noisy_label, est_true
    """,
)
def q226(spark, sf):
    """Confident-learning joint (evaluate.confident_joint) on the
    synthetic scored pipeline, probabilities rescaled from the exact
    rational scores: per-class confidence thresholds from a 1-row
    broadcast aggregate, then one (noisy, estimated-true) count — the
    off-diagonal mass is the label-error budget cleanlab-style pruning
    would drop."""
    from bran_spark.operators.evaluate import confident_joint

    pr = _scored(spark, sf).select(
        "label", ((F.col("s") + 10.0) / 20.0).alias("p")
    )
    return confident_joint(pr, "label", "p")


@_q(
    "q227_key_skew_profile",
    """
    WITH c AS (SELECT user_id AS k, COUNT(*)::BIGINT AS n
               FROM events GROUP BY 1),
    t AS (SELECT SUM(n)::DOUBLE AS n_rows, COUNT(*)::BIGINT AS n_keys
          FROM c),
    top AS (SELECT k, n FROM c ORDER BY n DESC, k LIMIT 20),
    r AS (SELECT k::VARCHAR AS key, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, k) AS rank,
                 SUM(n) OVER (ORDER BY n DESC, k
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM top)
    SELECT key, n, t.n_keys, ROUND(n / t.n_rows, 6) AS share,
           ROUND(cum / t.n_rows, 6) AS cum_share, rank::INT AS rank
    FROM r, t ORDER BY rank
    """,
)
def q227(spark, sf):
    """Join-key skew audit (contracts.key_skew_profile) on the events
    user key: hottest-20 values with share and cumulative share — the
    measurement behind every salting/broadcast decision (P3, salted
    dedup, ngram-jaccard's df-cut). One key-count aggregate + 1-row
    total broadcast + TakeOrdered."""
    from bran_spark.operators.contracts import key_skew_profile

    return key_skew_profile(_t(spark, sf, "events"), ["user_id"], top_k=20)


@_q(
    "q228_isotonic_calibration",
    f"""
    WITH {_PIPE_CTES},
    pr AS (SELECT label, (s + 10.0) / 20.0 AS p FROM scored),
    b AS (SELECT least(19, CAST(floor(p * 20) AS INT)) AS bin,
                 label::BIGINT AS y FROM pr),
    bins AS (SELECT bin, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS n_pos
             FROM b GROUP BY bin),
    pref AS (SELECT bin, n, n_pos,
               SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - n
                 AS cn0,
               SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn1,
               SUM(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                 - n_pos AS cp0,
               SUM(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                 AS cp1
             FROM bins),
    trip AS (SELECT j.bin AS jb, i.bin AS ib,
                    (k.cp1 - j.cp0)::DOUBLE / (k.cn1 - j.cn0) AS avg
             FROM pref j JOIN pref k ON j.bin <= k.bin
                  JOIN pref i ON j.bin <= i.bin AND i.bin <= k.bin),
    mm AS (SELECT jb, ib, MIN(avg) AS m FROM trip GROUP BY 1, 2),
    iso AS (SELECT ib, MAX(m) AS rate_iso FROM mm GROUP BY ib)
    SELECT bins.bin, bins.n, bins.n_pos,
           ROUND(bins.n_pos / bins.n::DOUBLE, 6) AS rate_raw,
           ROUND(iso.rate_iso, 6) AS rate_iso
    FROM bins JOIN iso ON bins.bin = iso.ib ORDER BY bin
    """,
)
def q228(spark, sf):
    """Isotonic score calibration (evaluate.isotonic_calibration, 20
    bins) on the synthetic scored pipeline via PAVA's MINIMAX identity
    — iso(i) = max_{j≤i} min_{k≥i} pooledRate(j..k) — so the monotone
    fit is pure relational algebra over exact integer prefix sums and
    both engines hash identically (no sequential sweep, no float
    accumulation)."""
    from bran_spark.operators.evaluate import isotonic_calibration

    pr = _scored(spark, sf).select(
        "label", ((F.col("s") + 10.0) / 20.0).alias("p")
    )
    return isotonic_calibration(pr, "p", "label", n_bins=20)


@_q(
    "q229_k_anonymity",
    """
    WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n
               FROM customer GROUP BY 1, 2),
    a AS (SELECT SUM(n)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_groups,
                 MIN(n)::BIGINT AS min_group_size,
                 SUM(CASE WHEN n < 15 THEN n ELSE 0 END)::BIGINT
                   AS n_violating_rows
          FROM g)
    SELECT n_rows, n_groups, min_group_size, n_violating_rows,
           ROUND(n_violating_rows / n_rows::DOUBLE, 6) AS violating_share,
           n_violating_rows = 0 AS k_satisfied
    FROM a
    """,
)
def q229(spark, sf):
    """k-anonymity audit (contracts.k_anonymity_audit, k=15) over the
    (nation, market-segment) quasi-identifier: rows in groups smaller
    than k are re-identifiable by an external join — the governance
    gate before any row-level data release. One QI-keyed count + 1-row
    rollup."""
    from bran_spark.operators.contracts import k_anonymity_audit

    return k_anonymity_audit(
        _t(spark, sf, "customer"), ["c_nationkey", "c_mktsegment"], k=15
    )


@_q(
    "q230_pii_scan",
    r"""
    WITH corpus AS (
        SELECT c_mktsegment AS source,
               'contact ' || lower(c_name)
               || CASE WHEN c_custkey % 10 = 0
                       THEN ' at ' || replace(lower(c_name), '#', '.')
                            || '@example.com'
                       ELSE '' END
               || CASE WHEN c_custkey % 7 = 0
                       THEN ' call 555-867-5309' ELSE '' END AS text
        FROM customer),
    cnt AS (SELECT source,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS c_email,
                   len(regexp_extract_all(text,
                     '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS c_phone,
                   len(regexp_extract_all(text,
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                     AS c_ipv4,
                   len(regexp_extract_all(text,
                     '\b[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}\b'))
                     AS c_card16
            FROM corpus),
    per AS (SELECT source AS grp, COUNT(*)::BIGINT AS n_docs,
                   SUM((c_email > 0)::INT)::BIGINT AS h_email,
                   SUM(c_email)::BIGINT AS m_email,
                   SUM((c_phone > 0)::INT)::BIGINT AS h_phone,
                   SUM(c_phone)::BIGINT AS m_phone,
                   SUM((c_ipv4 > 0)::INT)::BIGINT AS h_ipv4,
                   SUM(c_ipv4)::BIGINT AS m_ipv4,
                   SUM((c_card16 > 0)::INT)::BIGINT AS h_card16,
                   SUM(c_card16)::BIGINT AS m_card16
            FROM cnt GROUP BY source)
    SELECT grp, pattern, n_docs_hit, n_matches,
           ROUND(n_docs_hit / n_docs::DOUBLE, 6) AS doc_rate
    FROM (
      SELECT grp, n_docs, 'email' AS pattern,
             h_email AS n_docs_hit, m_email AS n_matches FROM per
      UNION ALL SELECT grp, n_docs, 'phone', h_phone, m_phone FROM per
      UNION ALL SELECT grp, n_docs, 'ipv4', h_ipv4, m_ipv4 FROM per
      UNION ALL SELECT grp, n_docs, 'card16', h_card16, m_card16 FROM per)
    ORDER BY grp, pattern
    """,
)
def q230(spark, sf):
    """PII-pattern census (contracts.pii_scan) over a deterministically
    planted corpus (every 10th customer gets an email, every 7th a
    phone number): per market segment × pattern, documents hit and
    total matches — the redaction-planning estimate run before
    training. One fused regexp scan projection + one group aggregate."""
    from bran_spark.operators.contracts import pii_scan

    c = _t(spark, sf, "customer")
    text = F.concat(
        F.lit("contact "),
        F.lower(F.col("c_name")),
        F.when(
            F.col("c_custkey") % 10 == 0,
            F.concat(
                F.lit(" at "),
                F.translate(F.lower(F.col("c_name")), "#", "."),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("c_custkey") % 7 == 0, F.lit(" call 555-867-5309")
        ).otherwise(F.lit("")),
    )
    docs = c.select(F.col("c_mktsegment").alias("source"), text.alias("text"))
    return pii_scan(docs, "text", "source")


@_q(
    "q231_modality_mix",
    """
    WITH per AS (
        SELECT len(list_filter(spans, s -> s.media_ref <> '')) AS n_media,
               len(list_filter(spans, s -> s.media_ref = ''))::BIGINT
                 AS n_text,
               COALESCE(list_sum(list_transform(
                   list_filter(spans, s -> s.media_ref = ''),
                   s -> length(s.text))), 0)::BIGINT AS chars
        FROM read_parquet('{FX}/documents_interleaved.parquet'))
    SELECT n_media, COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(n_text), 6) AS avg_text_spans,
           ROUND(AVG(chars), 6) AS avg_text_chars
    FROM per GROUP BY n_media ORDER BY n_media
    """.replace("{FX}", _FX01),
)
def q231(spark, sf):
    """Interleaving census (multimodal.modality_mix_profile) over the
    fixture span corpus: docs bucketed by media-span count with average
    text-span count and text mass — the distribution every multimodal
    token-budget decision reads first. Pure JVM array math, no explode."""
    from bran_spark.fixtures.gen import ensure
    from bran_spark.operators.multimodal import modality_mix_profile

    # the twin SQL is pinned to the sf0.01 fixture (_FX01), so the Spark
    # side reads the same dir — but must ENSURE it exists first rather
    # than rely on an earlier fixture entry having generated it in this
    # process (standalone q231 runs failed on fresh checkouts otherwise)
    ensure(0.01)
    inter = spark.read.parquet(f"{_FX01}/documents_interleaved.parquet")
    return modality_mix_profile(inter)


def _matching_rounds_sql(iters: int) -> "tuple[str, str]":
    """Unrolled greedy-matching rounds for q232's twin: each round keeps
    the edges that are the min-priority incident edge of BOTH endpoints,
    then drops matched vertices. AS MATERIALIZED throughout — every
    round is referenced by the next and by the final union."""
    rounds = []
    prev = "e0"
    names = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""inc{i} AS (SELECT u AS x, pri FROM {prev}
               UNION ALL SELECT v, pri FROM {prev}),
    best{i} AS MATERIALIZED (SELECT x, MIN(pri) AS bp FROM inc{i}
                             GROUP BY x),
    m{i} AS MATERIALIZED (
        SELECT e.u, e.v, e.w FROM {prev} e
        JOIN best{i} a ON e.u = a.x AND e.pri = a.bp
        JOIN best{i} b ON e.v = b.x AND e.pri = b.bp),
    g{i} AS MATERIALIZED (SELECT u AS x FROM m{i}
                          UNION SELECT v FROM m{i}),
    e{i} AS MATERIALIZED (
        SELECT * FROM {prev}
        WHERE u NOT IN (SELECT x FROM g{i})
          AND v NOT IN (SELECT x FROM g{i}))"""
        )
        names.append(f"SELECT u, v, w FROM m{i}")
        prev = f"e{i}"
    return ",\n    ".join(rounds), " UNION ALL ".join(names)


_MM_ROUNDS, _MM_UNION = _matching_rounds_sql(6)


@_q(
    "q232_maximal_matching",
    _FX_MENTIONS_SQL
    + f"""
    , ent AS (SELECT DISTINCT doc_id, mesh_id, type FROM m),
    ca AS (SELECT doc_id, mesh_id AS u FROM ent WHERE type = 'Chemical'),
    di AS (SELECT doc_id, mesh_id AS v FROM ent WHERE type = 'Disease'),
    base AS (SELECT u, v, COUNT(*)::BIGINT AS w
             FROM ca JOIN di USING (doc_id) GROUP BY 1, 2),
    e0 AS MATERIALIZED (
        SELECT u, v, w,
               lpad((1000000000000000000 - w)::VARCHAR, 19, '0')
                 || md5(u || ':' || v) AS pri
        FROM base),
    {_MM_ROUNDS}
    SELECT u, v, w FROM ({_MM_UNION}) ORDER BY u, v
    """,
)
def q232(spark, sf):
    """One-to-one chemical-disease pairing (graphalgo.maximal_matching,
    6 rounds) over the co-occurrence bipartite graph: each entity is
    matched to at most ONE partner, heavier-support edges win locally,
    md5 breaks ties identically in both engines — the matching upgrade
    of align_entities' independent argmax (which can hand one disease
    to many chemicals)."""
    from bran_spark.operators.graphalgo import maximal_matching

    ent = _fx_entity_incidence(spark, sf)
    chem = ent.where(F.col("type") == "Chemical").select(
        "doc_id", F.col("mesh_id").alias("u")
    )
    dis = ent.where(F.col("type") == "Disease").select(
        "doc_id", F.col("mesh_id").alias("v")
    )
    edges = chem.join(dis, "doc_id").groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    return maximal_matching(edges, max_rounds=6)


@_q(
    "q233_burstiness",
    """
    WITH seq AS (SELECT event_type AS t,
                        CAST(floor(epoch(ts)) AS BIGINT)
                        - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                            (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS gap
                 FROM events),
    g AS (SELECT t AS event_type, COUNT(*)::BIGINT AS n_gaps,
                 SUM(gap)::BIGINT AS s1,
                 SUM(gap * gap)::BIGINT AS s2
          FROM seq WHERE gap IS NOT NULL GROUP BY 1)
    SELECT event_type, n_gaps,
           ROUND(s1 / n_gaps::DOUBLE, 6) AS mean_gap,
           ROUND(sqrt(greatest(s2 / n_gaps::DOUBLE
                       - (s1 / n_gaps::DOUBLE) * (s1 / n_gaps::DOUBLE),
                       0.0)), 6) AS sd_gap,
           ROUND(CASE WHEN n_gaps > 1
                       AND sqrt(greatest(s2 / n_gaps::DOUBLE
                             - (s1 / n_gaps::DOUBLE)
                               * (s1 / n_gaps::DOUBLE), 0.0))
                           + s1 / n_gaps::DOUBLE != 0.0
                      THEN (sqrt(greatest(s2 / n_gaps::DOUBLE
                              - (s1 / n_gaps::DOUBLE)
                                * (s1 / n_gaps::DOUBLE), 0.0))
                            - s1 / n_gaps::DOUBLE)
                           / (sqrt(greatest(s2 / n_gaps::DOUBLE
                               - (s1 / n_gaps::DOUBLE)
                                 * (s1 / n_gaps::DOUBLE), 0.0))
                              + s1 / n_gaps::DOUBLE) END, 6)
             AS burstiness
    FROM g ORDER BY event_type
    """,
)
def q233(spark, sf):
    """Per-type inter-arrival burstiness B = (σ−μ)/(σ+μ)
    (sessions.interarrival_burstiness): gaps between a user's
    consecutive same-type events in exact integer seconds, two-moment
    identity over associative integer sums — Poisson-like B≈0, regular
    B→−1, bursty B→+1. Complements q197's WHEN-spike flags with HOW
    arrivals distribute."""
    from bran_spark.operators.sessions import interarrival_burstiness

    return interarrival_burstiness(_t(spark, sf, "events"))


_HEX8B_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {8 + i + 1}, 1)) - 1)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
)


@_q(
    "q234_geo_near_pairs",
    f"""
    WITH k AS (SELECT c_custkey AS id, md5(c_custkey::VARCHAR) AS h
               FROM customer),
    p AS (SELECT id,
                 (({_HEX8_SQL}) % 120000) / 1000.0 - 60.0 AS lat,
                 (({_HEX8B_SQL}) % 360000) / 1000.0 - 180.0 AS lon
          FROM k),
    b AS (SELECT id, lat, lon,
                 CAST(floor(lat / 0.5) AS BIGINT) AS ci,
                 ((CAST(floor(lon / 0.5) AS BIGINT) % 720) + 720) % 720
                   AS cj
          FROM p),
    off AS (SELECT di, dj
            FROM (SELECT unnest(range(-1, 2)) AS di),
                 (SELECT unnest(range(-2, 3)) AS dj)),
    pr AS (SELECT id AS id_a, lat AS lat_a, lon AS lon_a,
                  ci + di AS ci, ((cj + dj) % 720 + 720) % 720 AS cj
           FROM b, off),
    cand AS (SELECT pr.id_a, pr.lat_a, pr.lon_a,
                    b2.id AS id_b, b2.lat AS lat_b, b2.lon AS lon_b
             FROM pr JOIN b b2 ON pr.ci = b2.ci AND pr.cj = b2.cj
             WHERE pr.id_a < b2.id),
    d AS (SELECT id_a, id_b,
                 ROUND(2.0 * 6371.0088 * asin(sqrt(
                     sin(radians(lat_b - lat_a) / 2.0)
                       * sin(radians(lat_b - lat_a) / 2.0)
                     + cos(radians(lat_a)) * cos(radians(lat_b))
                       * sin(radians(lon_b - lon_a) / 2.0)
                       * sin(radians(lon_b - lon_a) / 2.0))), 6)
                   AS dist_km
          FROM cand)
    SELECT id_a, id_b, dist_km FROM d
    WHERE dist_km <= 50.0 ORDER BY id_a, id_b
    """,
)
def q234(spark, sf):
    """Grid-bucketed spatial near-pair join (geo.geo_near_pairs, 50 km)
    over md5-synthesized customer coordinates in |lat| ≤ 60: the
    cartesian range join becomes a 15-cell-fanout equi-join + exact
    haversine verify — the geohash-family shape next to the hour-bucket
    interval join and banded LSH. Twin replays cells, fan-out and the
    identical haversine tree."""
    from bran_spark.operators.geo import geo_near_pairs

    c = _t(spark, sf, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 120000)
            / 1000.0
            - 60.0
        ).alias("lat"),
        (
            (F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 360000)
            / 1000.0
            - 180.0
        ).alias("lon"),
    )
    return geo_near_pairs(pts, radius_km=50.0)


@_q(
    "q235_golden_record",
    """
    WITH feed AS (
        SELECT c_custkey AS e, 'crm' AS src,
               TIMESTAMP '2024-01-10 00:00:00' AS ts,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE c_mktsegment END AS segment,
               c_name AS name
        FROM customer
        UNION ALL
        SELECT c_custkey, 'web', TIMESTAMP '2024-01-20 00:00:00',
               'web-' || c_mktsegment,
               CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_name END
        FROM customer
        UNION ALL
        SELECT c_custkey, 'import', TIMESTAMP '2024-01-05 00:00:00',
               lower(c_mktsegment), upper(c_name)
        FROM customer),
    keyed AS (SELECT e, src, ts, segment, name,
                     CASE WHEN src = 'crm' THEN 1
                          WHEN src = 'web' THEN 2
                          WHEN src = 'import' THEN 3 ELSE 999 END AS p,
                     -CAST(floor(epoch(ts)) AS BIGINT) AS nt
              FROM feed)
    SELECT e AS entity,
           (min(CASE WHEN name IS NOT NULL THEN
                struct_pack(p := p, nt := nt, s := src, v := name) END)).v
             AS name,
           (min(CASE WHEN segment IS NOT NULL THEN
                struct_pack(p := p, nt := nt, s := src, v := segment) END)).v
             AS segment,
           COUNT(*)::BIGINT AS n_records,
           COUNT(DISTINCT src)::BIGINT AS n_sources,
           MAX(ts) AS last_seen
    FROM keyed GROUP BY e ORDER BY entity
    """,
)
def q235(spark, sf):
    """Golden-record survivorship merge (asof.golden_record) over a
    three-source customer feed with planted per-source NULLs and
    conflicts: trust order (crm > web > import), then freshness, then
    source name — per FIELD, independently, in one exact struct-min
    aggregate (a single entity-keyed shuffle, no windows)."""
    from bran_spark.operators.asof import golden_record

    c = _t(spark, sf, "customer")
    crm = c.select(
        F.col("c_custkey").alias("e"),
        F.lit("crm").alias("source"),
        F.lit("2024-01-10 00:00:00").cast("timestamp").alias("ts"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("segment"),
        F.col("c_name").alias("name"),
    )
    web = c.select(
        F.col("c_custkey").alias("e"),
        F.lit("web").alias("source"),
        F.lit("2024-01-20 00:00:00").cast("timestamp").alias("ts"),
        F.concat(F.lit("web-"), F.col("c_mktsegment")).alias("segment"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit(None)).otherwise(
            F.col("c_name")
        ).alias("name"),
    )
    imp = c.select(
        F.col("c_custkey").alias("e"),
        F.lit("import").alias("source"),
        F.lit("2024-01-05 00:00:00").cast("timestamp").alias("ts"),
        F.lower(F.col("c_mktsegment")).alias("segment"),
        F.upper(F.col("c_name")).alias("name"),
    )
    feed = crm.unionByName(web).unionByName(imp)
    return golden_record(
        feed,
        "e",
        ["name", "segment"],
        {"crm": 1, "web": 2, "import": 3},
    )


@_q(
    "q236_quantity_normalize",
    r"""
    WITH src AS (SELECT l_orderkey * 10 + l_linenumber AS doc_id,
                        CAST(round(l_quantity * 100, 0) AS BIGINT) AS n1
                 FROM lineitem WHERE l_orderkey < 300),
    docs AS (SELECT doc_id,
                    'dose ' || n1 || ' mg taken with ' || (n1 % 97)
                    || ' ml of water and ' || (n1 % 13) || '.'
                    || (n1 % 10) || ' g' AS text
             FROM src),
    m AS (SELECT doc_id,
                 unnest(regexp_extract_all(lower(text),
                   '(\d+(?:\.\d+)?)\s*(mcg|ug|mg|kg|g|ml|cl|dl|l)\b'))
                   AS raw
          FROM docs),
    e AS (SELECT doc_id, raw,
                 CAST(regexp_extract(raw,
                   '(\d+(?:\.\d+)?)\s*(mcg|ug|mg|kg|g|ml|cl|dl|l)\b', 1)
                   AS DOUBLE) AS value,
                 regexp_extract(raw,
                   '(\d+(?:\.\d+)?)\s*(mcg|ug|mg|kg|g|ml|cl|dl|l)\b', 2)
                   AS unit
          FROM m)
    SELECT doc_id, raw, value, unit,
           CASE WHEN unit IN ('mcg', 'ug', 'mg', 'g', 'kg')
                THEN 'mass_mg' ELSE 'volume_ml' END AS kind,
           ROUND(value * CASE unit
                 WHEN 'mcg' THEN 0.001 WHEN 'ug' THEN 0.001
                 WHEN 'mg' THEN 1.0 WHEN 'g' THEN 1000.0
                 WHEN 'kg' THEN 1000000.0 WHEN 'ml' THEN 1.0
                 WHEN 'cl' THEN 10.0 WHEN 'dl' THEN 100.0
                 WHEN 'l' THEN 1000.0 END, 6) AS canonical
    FROM e ORDER BY doc_id, raw
    """,
)
def q236(spark, sf):
    """Quantity-mention normalization (text.extract_quantities) over a
    deterministically synthesized dosage corpus: number+unit mentions
    regexp-extracted in one scan, mass→mg / volume→ml via exact
    power-of-ten CASE factors — '500 mg' and '0.5 g' land on the same
    canonical value, the precondition for any dose aggregation."""
    from bran_spark.functions.text import extract_quantities

    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") < 300)
    n1 = F.round(F.col("l_quantity") * 100, 0).cast("long")
    docs = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id"),
        F.concat(
            F.lit("dose "), n1.cast("string"), F.lit(" mg taken with "),
            (n1 % 97).cast("string"), F.lit(" ml of water and "),
            (n1 % 13).cast("string"), F.lit("."),
            (n1 % 10).cast("string"), F.lit(" g"),
        ).alias("text"),
    )
    return extract_quantities(docs)


@_q(
    "q237_fd_audit",
    """
    WITH g AS (SELECT o_custkey, COUNT(*)::BIGINT AS n_rows,
                      COUNT(DISTINCT o_orderstatus)::BIGINT
                        AS n_distinct_rhs,
                      list_slice(list_sort(list(DISTINCT
                        o_orderstatus::VARCHAR)
                        FILTER (WHERE o_orderstatus IS NOT NULL)), 1, 5)
                        AS example_values
               FROM orders GROUP BY o_custkey)
    SELECT * FROM g WHERE n_distinct_rhs > 1 ORDER BY o_custkey
    """,
)
def q237(spark, sf):
    """Functional-dependency audit (contracts.fd_audit): does
    o_custkey → o_orderstatus hold? Violating determinant groups with
    up to 5 sorted offending values — the schema-repair signal behind
    canonicalization (one key, many claimed values) and the
    precondition check for survivorship rules. One keyed aggregate."""
    from bran_spark.operators.contracts import fd_audit

    return fd_audit(_t(spark, sf, "orders"), ["o_custkey"], "o_orderstatus")


@_q(
    "q238_column_profile",
    """
    WITH seg AS (
        SELECT 'c_mktsegment' AS col, COUNT(*)::BIGINT AS n_rows,
               SUM((c_mktsegment IS NULL)::INT)::BIGINT AS n_nulls,
               COUNT(DISTINCT c_mktsegment::VARCHAR)::BIGINT AS n_distinct
        FROM customer),
    segt AS (SELECT c_mktsegment::VARCHAR AS top_value,
                    COUNT(*)::BIGINT AS top_n
             FROM customer WHERE c_mktsegment IS NOT NULL
             GROUP BY 1 ORDER BY top_n DESC, top_value LIMIT 1),
    nat AS (
        SELECT 'c_nationkey' AS col, COUNT(*)::BIGINT,
               SUM((c_nationkey IS NULL)::INT)::BIGINT,
               COUNT(DISTINCT c_nationkey::VARCHAR)::BIGINT
        FROM customer),
    natt AS (SELECT c_nationkey::VARCHAR AS top_value,
                    COUNT(*)::BIGINT AS top_n
             FROM customer WHERE c_nationkey IS NOT NULL
             GROUP BY 1 ORDER BY top_n DESC, top_value LIMIT 1),
    acc AS (
        SELECT 'c_acctbal' AS col, COUNT(*)::BIGINT,
               SUM((c_acctbal IS NULL)::INT)::BIGINT,
               COUNT(DISTINCT c_acctbal::VARCHAR)::BIGINT
        FROM customer),
    acct AS (SELECT c_acctbal::VARCHAR AS top_value,
                    COUNT(*)::BIGINT AS top_n
             FROM customer WHERE c_acctbal IS NOT NULL
             GROUP BY 1 ORDER BY top_n DESC, top_value LIMIT 1)
    SELECT col, n_rows, n_nulls,
           ROUND(n_nulls / n_rows::DOUBLE, 6) AS null_rate,
           n_distinct, top_value,
           ROUND(top_n / n_rows::DOUBLE, 6) AS top_share
    FROM (
      SELECT seg.*, segt.* FROM seg, segt
      UNION ALL SELECT nat.*, natt.* FROM nat, natt
      UNION ALL SELECT acc.*, acct.* FROM acc, acct)
    ORDER BY col
    """,
)
def q238(spark, sf):
    """Column profiler (contracts.profile_columns) over three customer
    columns: nulls, exact distinct count, top value + share with a
    deterministic value-asc tie-break — the first pass anyone runs on
    unfamiliar data (swap exact distinct for the HLL path at 10¹²)."""
    from bran_spark.operators.contracts import profile_columns

    return profile_columns(
        _t(spark, sf, "customer"),
        ["c_mktsegment", "c_nationkey", "c_acctbal"],
    )


@_q(
    "q239_ucb_allocation",
    f"""
    WITH k AS (SELECT md5(event_id::VARCHAR) AS h,
                      CAST(round(value * 100, 0) AS BIGINT) AS y
               FROM events),
    a AS (SELECT CAST(({_HEX8_SQL}) % 4 AS INT) AS arm, y FROM k),
    g AS (SELECT arm, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS s
          FROM a GROUP BY arm),
    t AS (SELECT SUM(n)::DOUBLE AS n_tot FROM g),
    sc AS (SELECT arm, n,
                  ROUND(s / (n::DOUBLE * 100.0), 6) AS mean,
                  ROUND(s / (n::DOUBLE * 100.0)
                        + 5.0 * sqrt(2.0 * ln(t.n_tot) / n::DOUBLE), 6)
                    AS ucb
           FROM g, t),
    b AS (SELECT (min(struct_pack(nu := -ucb, arm := arm))).arm
            AS best_arm FROM sc)
    SELECT sc.arm, sc.n, sc.mean, sc.ucb,
           sc.arm = b.best_arm AS is_best
    FROM sc, b ORDER BY arm
    """,
)
def q239(spark, sf):
    """UCB1 bandit allocation (sampling.ucb_allocation) over four
    md5-coin arms with per-event value cents as rewards: mean +
    span·√(2·ln N / n) per arm (span 5.0 ≈ the value range in unit
    terms — UCB1's bound is [0,1]-calibrated), argmax flagged — the
    adaptive-allocation companion to q216's fixed-split readout,
    recomputed batch-style per allocation epoch."""
    from bran_spark.operators.sampling import ucb_allocation

    ev = _t(spark, sf, "events")
    units = ev.select(
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 4
        )
        .cast("int")
        .alias("arm"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    return ucb_allocation(units, scale=100, span=5.0)


@_q(
    "q240_journey_entropy",
    """
    WITH s AS (SELECT event_type AS to_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                        AS from_type
               FROM events),
    p AS (SELECT from_type, to_type, COUNT(*)::BIGINT AS n
          FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
    g AS (SELECT from_type, SUM(n)::BIGINT AS n_from,
                 COUNT(*)::BIGINT AS n_out,
                 SUM(n::DOUBLE * ln(n::DOUBLE)) AS clnc
          FROM p GROUP BY from_type)
    SELECT from_type, n_from, n_out,
           ROUND(greatest(ln(n_from::DOUBLE) - clnc / n_from::DOUBLE,
                          0.0), 6) AS entropy,
           ROUND(CASE WHEN n_out > 1
                      THEN 1.0 - greatest(ln(n_from::DOUBLE)
                             - clnc / n_from::DOUBLE, 0.0)
                           / ln(n_out::DOUBLE) END, 6) AS predictability
    FROM g ORDER BY from_type
    """,
)
def q240(spark, sf):
    """Per-state journey entropy (sessions.journey_entropy over
    transition_matrix): how scripted is what follows each event type —
    H(from) with a 1 − H/ln(k) predictability score; the row-level
    complement of q219's long-run mix."""
    from bran_spark.operators.sessions import (
        journey_entropy,
        transition_matrix,
    )

    return journey_entropy(transition_matrix(_t(spark, sf, "events")))


@_q(
    "q241_readability",
    r"""
    WITH w AS (SELECT doc_id,
                      len(list_filter(string_split_regex(lower(text),
                        '\s+'), x -> x <> ''))::BIGINT AS n_words,
                      greatest(len(regexp_extract_all(lower(text),
                        '[.!?]+')), 1)::BIGINT AS n_sentences,
                      greatest(len(regexp_extract_all(lower(text),
                        '[aeiouy]+')), 1)::BIGINT AS n_syllables
               FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(CASE WHEN n_words > 0
                 THEN 206.835
                      - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                      - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE)
                 END, 6) AS ease
    FROM w ORDER BY doc_id
    """,
)
def q241(spark, sf):
    """Flesch-style reading ease (quality.readability_scores): vowel-
    group syllable proxy + terminal-punctuation sentence count, the
    whole score one scan projection — the classic corpus-quality
    dimension next to q32's length/stopword gates."""
    from bran_spark.operators.quality import readability_scores

    return readability_scores(_t(spark, sf, "documents"))


_BP_CORPUS_SQL = """
    bp AS (SELECT doc_id, text
                  || chr(10) || CASE WHEN doc_id % 2 = 0
                     THEN 'subscribe to our newsletter for updates'
                     ELSE 'all rights reserved worldwide' END
                  || chr(10) || 'copyright footer two thousand twenty'
                  || chr(10) || 'unique tail ' || doc_id AS text
           FROM documents)
"""


@_q(
    "q242_boilerplate_lines",
    f"""
    WITH {_BP_CORPUS_SQL},
    lines AS (SELECT doc_id, trim(ln) AS line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10)))
                      AS ln FROM bp))
    SELECT line, COUNT(DISTINCT doc_id)::BIGINT AS df
    FROM lines WHERE length(line) >= 10
    GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 50
    ORDER BY df DESC, line
    """,
)
def q242(spark, sf):
    """Cross-document boilerplate census (quality.boilerplate_lines,
    min_df=50) over a corpus with planted banner/footer lines: the
    newline-split distinct-doc line count — the CCNet/RefinedWeb-style
    cleanup signal after dedup."""
    from bran_spark.operators.quality import boilerplate_lines

    return boilerplate_lines(_bp_corpus(spark, sf), min_df=50)


def _bp_corpus(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("subscribe to our newsletter for updates"),
            ).otherwise(F.lit("all rights reserved worldwide")),
            F.lit("\n"),
            F.lit("copyright footer two thousand twenty"),
            F.lit("\n"),
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )


@_q(
    "q243_strip_boilerplate",
    f"""
    WITH {_BP_CORPUS_SQL},
    flagged AS (
        SELECT line FROM (
            SELECT trim(ln) AS line, COUNT(DISTINCT doc_id) AS df
            FROM (SELECT doc_id, unnest(string_split(text, chr(10)))
                    AS ln FROM bp)
            WHERE length(trim(ln)) >= 10
            GROUP BY trim(ln)) WHERE df >= 50),
    split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM bp),
    idx AS (SELECT doc_id, i, ls[i + 1] AS raw
            FROM split, unnest(range(len(ls))) AS t(i)),
    kept AS (SELECT doc_id, i, raw FROM idx
             WHERE trim(raw) NOT IN (SELECT line FROM flagged)),
    built AS (SELECT doc_id,
                     array_to_string(list_transform(
                       list_sort(list(struct_pack(i := i, raw := raw))),
                       s -> s.raw), chr(10)) AS text
              FROM kept GROUP BY doc_id)
    SELECT bp.doc_id AS doc_id, COALESCE(built.text, '') AS text
    FROM bp LEFT JOIN built ON bp.doc_id = built.doc_id
    ORDER BY bp.doc_id
    """,
)
def q243(spark, sf):
    """Boilerplate removal rewrite (quality.strip_boilerplate): drop
    every flagged line, restore original line order via the index,
    preserve fully-boilerplate docs as '' — the composed
    detect-then-clean flow over q242's planted corpus."""
    from bran_spark.operators.quality import (
        boilerplate_lines,
        strip_boilerplate,
    )

    corpus = _bp_corpus(spark, sf)
    return strip_boilerplate(corpus, boilerplate_lines(corpus, min_df=50))


@_q(
    "q244_url_canonical",
    r"""
    WITH c AS (SELECT c_custkey AS ck FROM customer WHERE c_custkey < 200),
    urls AS (
        SELECT 'HTTPS://Shop.Example.COM:443/item/' || ck
               || '?utm_source=mail&q=2&p=1#top' AS u FROM c
        UNION ALL
        SELECT 'https://shop.example.com/item/' || ck || '?p=1&q=2' FROM c
        UNION ALL
        SELECT 'http://Shop.Example.COM:80/item/' || ck FROM c
        UNION ALL
        SELECT 'https://shop.example.com/item/' || ck
               || '?fbclid=zz&p=1&q=2' FROM c),
    s1 AS (SELECT u, regexp_replace(u, '#.*$', '') AS nofrag FROM urls),
    s2 AS (SELECT u, nofrag,
                  lower(regexp_extract(nofrag,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  lower(regexp_extract(nofrag,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
                  regexp_extract(nofrag,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
                    AS path0,
                  regexp_extract(nofrag, '\?([^#]*)', 1) AS rawq
           FROM s1),
    s3 AS (SELECT u, scheme,
                  CASE WHEN scheme = 'http'
                       THEN regexp_replace(hostport, ':80$', '')
                       WHEN scheme = 'https'
                       THEN regexp_replace(hostport, ':443$', '')
                       ELSE hostport END AS hp,
                  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                  array_to_string(list_sort(list_filter(
                    string_split(rawq, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                      '^(utm_[^=]*|gclid|fbclid|ref|mc_eid)='))), '&')
                    AS query
           FROM s2),
    canon AS (SELECT CASE WHEN scheme = '' OR hp = '' THEN u
                          ELSE scheme || '://' || hp || path
                               || CASE WHEN query <> ''
                                       THEN '?' || query ELSE '' END END
                       AS canonical
              FROM s3)
    SELECT canonical, COUNT(*)::BIGINT AS n_variants
    FROM canon GROUP BY canonical ORDER BY canonical
    """,
)
def q244(spark, sf):
    """URL canonicalization (text.url_canonical) — the fetch-dedup key
    of a web corpus: four surface variants per item (case, default
    port, tracking params, fragment, param order) collapse to one
    canonical https URL per item plus the genuinely different http one.
    Pure regexp/array scan projection; the twin replays every rule."""
    from bran_spark.functions.text import url_canonical

    c = _t(spark, sf, "customer").where(F.col("c_custkey") < 200)
    ck = F.col("c_custkey").cast("string")
    urls = c.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTPS://Shop.Example.COM:443/item/"), ck,
                    F.lit("?utm_source=mail&q=2&p=1#top"),
                ),
                F.concat(
                    F.lit("https://shop.example.com/item/"), ck,
                    F.lit("?p=1&q=2"),
                ),
                F.concat(F.lit("http://Shop.Example.COM:80/item/"), ck),
                F.concat(
                    F.lit("https://shop.example.com/item/"), ck,
                    F.lit("?fbclid=zz&p=1&q=2"),
                ),
            )
        ).alias("u")
    )
    return (
        urls.select(url_canonical("u").alias("canonical"))
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).cast("long").alias("n_variants"))
        .orderBy("canonical")
    )


@_q(
    "q245_cohort_retention",
    """
    WITH f AS (SELECT user_id AS u,
                      MIN(date_trunc('week', ts)) AS cw
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
          FROM events),
    j AS (SELECT f.cw, CAST(datediff('day', f.cw, a.w) / 7 AS INT)
                   AS off, a.u
          FROM a JOIN f USING (u)),
    cells AS (SELECT cw, off, COUNT(DISTINCT u)::BIGINT AS n_active
              FROM j GROUP BY cw, off),
    sizes AS (SELECT cw, COUNT(*)::BIGINT AS n_cohort FROM f GROUP BY cw)
    SELECT cells.cw::DATE AS cohort_week, cells.off AS week_offset,
           cells.n_active, sizes.n_cohort,
           ROUND(cells.n_active / sizes.n_cohort::DOUBLE, 6) AS retention
    FROM cells JOIN sizes USING (cw)
    ORDER BY cohort_week, week_offset
    """,
)
def q245(spark, sf):
    """Weekly cohort-retention matrix (sessions.cohort_retention):
    first-activity-week cohorts × week offset, exact distinct counts —
    the per-cohort growth table next to q206's pooled survival curve."""
    from bran_spark.operators.sessions import cohort_retention

    return cohort_retention(_t(spark, sf, "events"))


@_q(
    "q246_poststratified",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CASE WHEN ts < TIMESTAMP '2024-01-14'
                               THEN CAST(round(value * 100, 0) AS BIGINT)
                               ELSE 0 END) AS x,
                      SUM(CASE WHEN ts >= TIMESTAMP '2024-01-14'
                               THEN CAST(round(value * 100, 0) AS BIGINT)
                               ELSE 0 END) AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, x, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm,
                 greatest(0, least(3, CAST(x // 5000 AS INT)))
                   AS stratum, y
          FROM k),
    g AS (SELECT stratum, COUNT(*)::BIGINT AS n,
                 SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1
          FROM a GROUP BY stratum),
    r AS (SELECT SUM(n)::BIGINT AS n_units,
                 COUNT(*)::BIGINT AS n_strata,
                 SUM((n0 > 0 AND n1 > 0)::INT)::BIGINT AS n_strata_used,
                 SUM(CASE WHEN n0 > 0 AND n1 > 0 THEN n ELSE 0 END)::BIGINT
                   AS n_used,
                 SUM(CASE WHEN n0 > 0 AND n1 > 0
                          THEN n::DOUBLE * (s1 / (n1::DOUBLE * 100.0)
                                            - s0 / (n0::DOUBLE * 100.0))
                          END) AS wsum,
                 SUM(s0)::BIGINT AS t0, SUM(s1)::BIGINT AS t1,
                 SUM(n0)::BIGINT AS m0, SUM(n1)::BIGINT AS m1
          FROM g)
    SELECT n_units, n_strata, n_strata_used,
           ROUND(CASE WHEN m0 > 0 AND m1 > 0
                      THEN t1 / (m1::DOUBLE * 100.0)
                           - t0 / (m0::DOUBLE * 100.0) END, 6) AS diff_raw,
           ROUND(CASE WHEN n_used > 0 THEN wsum / n_used::DOUBLE END, 6)
             AS diff_post
    FROM r
    """,
)
def q246(spark, sf):
    """Post-stratified effect (sampling.poststratified_effect): arms
    compared WITHIN pre-period-activity strata (fixed 5,000-cent
    buckets) and combined with population weights — the imbalance-
    robust estimate next to q216's raw diff; strata missing an arm are
    excluded and reported."""
    from bran_spark.operators.sampling import poststratified_effect

    ev = _t(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cut = F.col("ts") < F.lit("2024-01-14").cast("timestamp")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(cut, cents).otherwise(F.lit(0)))
            .cast("long")
            .alias("x"),
            F.sum(F.when(~cut, cents).otherwise(F.lit(0)))
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            .cast("int")
            .alias("arm"),
            F.greatest(
                F.lit(0),
                F.least(F.lit(3), F.floor(F.col("x") / 5000).cast("int")),
            ).alias("stratum"),
            "y",
        )
    )
    return poststratified_effect(units, scale=100)


_SEQ_LOOKS = ["2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"]
_SEQ_BOUNDS = (4.049, 2.863, 2.337, 2.024)


def _seq_look_sql(i: int, cut: str, bound: float) -> str:
    """One look's rollup for q247's twin — the q216 Welch tree over the
    per-user cumulative sums, with the integer flat-guards."""
    return f"""
    SELECT '{cut}' AS look, n0 AS n_ctl, n1 AS n_trt,
           ROUND(CASE WHEN n0 > 1 AND n1 > 1
                 THEN s1 / (n1::DOUBLE * 100.0)
                      - s0 / (n0::DOUBLE * 100.0) END, 6) AS diff,
           ROUND(CASE WHEN n0 > 1 AND n1 > 1
                 THEN sqrt(greatest((q0 / 10000.0
                        - n0::DOUBLE * (s0 / (n0::DOUBLE * 100.0))
                          * (s0 / (n0::DOUBLE * 100.0)))
                        / (n0::DOUBLE - 1), 0.0) / n0::DOUBLE
                      + greatest((q1 / 10000.0
                          - n1::DOUBLE * (s1 / (n1::DOUBLE * 100.0))
                            * (s1 / (n1::DOUBLE * 100.0)))
                          / (n1::DOUBLE - 1), 0.0) / n1::DOUBLE) END, 6)
             AS se,
           ROUND(CASE WHEN n0 > 1 AND n1 > 1
                      AND NOT (n0 * q0 = s0 * s0 AND n1 * q1 = s1 * s1)
                 THEN (s1 / (n1::DOUBLE * 100.0)
                       - s0 / (n0::DOUBLE * 100.0))
                      / sqrt(greatest((q0 / 10000.0
                            - n0::DOUBLE * (s0 / (n0::DOUBLE * 100.0))
                              * (s0 / (n0::DOUBLE * 100.0)))
                            / (n0::DOUBLE - 1), 0.0) / n0::DOUBLE
                          + greatest((q1 / 10000.0
                              - n1::DOUBLE * (s1 / (n1::DOUBLE * 100.0))
                                * (s1 / (n1::DOUBLE * 100.0)))
                              / (n1::DOUBLE - 1), 0.0) / n1::DOUBLE)
                 END, 6) AS z,
           CAST({bound} AS DOUBLE) AS boundary,
           COALESCE(abs(ROUND(CASE WHEN n0 > 1 AND n1 > 1
                      AND NOT (n0 * q0 = s0 * s0 AND n1 * q1 = s1 * s1)
                 THEN (s1 / (n1::DOUBLE * 100.0)
                       - s0 / (n0::DOUBLE * 100.0))
                      / sqrt(greatest((q0 / 10000.0
                            - n0::DOUBLE * (s0 / (n0::DOUBLE * 100.0))
                              * (s0 / (n0::DOUBLE * 100.0)))
                            / (n0::DOUBLE - 1), 0.0) / n0::DOUBLE
                          + greatest((q1 / 10000.0
                              - n1::DOUBLE * (s1 / (n1::DOUBLE * 100.0))
                                * (s1 / (n1::DOUBLE * 100.0)))
                              / (n1::DOUBLE - 1), 0.0) / n1::DOUBLE)
                 END, 6)) > {bound}, false) AS crossed
    FROM g{i}"""


_SEQ_PU_COLS = ",\n                  ".join(
    f"SUM(CASE WHEN ts <= TIMESTAMP '{cut}'"
    f" THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS y{i},"
    f" MAX(CASE WHEN ts <= TIMESTAMP '{cut}' THEN 1 ELSE 0 END) AS in{i}"
    for i, cut in enumerate(_SEQ_LOOKS)
)
_SEQ_G_CTES = ",\n    ".join(
    f"""g{i} AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y{i} ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y{i} ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN y{i} * y{i} ELSE 0 END)::BIGINT
                   AS q0,
                 SUM(CASE WHEN arm = 1 THEN y{i} * y{i} ELSE 0 END)::BIGINT
                   AS q1
          FROM a WHERE in{i} = 1)"""
    for i in range(len(_SEQ_LOOKS))
)
_SEQ_UNION = "\n    UNION ALL".join(
    _seq_look_sql(i, cut, b)
    for i, (cut, b) in enumerate(zip(_SEQ_LOOKS, _SEQ_BOUNDS))
)


@_q(
    "q247_sequential_looks",
    f"""
    WITH pu AS (SELECT user_id AS uid,
                  {_SEQ_PU_COLS}
                FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, pu.* FROM pu),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, k.* FROM k),
    {_SEQ_G_CTES}
    SELECT * FROM ({_SEQ_UNION}) ORDER BY look
    """,
)
def q247(spark, sf):
    """Group-sequential monitoring (sampling.sequential_looks, 4 weekly
    looks, O'Brien-Fleming boundaries): the cumulative Welch z at each
    look against the alpha-spending boundary — the peeking protection
    raw t-checking lacks. One corpus pass computes every look's
    per-user cumulative sums."""
    from bran_spark.operators.sampling import sequential_looks

    return sequential_looks(_t(spark, sf, "events"), _SEQ_LOOKS)


# --- KG representation-learning data ops (operators/kglearn.py) ---------

_EMB_COMP = "(" + _MD5INT8.format(x="s || '#' || CAST(j AS VARCHAR)") + ") % 2001 - 1000"


@_q(
    "q248_transe_eval",
    _KG_TRIPLES_SQL
    + f"""
    , e AS MATERIALIZED (SELECT DISTINCT ent FROM
              (SELECT subj AS ent FROM t UNION SELECT obj FROM t)),
    test AS (SELECT subj, pred, obj FROM t
             WHERE ({_MD5INT8.format(x="subj || '|' || pred || '|' || obj")})
                   % 1000 = 0),
    cand AS (SELECT test.subj, test.pred, test.obj, e.ent AS cand
             FROM test JOIN e ON substr(e.ent, 1, 1) = substr(test.obj, 1, 1)),
    kept AS (SELECT c.* FROM cand c LEFT JOIN t t2
               ON t2.subj = c.subj AND t2.pred = c.pred AND t2.obj = c.cand
             WHERE c.cand = c.obj OR t2.subj IS NULL),
    names AS (SELECT ent AS s FROM e UNION SELECT DISTINCT pred FROM t),
    -- one embedding LIST row per string: a (string, component) long table
    -- joined on (s, j) invites the optimizer into a j=j cross-ish join
    -- (measured: 2.8e9 intermediate rows); three s-keyed list joins can't
    -- be misordered
    emb AS MATERIALIZED (SELECT s,
             list_transform(range(8),
                            j -> CAST({_EMB_COMP} AS BIGINT)) AS v
           FROM names),
    scored AS MATERIALIZED (
      SELECT k.subj, k.pred, k.obj, k.cand,
             CAST(list_sum(list_transform(range(8),
                    i -> abs(es.v[i + 1] + ep.v[i + 1] - ec.v[i + 1])))
                  AS BIGINT) AS score
      FROM kept k
      JOIN emb es ON es.s = k.subj
      JOIN emb ep ON ep.s = k.pred
      JOIN emb ec ON ec.s = k.cand),
    ts AS MATERIALIZED (SELECT subj, pred, obj, score AS true_score
           FROM scored WHERE cand = obj),
    ranks AS (
      SELECT s.subj, s.pred, s.obj,
             CAST(1 + SUM(CASE WHEN s.cand <> s.obj
                           AND (s.score < ts.true_score
                                OR (s.score = ts.true_score
                                    AND s.cand < s.obj))
                          THEN 1 ELSE 0 END) AS BIGINT) AS rnk
      FROM scored s JOIN ts USING (subj, pred, obj)
      GROUP BY 1, 2, 3)
    SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS hits_at_k,
           ROUND(SUM(CAST(ROUND(1000000.0 / rnk) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS mrr,
           ROUND(SUM(rnk) / COUNT(*)::DOUBLE, 2) AS mean_rank
    FROM ranks GROUP BY pred
    """,
)
def q248(spark, sf):
    """Filtered link-prediction ranking eval over the lifted KG
    (kglearn.transe_rank_eval, TransE protocol / Bordes et al. 2013):
    md5-sampled test triples, type-confined broadcast candidate pools,
    exact-BIGINT L1 energies over deterministic integer embeddings, ranks
    with id-ascending tie-break, per-pred hits@10 / MRR (micro-integer
    reciprocals) / mean rank. The twin precomputes embedding components
    per (string, j) and joins — same math, different physical strategy
    (the HOF-in-lambda form would re-run md5 8× per component there)."""
    from bran_spark.operators.kglearn import transe_rank_eval

    return transe_rank_eval(
        _kg_relational_triples(spark, sf), assume_distinct=True
    )


@_q(
    "q249_feature_propagation",
    _KG_TRIPLES_SQL
    + f"""
    , e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t),
    h1 AS (SELECT dst AS ent, CAST(COUNT(*) AS BIGINT) AS in_deg,
                  CAST(SUM(({_MD5INT8.format(x="src")}) % 1000) AS BIGINT)
                    AS f1_sum
           FROM e GROUP BY dst),
    hubs AS (SELECT i.mid FROM
               (SELECT dst AS mid, COUNT(*) AS din FROM e GROUP BY dst) i
             JOIN (SELECT src AS mid, COUNT(*) AS dout FROM e GROUP BY src) o
               USING (mid)
             WHERE din * dout > 500),
    leg1 AS (SELECT e.src AS origin, e.dst AS mid FROM e
             WHERE e.dst NOT IN (SELECT mid FROM hubs)),
    h2 AS (SELECT l2.dst AS ent, CAST(COUNT(*) AS BIGINT) AS n_paths2,
                  CAST(SUM(({_MD5INT8.format(x="origin")}) % 1000) AS BIGINT)
                    AS f2_sum
           FROM leg1 JOIN e l2 ON leg1.mid = l2.src
           GROUP BY l2.dst)
    SELECT h1.ent, h1.in_deg,
           ROUND(h1.f1_sum / h1.in_deg::DOUBLE, 6) AS f1_mean,
           COALESCE(h2.n_paths2, CAST(0 AS BIGINT)) AS n_paths2,
           CASE WHEN h2.n_paths2 IS NOT NULL
                THEN ROUND(h2.f2_sum / h2.n_paths2::DOUBLE, 6) END AS f2_mean
    FROM h1 LEFT JOIN h2 USING (ent)
    """,
)
def q249(spark, sf):
    """Linear GNN feature pre-propagation over the lifted KG
    (kglearn.feature_propagation, SGC/LightGCN style): per node, the mean
    deterministic integer feature over 1-hop in-edges and 2-hop in-paths
    — BIGINT sums + path counts with ONE final division each, hub middle
    nodes (in·out fanout > 500) df-cut out of the 2-hop self-join via a
    broadcast anti-join."""
    from bran_spark.operators.kglearn import feature_propagation

    return feature_propagation(_kg_relational_triples(spark, sf), hub_cap=500)


_NT_ESC = "replace(replace(replace({x}, '%', '%25'), ':', '%3A'), ' ', '%20')"


@_q(
    "q250_ntriples_export",
    _KG_TRIPLES_SQL
    + f"""
    , lbl AS (SELECT 'N:' || n_nationkey AS ent, n_name AS label FROM nation
              UNION ALL
              SELECT 'R:' || r_regionkey, r_name FROM region)
    SELECT 'triple' AS kind, subj,
           '<http://kg.local/e/' || {_NT_ESC.format(x="subj")} || '> ' ||
           '<http://kg.local/p/' || {_NT_ESC.format(x="pred")} || '> ' ||
           '<http://kg.local/e/' || {_NT_ESC.format(x="obj")} || '> .'
             AS line
    FROM t
    UNION ALL
    SELECT 'label' AS kind, ent AS subj,
           '<http://kg.local/e/' || {_NT_ESC.format(x="ent")} || '> ' ||
           '<http://www.w3.org/2000/01/rdf-schema#label> "' ||
           replace(replace(replace(replace(replace(
             label, '\\', '\\\\'), '"', '\\"'),
             chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t') || '" .'
             AS line
    FROM lbl
    """,
)
def q250(spark, sf):
    """Canonical N-Triples serialization of the lifted KG plus rdfs:label
    statements for the nation/region dims (kgquality.ntriples_export) —
    the W3C publication format a SPARQL endpoint ingests. IRI
    percent-encoding and literal escaping both engine-replayable string
    ops; pure projection, no shuffle, no UDF."""
    from bran_spark.operators.kgquality import ntriples_export

    labels = (
        _t(spark, sf, "nation")
        .select(
            F.concat(F.lit("N:"), F.col("n_nationkey").cast("string")).alias("ent"),
            F.col("n_name").alias("label"),
        )
        .unionByName(
            _t(spark, sf, "region").select(
                F.concat(F.lit("R:"), F.col("r_regionkey").cast("string")).alias("ent"),
                F.col("r_name").alias("label"),
            )
        )
    )
    return ntriples_export(_kg_relational_triples(spark, sf), labels)


_RAKE_STOP_SQL = ", ".join(
    f"'{w}'" for w in ["the", "a", "of", "and", "to", "in", "with", "after", "during"]
)


@_q(
    "q251_rake_keyphrases",
    f"""
    WITH w AS (SELECT doc_id, i + 1 AS pos, ws[i + 1] AS w
               FROM (SELECT doc_id,
                            string_split_regex(trim(lower(text)), ' +') AS ws
                     FROM documents),
                    unnest(range(len(ws))) t(i)
               WHERE ws[i + 1] <> ''),
    ns AS (SELECT doc_id, pos, w,
                  pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                    AS island
           FROM w WHERE w NOT IN ({_RAKE_STOP_SQL})),
    mem AS (SELECT doc_id, island, pos, w,
                   COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
            FROM ns),
    ws2 AS (SELECT w, COUNT(*)::BIGINT AS freq, SUM(plen)::BIGINT AS deg
            FROM mem GROUP BY w),
    sc AS (SELECT w, CAST(ROUND(1000000.0 * deg / freq) AS BIGINT)
                    AS w_score
           FROM ws2),
    ph AS (SELECT m.doc_id, m.island,
                  string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
                  SUM(sc.w_score)::BIGINT AS score_micro
           FROM mem m JOIN sc USING (w) GROUP BY 1, 2)
    SELECT phrase, score_micro,
           COUNT(*)::BIGINT AS n_occurrences,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs
    FROM ph GROUP BY 1, 2
    ORDER BY score_micro DESC, phrase ASC LIMIT 100
    """,
)
def q251(spark, sf):
    """RAKE keyphrase extraction (quality.rake_keyphrases, Rose et al.
    2010): maximal stopword-free word runs scored by summed member
    deg/freq micro-scores — the candidate-term miner for KG node
    vocabularies. Gaps-and-islands phrase building, micro-integer word
    scores (ONE float op per distinct word), associative BIGINT phrase
    sums, corpus top-100 with deterministic tie-break."""
    from bran_spark.operators.quality import rake_keyphrases

    return rake_keyphrases(_t(spark, sf, "documents"), "doc_id", "text", top_n=100)


@_q(
    "q252_l_diversity",
    """
    WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n,
                      COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)
                           )::BIGINT AS ndv
               FROM customer GROUP BY 1, 2),
    a AS (SELECT SUM(n)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_groups,
                 MIN(ndv)::BIGINT AS min_diversity,
                 SUM(CASE WHEN ndv < 5 THEN 1 ELSE 0 END)::BIGINT
                   AS n_violating_groups,
                 SUM(CASE WHEN ndv < 5 THEN n ELSE 0 END)::BIGINT
                   AS n_violating_rows
          FROM g)
    SELECT n_rows, n_groups, min_diversity, n_violating_groups,
           n_violating_rows,
           ROUND(n_violating_rows / n_rows::DOUBLE, 6) AS violating_share,
           n_violating_groups = 0 AS l_satisfied
    FROM a
    """,
)
def q252(spark, sf):
    """l-diversity audit (contracts.l_diversity_audit, l=5) over the
    (nation, market-segment) quasi-identifier with the account-balance
    thousand-band as the sensitive attribute: a group that clears
    q229's k gate can still be HOMOGENEOUS in the secret — membership
    alone leaks it. Same QI-keyed shuffle shape as the k gate."""
    from bran_spark.operators.contracts import l_diversity_audit

    return l_diversity_audit(
        _t(spark, sf, "customer"),
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 1000.0).cast("long"),
        l_min=5,
    )


@_q(
    "q253_t_closeness",
    """
    WITH cell AS (SELECT c_nationkey, c_mktsegment,
                         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS v,
                         COUNT(*)::BIGINT AS n_gv
                  FROM customer GROUP BY 1, 2, 3),
    vd AS (SELECT v, SUM(n_gv)::BIGINT AS n_v FROM cell GROUP BY 1),
    tt AS (SELECT SUM(n_v)::BIGINT AS n_total FROM vd),
    pc AS (SELECT cell.c_nationkey, cell.c_mktsegment, cell.n_gv, vd.n_v,
                  tt.n_total,
                  SUM(n_gv) OVER (PARTITION BY c_nationkey, c_mktsegment
                                 )::BIGINT AS n_g
           FROM cell JOIN vd ON cell.v IS NOT DISTINCT FROM vd.v
           CROSS JOIN tt),
    grp AS (SELECT c_nationkey, c_mktsegment,
                   MAX(n_g)::BIGINT AS n_g, MAX(n_total)::BIGINT AS n_total,
                   SUM(abs(n_gv * n_total - n_v * n_g))::BIGINT
                     AS dev_present,
                   SUM(n_v)::BIGINT AS nv_present
            FROM pc GROUP BY 1, 2),
    g AS (SELECT n_g,
                 ROUND((dev_present + (n_total - nv_present) * n_g)
                       / (2.0 * n_g * n_total), 6) AS tvd
          FROM grp),
    a AS (SELECT SUM(n_g)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_groups,
                 MAX(tvd) AS max_tvd,
                 SUM((tvd > 0.35)::INT)::BIGINT AS n_violating_groups,
                 SUM(CASE WHEN tvd > 0.35 THEN n_g ELSE 0 END)::BIGINT
                   AS n_violating_rows
          FROM g)
    SELECT n_rows, n_groups, max_tvd, n_violating_groups, n_violating_rows,
           n_violating_groups = 0 AS t_satisfied
    FROM a
    """,
)
def q253(spark, sf):
    """t-closeness audit (contracts.t_closeness_audit, Li et al. ICDE
    2007, t=0.35) over the same release QI as q229/q252: per-QI-group
    total-variation distance to the corpus-wide sensitive distribution,
    as an exact BIGINT tree over the common denominator n_g·N (absent
    values contribute (N−Σ_present n_v)·n_g — no group×value cross join
    is materialized). Completes the k → l → t privacy-gate ladder."""
    from bran_spark.operators.contracts import t_closeness_audit

    return t_closeness_audit(
        _t(spark, sf, "customer"),
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 1000.0).cast("long"),
        t=0.35,
    )


# Platt twin helpers: the per-row probability expression (shared text so
# both engines evaluate the SAME float tree) and one unrolled Newton step.
_PLATT_PD = "(1.0/(1.0+exp(-(p.a*s.s+p.b))))"


def _platt_iter_sql(i: int) -> str:
    return f"""
    pl{i} AS MATERIALIZED (
      SELECT a_prev + CASE WHEN det <> 0.0
                           THEN (hbb*ga - hab*gb)/det ELSE 0.0 END AS a,
             b_prev + CASE WHEN det <> 0.0
                           THEN (haa*gb - hab*ga)/det ELSE 0.0 END AS b
      FROM (
        SELECT a_prev, b_prev,
               gam/10000000.0 AS ga, gbm/1000000.0 AS gb,
               haam/100000000.0 AS haa, habm/10000000.0 AS hab,
               hbbm/1000000.0 AS hbb,
               (haam/100000000.0)*(hbbm/1000000.0)
                 - (habm/10000000.0)*(habm/10000000.0) AS det
        FROM (
          SELECT MAX(a) AS a_prev, MAX(b) AS b_prev,
                 SUM(y*1000000 - pm)::BIGINT AS gbm,
                 SUM((y*1000000 - pm)*s10)::BIGINT AS gam,
                 SUM(wm)::BIGINT AS hbbm,
                 SUM(wm*s10)::BIGINT AS habm,
                 SUM(wm*s10*s10)::BIGINT AS haam
          FROM (
            SELECT s.label::BIGINT AS y,
                   CAST(round(s.s*10, 0) AS BIGINT) AS s10,
                   CAST(round({_PLATT_PD}*1000000.0, 0) AS BIGINT) AS pm,
                   CAST(round(({_PLATT_PD}*(1.0 - {_PLATT_PD}))*1000000.0, 0)
                        AS BIGINT) AS wm,
                   p.a, p.b
            FROM scored s CROSS JOIN pl{i - 1} p) t1) t2) t3
    )"""


_PLATT_PC = (
    f"least(greatest({_PLATT_PD}, 0.000000000001), 1.0 - 0.000000000001)"
)


@_q(
    "q254_platt_scaling",
    f"""
    WITH {_PIPE_CTES},
    pl0 AS (SELECT 0.0 AS a, 0.0 AS b),
    {_platt_iter_sql(1)},
    {_platt_iter_sql(2)},
    {_platt_iter_sql(3)},
    plf AS (
      SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS n_pos,
             MAX(a) AS a, MAX(b) AS b,
             SUM(pm)::BIGINT AS spm, SUM(llm)::BIGINT AS sllm
      FROM (
        SELECT s.label::BIGINT AS y, p.a, p.b,
               CAST(round({_PLATT_PD}*1000000.0, 0) AS BIGINT) AS pm,
               CAST(round((0.0 - (s.label*ln({_PLATT_PC})
                       + (1 - s.label)*ln(1.0 - {_PLATT_PC})))*1000000.0, 0)
                    AS BIGINT) AS llm
        FROM scored s CROSS JOIN pl3 p) t)
    SELECT n, n_pos, ROUND(a, 6) AS a, ROUND(b, 6) AS b,
           ROUND(spm/(n*1000000.0), 6) AS avg_p,
           ROUND(sllm/(n*1000000.0), 6) AS log_loss
    FROM plf
    """,
)
def q254(spark, sf):
    """Platt scaling (evaluate.platt_scaling, 3 Newton steps from
    (0,0)) of the synthetic pipeline's triple scores — the parametric
    rung of the calibration ladder next to q140's reliability bins and
    q228's isotonic fit. Every gradient/Hessian term is micro-rounded
    to a BIGINT before summation (FS idiom), so each step's 2×2 Newton
    solve is one fixed scalar tree and both engines walk the identical
    parameter trajectory; the twin unrolls the three steps as
    MATERIALIZED 1-row CTEs."""
    from bran_spark.operators.evaluate import platt_scaling

    return platt_scaling(
        _scored(spark, sf), score_col="s", label_col="label", iters=3,
        s_scale=10,
    )


@_q(
    "q255_bh_fdr",
    f"""
    WITH u AS (SELECT event_type AS segment, user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY 1, 2),
    k AS (SELECT segment, md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT segment, CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    g AS (SELECT segment,
                 SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END)::BIGINT AS q0,
                 SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END)::BIGINT AS q1
          FROM a GROUP BY 1),
    d AS (SELECT segment, n0, n1, s0, s1, q0, q1,
                 s0 / (n0::DOUBLE * 100.0) AS m0,
                 s1 / (n1::DOUBLE * 100.0) AS m1,
                 (n0 * q0 = s0 * s0) AND (n1 * q1 = s1 * s1) AS flat
          FROM g),
    e AS (SELECT segment, n0, n1, m0, m1, flat,
                 (n0 > 1) AND (n1 > 1) AND NOT flat AS ok,
                 sqrt(greatest((q0 / 10000.0 - n0::DOUBLE * m0 * m0)
                                / (n0::DOUBLE - 1), 0.0) / n0::DOUBLE
                      + greatest((q1 / 10000.0 - n1::DOUBLE * m1 * m1)
                                  / (n1::DOUBLE - 1), 0.0) / n1::DOUBLE)
                   AS se
          FROM d),
    seg AS (SELECT segment, n0 AS n_ctl, n1 AS n_trt,
                   ROUND(CASE WHEN n0 > 0 AND n1 > 0 THEN m1 - m0 END, 6)
                     AS diff,
                   ROUND(CASE WHEN ok THEN (m1 - m0) / se END, 6) AS z
            FROM e),
    pp AS (SELECT *,
                  CASE WHEN z IS NOT NULL
                       THEN CAST(round(2000000.0
                                       / (1.0 + exp(1.702 * abs(z))), 0)
                                 AS BIGINT)
                       ELSE 1000000 END AS p_micro
           FROM seg),
    ranked AS (SELECT *, COUNT(*) OVER ()::BIGINT AS m,
                      ROW_NUMBER() OVER (ORDER BY p_micro, segment)::BIGINT
                        AS rank
               FROM pp),
    p2 AS (SELECT *, CASE WHEN p_micro * m <= rank * 100000
                          THEN rank ELSE 0 END AS passed
           FROM ranked),
    ks AS (SELECT MAX(passed) AS kstar FROM p2)
    SELECT segment, n_ctl, n_trt, diff, z, p_micro, m,
           rank::INT AS rank, rank <= kstar AS rejected
    FROM p2 CROSS JOIN ks ORDER BY rank, segment
    """,
)
def q255(spark, sf):
    """Benjamini-Hochberg FDR gate (sampling.bh_fdr, q=0.10) across the
    per-event-type slices of the q214/q216 experiment: one segment-keyed
    integer aggregate yields each slice's Welch z; the two-sided p comes
    from the monotone logistic CDF approximation micro-rounded ONCE, so
    the BH inequality p_i ≤ i·q/m is the exact BIGINT compare
    p_micro·m ≤ i·q_micro. The m-row ranking windows run on the segment
    dimension (dimension-table legality)."""
    from bran_spark.operators.sampling import bh_fdr, md5_arm

    units = (
        _t(spark, sf, "events")
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(
            F.col("event_type").alias("segment"),
            md5_arm("user_id").alias("arm"),
            "y",
        )
    )
    return bh_fdr(units, q_micro=100000, scale=100)


@_q(
    "q256_mann_whitney",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY 1),
    k AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    hist AS (SELECT y AS v, COUNT(*)::BIGINT AS c,
                    SUM((arm = 1)::INT)::BIGINT AS c1
             FROM a GROUP BY 1),
    h AS (SELECT *, COALESCE(SUM(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS cb
          FROM hist),
    g AS (SELECT SUM(c)::BIGINT AS n, SUM(c1)::BIGINT AS n1,
                 SUM(c1 * (2 * cb + c + 1))::BIGINT AS r1x2,
                 SUM(c * c * c - c)::BIGINT AS tie_term,
                 COUNT(*)::BIGINT AS ndv
          FROM h),
    d AS (SELECT n, n1, (n - n1)::BIGINT AS n0, r1x2, tie_term, ndv,
                 (r1x2 - n1 * (n1 + 1))::DOUBLE AS u1x2
          FROM g),
    e AS (SELECT *,
                 n0::DOUBLE * n1::DOUBLE / 12.0
                   * ((n::DOUBLE + 1.0)
                      - tie_term::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0)))
                   AS var,
                 (n0 > 0) AND (n1 > 0) AND (ndv > 1) AS ok
          FROM d),
    f AS (SELECT n0 AS n_ctl, n1 AS n_trt,
                 ROUND(u1x2 / 2.0, 6) AS u_stat,
                 ROUND(CASE WHEN ok THEN (u1x2 - n0::DOUBLE * n1::DOUBLE)
                                         / (2.0 * sqrt(var)) END, 6) AS z
          FROM e)
    SELECT n_ctl, n_trt, u_stat, z,
           CASE WHEN z IS NOT NULL
                THEN CAST(round(2000000.0 / (1.0 + exp(1.702 * abs(z))), 0)
                          AS BIGINT)
                ELSE 1000000 END AS p_micro
    FROM f
    """,
)
def q256(spark, sf):
    """Mann-Whitney U readout (sampling.mann_whitney) on the q216
    experiment's per-user cents — the nonparametric companion for
    whale-dominated metrics. Doubled mid-ranks over the VALUE-level
    histogram keep every rank sum an exact BIGINT (2·cb+c+1 is integer
    even when the mid-rank is x.5); the tie-corrected z is one fixed
    scalar tree."""
    from bran_spark.operators.sampling import mann_whitney, md5_arm

    units = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(md5_arm("user_id").alias("arm"), "y")
    )
    return mann_whitney(units)


@_q(
    "q257_hearst_hypernyms",
    """
    WITH p AS (SELECT p_partkey AS k,
                      string_split(lower(p_name), ' ') AS ws,
                      lower(p_type) AS h,
                      'size' || p_size::VARCHAR AS sz
               FROM part),
    m AS (
      SELECT k AS doc_id, ws[1] AS hyponym, h AS hypernym,
             'such_as' AS pattern FROM p WHERE k % 4 = 0
      UNION ALL SELECT k, ws[2], h, 'such_as' FROM p WHERE k % 4 = 0
      UNION ALL SELECT k, sz, h, 'such_as' FROM p WHERE k % 4 = 0
      UNION ALL SELECT k, ws[1], h, 'and_other' FROM p WHERE k % 4 = 1
      UNION ALL SELECT k, ws[2], h, 'and_other' FROM p WHERE k % 4 = 1
      UNION ALL SELECT k, ws[1], h, 'including' FROM p WHERE k % 4 = 2
      UNION ALL SELECT k, ws[2], h, 'including' FROM p WHERE k % 4 = 2
      UNION ALL SELECT k, ws[1], h, 'especially' FROM p WHERE k % 4 = 3)
    SELECT hyponym, hypernym,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_mentions,
           array_to_string(list_sort(list(DISTINCT pattern)), ',')
             AS patterns
    FROM m GROUP BY 1, 2
    ORDER BY n_docs DESC, hyponym, hypernym
    """,
)
def q257(spark, sf):
    """Hearst-pattern hypernym harvest (extraction.hearst_hypernyms +
    hearst_support): is-a candidates mined by the four classic
    lexico-syntactic patterns in ONE scan-explode pass, aggregated to
    (hyponym, hypernym) edges with document support and the pattern
    set. The corpus is built deterministically from `part` (pattern
    chosen by p_partkey % 4, noun phrases from p_name/p_type tokens),
    so the twin derives the EXPECTED edges directly from the table —
    an independent oracle for the regex machinery, not a replay of it."""
    from bran_spark.operators.extraction import (
        hearst_hypernyms,
        hearst_support,
    )

    p = _t(spark, sf, "part")
    w = F.split(F.lower(F.col("p_name")), " ")
    h = F.lower(F.col("p_type"))
    sz = F.concat(F.lit("size"), F.col("p_size").cast("string"))
    k4 = F.col("p_partkey") % 4
    text = (
        F.when(
            k4 == 0,
            F.concat(
                h, F.lit(" such as "), w[0], F.lit(", "), w[1],
                F.lit(" and "), sz,
            ),
        )
        .when(
            k4 == 1,
            F.concat(w[0], F.lit(", "), w[1], F.lit(" and other "), h),
        )
        .when(k4 == 2, F.concat(h, F.lit(" including "), w[0], F.lit(" and "), w[1]))
        .otherwise(F.concat(h, F.lit(" especially "), w[0]))
    )
    docs = p.select(F.col("p_partkey").alias("doc_id"), text.alias("text"))
    return hearst_support(hearst_hypernyms(docs))


@_q(
    "q258_schema_match",
    """
    WITH lv AS (
      SELECT DISTINCT left_col, v FROM (
        SELECT 'c_custkey' AS left_col, c_custkey::VARCHAR AS v FROM customer
        UNION ALL SELECT 'c_name', c_name FROM customer
        UNION ALL SELECT 'c_nationkey', c_nationkey::VARCHAR FROM customer
        UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer) t
      WHERE v IS NOT NULL),
    rv AS (
      SELECT DISTINCT right_col, v FROM (
        SELECT 's_suppkey' AS right_col, s_suppkey::VARCHAR AS v
        FROM supplier
        UNION ALL SELECT 's_name', s_name FROM supplier
        UNION ALL SELECT 's_nationkey', s_nationkey::VARCHAR FROM supplier
        ) t
      WHERE v IS NOT NULL),
    ls AS (SELECT left_col, COUNT(*)::BIGINT AS n_left FROM lv GROUP BY 1),
    rs AS (SELECT right_col, COUNT(*)::BIGINT AS n_right FROM rv GROUP BY 1),
    i AS (SELECT left_col, right_col, COUNT(*)::BIGINT AS n_common
          FROM lv JOIN rv USING (v) GROUP BY 1, 2),
    mx AS (SELECT ls.left_col, rs.right_col, n_left, n_right,
                  COALESCE(n_common, 0)::BIGINT AS n_common
           FROM ls CROSS JOIN rs
           LEFT JOIN i ON i.left_col = ls.left_col
                      AND i.right_col = rs.right_col)
    SELECT left_col, right_col, n_left, n_right, n_common,
           ROUND(n_common / (n_left + n_right - n_common)::DOUBLE, 6)
             AS jaccard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY left_col
             ORDER BY ROUND(n_common
                            / (n_left + n_right - n_common)::DOUBLE, 6)
                        DESC, right_col) AS INT) AS rank
    FROM mx ORDER BY left_col, rank
    """,
)
def q258(spark, sf):
    """Instance-based schema matching (contracts.schema_match):
    customer × supplier column candidates scored by distinct-value-set
    Jaccard — finds s_nationkey ≡ c_nationkey (and the suppkey/custkey
    integer-domain overlap) with zero name similarity. One melt scan
    per side, one value-keyed join, column-dimension crossJoin for the
    full matrix."""
    from bran_spark.operators.contracts import schema_match

    return schema_match(
        _t(spark, sf, "customer"),
        _t(spark, sf, "supplier"),
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        ["s_suppkey", "s_name", "s_nationkey"],
    )


@_q(
    "q259_distmult_eval",
    _KG_TRIPLES_SQL
    + f"""
    , e AS MATERIALIZED (SELECT DISTINCT ent FROM
              (SELECT subj AS ent FROM t UNION SELECT obj FROM t)),
    test AS (SELECT subj, pred, obj FROM t
             WHERE ({_MD5INT8.format(x="subj || '|' || pred || '|' || obj")})
                   % 1000 = 0),
    cand AS (SELECT test.subj, test.pred, test.obj, e.ent AS cand
             FROM test JOIN e ON substr(e.ent, 1, 1) = substr(test.obj, 1, 1)),
    kept AS (SELECT c.* FROM cand c LEFT JOIN t t2
               ON t2.subj = c.subj AND t2.pred = c.pred AND t2.obj = c.cand
             WHERE c.cand = c.obj OR t2.subj IS NULL),
    names AS (SELECT ent AS s FROM e UNION SELECT DISTINCT pred FROM t),
    emb AS MATERIALIZED (SELECT s,
             list_transform(range(8),
                            j -> CAST({_EMB_COMP} AS BIGINT)) AS v
           FROM names),
    scored AS MATERIALIZED (
      SELECT k.subj, k.pred, k.obj, k.cand,
             CAST(list_sum(list_transform(range(8),
                    i -> es.v[i + 1] * ep.v[i + 1] * ec.v[i + 1]))
                  AS BIGINT) AS score
      FROM kept k
      JOIN emb es ON es.s = k.subj
      JOIN emb ep ON ep.s = k.pred
      JOIN emb ec ON ec.s = k.cand),
    ts AS MATERIALIZED (SELECT subj, pred, obj, score AS true_score
           FROM scored WHERE cand = obj),
    ranks AS (
      SELECT s.subj, s.pred, s.obj,
             CAST(1 + SUM(CASE WHEN s.cand <> s.obj
                           AND (s.score > ts.true_score
                                OR (s.score = ts.true_score
                                    AND s.cand < s.obj))
                          THEN 1 ELSE 0 END) AS BIGINT) AS rnk
      FROM scored s JOIN ts USING (subj, pred, obj)
      GROUP BY 1, 2, 3)
    SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS hits_at_k,
           ROUND(SUM(CAST(ROUND(1000000.0 / rnk) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS mrr,
           ROUND(SUM(rnk) / COUNT(*)::DOUBLE, 2) AS mean_rank
    FROM ranks GROUP BY pred
    """,
)
def q259(spark, sf):
    """DistMult ranking eval (kglearn.transe_rank_eval with
    model="distmult"; Yang et al., ICLR 2015): the bilinear-diagonal
    energy Σ e(s)·e(p)·e(c) ranked DESCENDING through the SAME filtered
    candidate/ranking dataflow as q248's TransE — the two classic KGE
    geometries share one operator, differing only in the scorer and the
    rank direction. Exact BIGINT scores (|component| ≤ 1000 ⇒ per-dim
    product ≤ 10⁹, 8-dim sum ≤ 8·10⁹)."""
    from bran_spark.operators.kglearn import transe_rank_eval

    return transe_rank_eval(
        _kg_relational_triples(spark, sf), model="distmult",
        assume_distinct=True,
    )


def _wl_round_sql(r: int) -> str:
    sig = "c.c::VARCHAR || '|' || COALESCE(n.sig, '')"
    return f"""
    n{r} AS (SELECT sym.u AS node,
                    array_to_string(list_sort(list(p.c)), ',') AS sig
             FROM sym JOIN c{r - 1} p ON p.node = sym.v GROUP BY sym.u),
    c{r} AS MATERIALIZED (
      SELECT c.node, CAST(({_MD5INT8.format(x=sig)}) AS BIGINT) AS c
      FROM c{r - 1} c LEFT JOIN n{r} n USING (node)),
    s{r} AS (SELECT CAST({r} AS INT) AS round,
                    COUNT(*)::BIGINT AS n_colors,
                    MAX(n)::BIGINT AS max_class
             FROM (SELECT c, COUNT(*)::BIGINT AS n FROM c{r} GROUP BY c) t)"""


@_q(
    "q260_wl_refinement",
    _FX_PAIRS_SQL
    + f"""
    , c0 AS MATERIALIZED (SELECT u AS node, COUNT(*)::BIGINT AS c
                          FROM sym GROUP BY u),
    s0 AS (SELECT CAST(0 AS INT) AS round, COUNT(*)::BIGINT AS n_colors,
                  MAX(n)::BIGINT AS max_class
           FROM (SELECT c, COUNT(*)::BIGINT AS n FROM c0 GROUP BY c) t),
    {_wl_round_sql(1)},
    {_wl_round_sql(2)}
    SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
    ORDER BY round
    """,
)
def q260(spark, sf):
    """Weisfeiler-Lehman color refinement (graphalgo.wl_refinement, 2
    rounds) on the symmetric co-occurrence graph: degree seed colors,
    then hash(own color | sorted neighbor colors) per round — the 1-WL
    canonical signature behind WL kernels and the GNN expressiveness
    bound. Reports the per-round color histogram summary (n_colors,
    max_class); twin unrolls both rounds with the same md5 color hash."""
    from bran_spark.operators.graphalgo import symmetric_edges, wl_refinement

    return wl_refinement(
        symmetric_edges(_fx_entity_pairs(spark, sf)), rounds=2
    )


@_q(
    "q261_butterfly_count",
    """
    WITH e AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
               FROM lineitem),
    st AS (SELECT r, COUNT(*)::BIGINT AS d FROM e GROUP BY r),
    base AS (SELECT COUNT(*)::BIGINT AS n_right, SUM(d)::BIGINT AS n_edges,
                    SUM((d * (d - 1)) // 2)::BIGINT AS n_wedges
             FROM st),
    nl AS (SELECT COUNT(DISTINCT l)::BIGINT AS n_left FROM e),
    cd AS (SELECT a.l AS u1, b.l AS u2, COUNT(*)::BIGINT AS cd
           FROM e a JOIN e b ON a.r = b.r AND a.l < b.l GROUP BY 1, 2),
    bf AS (SELECT COALESCE(SUM((cd * (cd - 1)) // 2),
                           0)::BIGINT AS n_butterflies
           FROM cd)
    SELECT n_left, n_right, n_edges, n_wedges, n_butterflies
    FROM nl CROSS JOIN base CROSS JOIN bf
    """,
)
def q261(spark, sf):
    """Bipartite butterfly census (graphalgo.butterfly_count) on the
    order×part incidence graph — the 2×2-biclique motif count behind
    bipartite clustering coefficients and dense-subgraph peeling.
    Wedges pivot on the part side (C(d,2) bound, df-cut knob for hot
    pivots); every count is an exact associative BIGINT sum."""
    from bran_spark.operators.graphalgo import butterfly_count

    li = _t(spark, sf, "lineitem")
    return butterfly_count(
        li.select(
            F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("v")
        )
    )


@_q(
    "q262_bgp_match",
    _KG_TRIPLES_SQL
    + """
    SELECT DISTINCT t2.subj AS c, t2.obj AS n, t1.subj AS o, t3.obj AS s
    FROM t t1, t t2, t t3, t t4
    WHERE t1.pred = 'placed_by' AND t2.pred = 'in_nation'
      AND t3.pred = 'uses_supplier' AND t4.pred = 'in_nation'
      AND t1.obj = t2.subj      -- ?c
      AND t1.subj = t3.subj     -- ?o
      AND t3.obj = t4.subj      -- ?s
      AND t2.obj = t4.obj       -- ?n (the cycle)
    """,
)
def q262(spark, sf):
    """SPARQL basic-graph-pattern evaluation (kgquality.bgp_match): the
    cyclic 4-pattern query "orders whose customer and supplier share a
    nation" — ?o placed_by ?c . ?c in_nation ?n . ?o uses_supplier ?s .
    ?s in_nation ?n — compiled to filtered triple projections natural-
    joined on shared variables. star_pattern (q150) is the semi-join
    special case; this is the general conjunctive matcher a KG store
    must answer."""
    from bran_spark.operators.kgquality import bgp_match

    return bgp_match(
        _kg_relational_triples(spark, sf),
        [
            ("?o", "placed_by", "?c"),
            ("?c", "in_nation", "?n"),
            ("?o", "uses_supplier", "?s"),
            ("?s", "in_nation", "?n"),
        ],
    )


@_q(
    "q263_ccnet_buckets",
    """
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), ' +') AS ws
               FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
    freq AS (SELECT w, COUNT(*)::DOUBLE AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS tot FROM freq),
    lp AS (SELECT doc_id, ROUND(AVG(ln(c / tot)) + 1e-9, 6) AS logprob
           FROM tok JOIN freq USING (w), tot GROUP BY doc_id),
    j AS (SELECT lp.doc_id, documents.lang, lp.logprob,
                 CAST(round(lp.logprob * 1000000.0, 0) AS BIGINT) AS lpm
          FROM lp JOIN documents USING (doc_id)),
    b AS (SELECT lang, lpm,
                 CAST(ntile(3) OVER (PARTITION BY lang
                                     ORDER BY logprob DESC, doc_id) AS INT)
                   AS bucket_rank
          FROM j),
    g AS (SELECT lang, bucket_rank, COUNT(*)::BIGINT AS n_docs,
                 ROUND(SUM(lpm) / (COUNT(*) * 1000000.0), 6) AS avg_logprob
          FROM b GROUP BY lang, bucket_rank),
    g2 AS (SELECT *, MAX(bucket_rank) OVER (PARTITION BY lang) AS maxr
           FROM g)
    SELECT lang,
           CASE WHEN bucket_rank = 1 THEN 'head'
                WHEN bucket_rank = maxr THEN 'tail'
                ELSE 'middle' END AS bucket,
           bucket_rank, n_docs, avg_logprob
    FROM g2 ORDER BY lang, bucket_rank
    """,
)
def q263(spark, sf):
    """CCNet-style per-language perplexity bucketing (quality.
    ccnet_buckets, Wenzek et al. 2020): head/middle/tail thirds by the
    unigram perplexity proxy, ntile over a total 6-dp order, per-bucket
    mean log-prob from exact micro-integer sums — the curation knob
    where head feeds pretraining and tail is dropped."""
    from bran_spark.operators.quality import ccnet_buckets

    return ccnet_buckets(_t(spark, sf, "documents"))


@_q(
    "q264_cmh_test",
    f"""
    WITH u AS (SELECT event_type AS k, user_id AS uid,
                      COUNT(*)::BIGINT AS cnt
               FROM events GROUP BY 1, 2),
    hx AS (SELECT k, md5(uid::VARCHAR) AS h, cnt FROM u),
    a0 AS (SELECT k, CAST(({_HEX8_SQL}) % 2 AS INT) AS e,
                  CASE WHEN cnt >= 2 THEN 1 ELSE 0 END AS y
           FROM hx),
    g AS (SELECT k, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS a,
                 SUM(CASE WHEN e = 1 THEN 1 ELSE 0 END)::BIGINT AS r1,
                 SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
          FROM a0 GROUP BY k HAVING COUNT(*) > 1),
    m AS (SELECT k, n, a, r1, c1,
                 CAST(round(r1 * c1 * 1000000.0 / CAST(n AS DOUBLE), 0)
                      AS BIGINT) AS em,
                 CAST(round(CAST(r1 AS DOUBLE) * (n - r1) * c1 * (n - c1)
                            * 1000000.0
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0)), 0)
                      AS BIGINT) AS vm
          FROM g),
    t AS (SELECT COUNT(*)::BIGINT AS n_strata, SUM(n)::BIGINT AS n_units,
                 SUM(a)::BIGINT AS sum_a, SUM(em)::BIGINT AS sem,
                 SUM(vm)::BIGINT AS svm
          FROM m),
    zz AS (SELECT n_strata, n_units, sum_a,
                  ROUND(CASE WHEN svm > 0
                             THEN (sum_a - sem / 1000000.0)
                                  / sqrt(svm / 1000000.0) END, 6) AS z
           FROM t)
    SELECT n_strata, n_units, sum_a, z,
           CASE WHEN z IS NOT NULL
                THEN CAST(round(2000000.0 / (1.0 + exp(1.702 * abs(z))), 0)
                          AS BIGINT)
                ELSE 1000000 END AS p_micro
    FROM zz
    """,
)
def q264(spark, sf):
    """Cochran-Mantel-Haenszel stratified 2×2 test (evaluate.cmh_test)
    of arm × engagement across event-type strata: per-stratum expected
    counts and hypergeometric variances micro-rounded to BIGINTs before
    the cross-strata sum, then one fixed scalar tree — the
    Simpson's-paradox-safe readout for a binary outcome."""
    from bran_spark.operators.evaluate import cmh_test
    from bran_spark.operators.sampling import md5_arm

    units = (
        _t(spark, sf, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.col("event_type").alias("stratum"),
            md5_arm("user_id").alias("exposure"),
            (F.col("cnt") >= 2).cast("int").alias("outcome"),
        )
    )
    return cmh_test(units)


@_q(
    "q265_chi_square",
    """
    WITH cells AS (SELECT COALESCE(source, '__null__') AS r,
                          COALESCE(lang, '__null__') AS c,
                          COUNT(*)::BIGINT AS o
                   FROM documents GROUP BY 1, 2),
    rm AS (SELECT r, SUM(o)::BIGINT AS rn FROM cells GROUP BY r),
    cm AS (SELECT c, SUM(o)::BIGINT AS cn FROM cells GROUP BY c),
    tot AS (SELECT SUM(o)::BIGINT AS n FROM cells),
    fl AS (SELECT rm.r, cm.c, rm.rn, cm.cn,
                  COALESCE(cells.o, 0)::BIGINT AS o, tot.n
           FROM rm CROSS JOIN cm
           LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c
           CROSS JOIN tot),
    agg AS (SELECT MAX(n)::BIGINT AS n,
                   ((COUNT(DISTINCT r) - 1)
                    * (COUNT(DISTINCT c) - 1))::BIGINT AS df,
                   SUM(CAST(round((o - rn * cn / CAST(n AS DOUBLE))
                                  * (o - rn * cn / CAST(n AS DOUBLE))
                                  / (rn * cn / CAST(n AS DOUBLE))
                                  * 1000000.0, 0) AS BIGINT))::BIGINT AS stm
            FROM fl),
    zz AS (SELECT n, df, ROUND(stm / 1000000.0, 6) AS chi2,
                  ROUND(CASE WHEN df > 0 THEN
                        (cbrt((stm / 1000000.0) / CAST(df AS DOUBLE))
                         - (1.0 - 2.0 / (9.0 * CAST(df AS DOUBLE))))
                        / sqrt(2.0 / (9.0 * CAST(df AS DOUBLE))) END, 6) AS z
           FROM agg)
    SELECT n, df, chi2, z,
           CASE WHEN z IS NOT NULL
                THEN CAST(round(1000000.0 / (1.0 + exp(1.702 * z)), 0)
                          AS BIGINT)
                ELSE 1000000 END AS p_micro
    FROM zz
    """,
)
def q265(spark, sf):
    """Pearson chi-square independence test (evaluate.
    chi_square_independence) of the corpus's source × language
    contingency — the first datacard association check. Empty cells
    count toward expectation via the margins cross join; per-cell terms
    are micro-integers; p maps the Wilson-Hilferty cube-root normal
    approximation through the logistic CDF (upper tail)."""
    from bran_spark.operators.evaluate import chi_square_independence

    return chi_square_independence(
        _t(spark, sf, "documents"), "source", "lang"
    )


# node2vec twin helpers: micro bias weights for (p=4, q=0.25) and one
# unrolled second-order step (Gumbel-max selection, 6-dp rounded scores,
# tie-break to the larger node id via struct compare)
_N2V_INV_P, _N2V_INV_Q = 250000, 4000000


def _n2v_step_sql(t: int) -> str:
    coin = _MD5INT8.format(
        x="st.start || ':' || st.cur || ':' || w || ':' "
        f"|| CAST(st.walk_id AS VARCHAR) || ':' || '{t}'"
    )
    return f"""
    s{t} AS MATERIALIZED (
      SELECT st.start, st.walk_id, st.cur AS prev,
             struct_extract(list_max(list_transform(ac.nbrs, w ->
               {{'s': round(ln(CAST(CASE WHEN w = st.prev THEN {_N2V_INV_P}
                                 WHEN list_contains(ap.nbrs, w) THEN 1000000
                                 ELSE {_N2V_INV_Q} END AS DOUBLE))
                      + (-ln(-ln(((({coin}) % 1000000) + 0.5)
                                 / 1000000.0))), 6),
                'w': w}})), 'w') AS cur
      FROM s{t - 1} st
      JOIN adj ac ON ac.u = st.cur
      JOIN adj ap ON ap.u = st.prev)"""


@_q(
    "q266_node2vec_walks",
    _FX_PAIRS_SQL
    + f"""
    , adj AS MATERIALIZED (SELECT u, list_sort(list(DISTINCT v)) AS nbrs
                           FROM sym GROUP BY u),
    w0 AS (SELECT u AS start, CAST(unnest(range(2)) AS INT) AS walk_id,
                  u AS cur
           FROM adj),
    s1 AS MATERIALIZED (
      SELECT w0.start, w0.walk_id, w0.cur AS prev,
             adj.nbrs[CAST(({_MD5INT8.format(
                 x="w0.cur || ':' || CAST(w0.walk_id AS VARCHAR) || ':' || '1'")})
                 % len(adj.nbrs) AS INT) + 1] AS cur
      FROM w0 JOIN adj ON adj.u = w0.cur),
    {_n2v_step_sql(2)},
    {_n2v_step_sql(3)}
    SELECT start, walk_id, CAST(0 AS INT) AS step, cur AS node FROM w0
    UNION ALL
    SELECT start, walk_id, CAST(1 AS INT), cur FROM s1
    UNION ALL
    SELECT start, walk_id, CAST(2 AS INT), cur FROM s2
    UNION ALL
    SELECT start, walk_id, CAST(3 AS INT), cur FROM s3
    """,
)
def q266(spark, sf):
    """node2vec second-order biased walks (graphalgo.node2vec_walks,
    p=4, q=0.25 — the outward/DFS corner of the dial) on the symmetric
    co-occurrence graph: per-candidate return/local/outward micro
    weights sampled EXACTLY proportionally via the deterministic
    Gumbel-max trick (argmax of ln(weight) + Gumbel(md5 coin), 6-dp
    rounded, id tie-break) — no cumulative-sum scan, one array_max per
    frontier row. Step 1 is first-order uniform per the paper."""
    from bran_spark.operators.graphalgo import node2vec_walks, symmetric_edges

    return node2vec_walks(
        symmetric_edges(_fx_entity_pairs(spark, sf)),
        p=4.0, q=0.25, n_walks=2, walk_len=3,
    )


@_q(
    "q267_fairness_audit",
    """
    WITH u AS (SELECT lang AS grp,
                      CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y,
                      CASE WHEN len(string_split_regex(trim(lower(text)),
                                                       ' +')) >= 80
                           THEN 1 ELSE 0 END AS p
               FROM documents),
    g AS (SELECT grp, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS n_pos,
                 SUM(p)::BIGINT AS n_sel,
                 SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_tp,
                 SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_fp
          FROM u GROUP BY grp),
    r AS (SELECT grp, n, n_pos,
                 ROUND(n_sel / n::DOUBLE, 6) AS pred_rate,
                 ROUND(n_pos / n::DOUBLE, 6) AS base_rate,
                 ROUND(CASE WHEN n_pos > 0
                            THEN n_tp / n_pos::DOUBLE END, 6) AS tpr,
                 ROUND(CASE WHEN n - n_pos > 0
                            THEN n_fp / (n - n_pos)::DOUBLE END, 6) AS fpr
          FROM g)
    SELECT grp, n, n_pos, pred_rate, base_rate, tpr, fpr,
           ROUND(MAX(pred_rate) OVER () - pred_rate, 6) AS dp_gap,
           CASE WHEN tpr IS NOT NULL
                THEN ROUND(MAX(tpr) OVER () - tpr, 6) END AS tpr_gap
    FROM r ORDER BY grp
    """,
)
def q267(spark, sf):
    """Group-fairness audit (contracts.fairness_audit) of a length-proxy
    quality filter (pred: ≥80 tokens) against the long-document label
    (≥500 chars) across languages — selection rate, TPR, FPR per
    language plus each language's gap to the best-off one. The datacard
    row that stops a filter from silently reshaping the language mix."""
    from bran_spark.operators.contracts import fairness_audit

    d = _t(spark, sf, "documents").select(
        F.col("lang"),
        (F.col("n_chars") >= 500).cast("int").alias("y"),
        (
            F.size(F.split(F.trim(F.lower(F.col("text"))), " +")) >= 80
        ).cast("int").alias("p"),
    )
    return fairness_audit(d, "lang", "y", "p")


@_q(
    "q268_calibration_summary",
    f"""
    WITH {_PIPE_CTES},
    pr AS (SELECT label, (s + 10.0) / 20.0 AS p FROM scored),
    rws AS (SELECT least(19, CAST(floor(p * 20) AS INT)) AS bin,
                   label::BIGINT AS y,
                   CAST(round(p * 1000000.0, 0) AS BIGINT) AS pm,
                   CAST(round((p - label) * (p - label) * 1000000.0, 0)
                        AS BIGINT) AS bm
            FROM pr),
    bins AS (SELECT bin, COUNT(*)::BIGINT AS nb, SUM(y)::BIGINT AS sy,
                    SUM(pm)::BIGINT AS spm, SUM(bm)::BIGINT AS sbm
             FROM rws GROUP BY bin),
    m AS (SELECT bin, nb, sy, spm, sbm,
                 CAST(round(abs(sy / nb::DOUBLE - spm / (nb * 1000000.0))
                            * 1000000.0, 0) AS BIGINT) AS gap_m,
                 CAST(round((spm / (nb * 1000000.0) - sy / nb::DOUBLE)
                            * (spm / (nb * 1000000.0) - sy / nb::DOUBLE)
                            * 1000000.0, 0) AS BIGINT) AS sq_m,
                 CAST(round((sy / nb::DOUBLE) * (sy / nb::DOUBLE)
                            * 1000000.0, 0) AS BIGINT) AS acc2_m
          FROM bins),
    t AS (SELECT SUM(nb)::BIGINT AS n, COUNT(*)::BIGINT AS n_bins_used,
                 SUM(sy)::BIGINT AS sy_all, SUM(sbm)::BIGINT AS sbm_all,
                 SUM(nb * gap_m)::BIGINT AS ece_m,
                 MAX(gap_m)::BIGINT AS mce_m,
                 SUM(nb * sq_m)::BIGINT AS rel_m,
                 SUM(nb * acc2_m)::BIGINT AS acc2_all
          FROM m)
    SELECT n, n_bins_used,
           ROUND(ece_m / (n * 1000000.0), 6) AS ece,
           ROUND(mce_m / 1000000.0, 6) AS mce,
           ROUND(sbm_all / (n * 1000000.0), 6) AS brier,
           ROUND(rel_m / (n * 1000000.0), 6) AS reliability,
           ROUND(greatest(acc2_all / (n * 1000000.0)
                          - (sy_all / n::DOUBLE) * (sy_all / n::DOUBLE),
                          0.0), 6) AS resolution,
           ROUND((sy_all / n::DOUBLE) * (1.0 - sy_all / n::DOUBLE), 6)
             AS uncertainty
    FROM t
    """,
)
def q268(spark, sf):
    """Scalar calibration verdict (evaluate.calibration_summary, 20
    bins) on the synthetic scored pipeline: ECE / MCE / Brier plus
    Murphy's binned reliability-resolution-uncertainty decomposition —
    the one-row summary printed next to q140's diagram, q228's isotonic
    fit and q254's Platt fit. Every metric is a fixed scalar tree over
    micro-rounded BIGINT bin sums."""
    from bran_spark.operators.evaluate import calibration_summary

    pr = _scored(spark, sf).select(
        "label", ((F.col("s") + 10.0) / 20.0).alias("p")
    )
    return calibration_summary(pr, "p", "label", n_bins=20)


@_q(
    "q269_hub_ablation",
    _FX_PAIRS_SQL
    + """
    , und AS (SELECT DISTINCT u, v FROM sym WHERE u < v),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    deg AS (SELECT u, COUNT(*)::BIGINT AS d FROM sym GROUP BY u),
    hubs AS (SELECT u FROM deg ORDER BY d DESC, u LIMIT 20),
    r0 AS (
      WITH RECURSIVE rr(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT CASE WHEN e.u = rr.node THEN e.v ELSE e.u END, rr.lab
        FROM rr JOIN und e ON e.u = rr.node OR e.v = rr.node
      ) SELECT node, MIN(lab) AS comp FROM rr GROUP BY node),
    s0 AS (SELECT comp, COUNT(*)::BIGINT AS sz FROM r0 GROUP BY comp),
    b0 AS (SELECT 'before' AS phase,
                  SUM(sz)::BIGINT AS n_nodes,
                  (SELECT COUNT(*)::BIGINT FROM und) AS n_edges,
                  COUNT(*)::BIGINT AS n_components,
                  MAX(sz)::BIGINT AS largest_cc
           FROM s0),
    keepn AS (SELECT node FROM nodes
              WHERE node NOT IN (SELECT u FROM hubs)),
    e1 AS (SELECT u, v FROM und
           WHERE u NOT IN (SELECT u FROM hubs)
             AND v NOT IN (SELECT u FROM hubs)),
    r1 AS (
      WITH RECURSIVE rr(node, lab) AS (
        SELECT node, node FROM keepn
        UNION
        SELECT CASE WHEN e.u = rr.node THEN e.v ELSE e.u END, rr.lab
        FROM rr JOIN e1 e ON e.u = rr.node OR e.v = rr.node
      ) SELECT node, MIN(lab) AS comp FROM rr GROUP BY node),
    s1 AS (SELECT comp, COUNT(*)::BIGINT AS sz FROM r1 GROUP BY comp),
    b1 AS (SELECT 'after' AS phase,
                  SUM(sz)::BIGINT AS n_nodes,
                  (SELECT COUNT(*)::BIGINT FROM e1) AS n_edges,
                  COUNT(*)::BIGINT AS n_components,
                  MAX(sz)::BIGINT AS largest_cc
           FROM s1)
    SELECT * FROM b0 UNION ALL SELECT * FROM b1 ORDER BY phase DESC
    """,
)
def q269(spark, sf):
    """Targeted-attack resilience audit (graphalgo.hub_ablation, k=20,
    Albert-Jeong-Barabási): component structure of the co-occurrence
    graph before vs after removing the 20 highest-degree hubs —
    all-neighbors-were-hubs survivors count as singletons. Tells a KG
    operator whether connectivity-derived features hang on a handful of
    promiscuous (usually artifact) entities."""
    from bran_spark.operators.graphalgo import hub_ablation, symmetric_edges

    return hub_ablation(symmetric_edges(_fx_entity_pairs(spark, sf)), k=20)


# --- r5 session-3 additions: KG fusion diagnostics, centrality, ---------
# --- experiment-stats closures, and a financial-feed quality screen -----


@_q(
    "q270_inverse_predicates",
    f"""
    WITH t AS (
      SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_UNION_SQL}
        UNION ALL
        SELECT 'S:' || l_suppkey, 'supplies', 'P:' || l_partkey
        FROM lineitem
        UNION ALL
        SELECT 'S:' || a.s_suppkey, 'colleague_of', 'S:' || b.s_suppkey
        FROM supplier a JOIN supplier b
          ON a.s_nationkey = b.s_nationkey
         AND a.s_suppkey <> b.s_suppkey)
    ),
    ext AS (SELECT DISTINCT pred, subj, obj FROM t),
    sizes AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n
              FROM ext GROUP BY pred),
    common AS (SELECT a.pred AS p1, b.pred AS p2,
                      CAST(COUNT(*) AS BIGINT) AS n_common
               FROM ext a JOIN ext b
                 ON a.subj = b.obj AND a.obj = b.subj
               WHERE a.pred < b.pred
                  OR (a.pred = b.pred AND a.subj <> a.obj)
               GROUP BY a.pred, b.pred
               HAVING COUNT(*) >= 1)
    SELECT c.p1, c.p2, c.n_common, s1.n AS n1, s2.n AS n2,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (s1.n + s2.n - c.n_common), 6) AS jaccard,
           ROUND(CAST(c.n_common AS DOUBLE) / LEAST(s1.n, s2.n), 6)
             AS containment
    FROM common c
    JOIN sizes s1 ON s1.pred = c.p1
    JOIN sizes s2 ON s2.pred = c.p2
    """,
)
def q270(spark, sf):
    """Inverse-predicate detection (graphalgo.inverse_predicates) over
    the lifted KG plus an exact inverse feed ('supplies' = reversed
    supplied_by → containment 1.0) and a symmetric relation
    ('colleague_of' between same-nation suppliers → diagonal
    reciprocity row at containment 1.0) — the PARIS alignment axis
    q142's direct-overlap scorer is blind to: two feeds asserting the
    same relation in opposite directions."""
    from bran_spark.operators.graphalgo import inverse_predicates

    li = _t(spark, sf, "lineitem")
    supplies = li.select(
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("obj"),
    )
    sup = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    colleagues = (
        sup.alias("a")
        .join(
            F.broadcast(sup.alias("b")),
            (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.s_suppkey") != F.col("b.s_suppkey")),
        )
        .select(
            F.concat(F.lit("S:"), F.col("a.s_suppkey").cast("string")).alias(
                "subj"
            ),
            F.lit("colleague_of").alias("pred"),
            F.concat(F.lit("S:"), F.col("b.s_suppkey").cast("string")).alias(
                "obj"
            ),
        )
    )
    triples = (
        _kg_relational_triples(spark, sf)
        .unionByName(supplies)
        .unionByName(colleagues)
    )
    return inverse_predicates(triples)


@_q(
    "q271_entity_summarization",
    _KG_TRIPLES_SQL
    + """
    , bp AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pred
             FROM t GROUP BY pred),
    bpo AS (SELECT pred, obj, CAST(COUNT(*) AS BIGINT) AS n_po
            FROM t GROUP BY pred, obj),
    sc AS (SELECT t.subj, t.pred, t.obj, bp.n_pred, bpo.n_po,
                  CAST(bp.n_pred * bpo.n_po AS BIGINT) AS ic_key
           FROM t
           JOIN bp USING (pred)
           JOIN bpo ON bpo.pred = t.pred AND bpo.obj = t.obj),
    r AS (SELECT subj, pred, obj, n_pred, n_po,
                 ROW_NUMBER() OVER (PARTITION BY subj
                                    ORDER BY ic_key ASC, pred ASC, obj ASC)
                   AS rank
          FROM sc)
    SELECT subj, rank, pred, obj, n_pred, n_po FROM r WHERE rank <= 3
    """,
)
def q271(spark, sf):
    """Top-3 fact summarization per entity (kgquality.entity_summarization,
    RELIN lineage) over the lifted KG: rank every (pred, obj) fact by the
    exact-integer informativeness key n_pred·n_po (monotone in the IC
    score ln(N²/(n_pred·n_po))) and keep each subject's 3 most
    distinctive facts — the entity-card generator for a serving layer or
    an LLM prompt assembler."""
    from bran_spark.operators.kgquality import entity_summarization

    return entity_summarization(
        _kg_relational_triples(spark, sf), k=3, assume_distinct=True
    )


@_q(
    "q272_capture_recapture",
    """
    WITH a AS (SELECT DISTINCT subj, pred, obj FROM (
        SELECT 'P:' || l_partkey AS subj, 'supplied_by' AS pred,
               'S:' || l_suppkey AS obj
        FROM lineitem WHERE l_quantity > 10
        UNION ALL
        SELECT 'O:' || l_orderkey, 'contains', 'P:' || l_partkey
        FROM lineitem WHERE l_linenumber <= 4
        UNION ALL
        SELECT 'O:' || o_orderkey, 'placed_by', 'C:' || o_custkey
        FROM orders)),
    b AS (SELECT DISTINCT subj, pred, obj FROM (
        SELECT 'P:' || l_partkey AS subj, 'supplied_by' AS pred,
               'S:' || l_suppkey AS obj
        FROM lineitem WHERE l_quantity < 45
        UNION ALL
        SELECT 'O:' || l_orderkey, 'contains', 'P:' || l_partkey
        FROM lineitem WHERE l_linenumber >= 2)),
    na AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY pred),
    nb AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY pred),
    m AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS nboth
          FROM a JOIN b USING (pred, subj, obj) GROUP BY pred),
    j AS (SELECT COALESCE(na.pred, nb.pred) AS pred, n_a, n_b
          FROM na FULL JOIN nb ON na.pred = nb.pred),
    e AS (SELECT j.pred, j.n_a, j.n_b,
                 CAST(COALESCE(m.nboth, 0) AS BIGINT) AS n_both
          FROM j LEFT JOIN m ON m.pred = j.pred),
    w AS (SELECT pred, n_a, n_b, n_both,
                 CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
                      THEN CAST(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1
                                AS BIGINT) END AS est_total
          FROM e)
    SELECT pred, n_a, n_b, n_both, est_total,
           ROUND(CASE WHEN est_total > 0
                      THEN n_a / CAST(est_total AS DOUBLE) END, 6)
             AS completeness_a,
           ROUND(CASE WHEN est_total > 0
                      THEN n_b / CAST(est_total AS DOUBLE) END, 6)
             AS completeness_b,
           ROUND(CASE WHEN est_total > 0
                      THEN (n_a + n_b - n_both)
                           / CAST(est_total AS DOUBLE) END, 6)
             AS completeness_union
    FROM w
    """,
)
def q272(spark, sf):
    """Per-predicate KG completeness by capture–recapture
    (kgquality.capture_recapture, Chapman estimator): two overlapping
    'extractors' — quantity-windowed supplied_by feeds and
    linenumber-windowed contains feeds — whose overlap rate estimates
    the true relation size; placed_by appears in feed A only and
    honestly reports NULL (one occasion is not a recapture)."""
    from bran_spark.operators.kgquality import capture_recapture

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")

    def tr(df, s_pre, s_col, pred, o_pre, o_col):
        return df.select(
            F.concat(F.lit(s_pre), F.col(s_col).cast("string")).alias("subj"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit(o_pre), F.col(o_col).cast("string")).alias("obj"),
        )

    a = (
        tr(li.where(F.col("l_quantity") > 10), "P:", "l_partkey",
           "supplied_by", "S:", "l_suppkey")
        .unionByName(
            tr(li.where(F.col("l_linenumber") <= 4), "O:", "l_orderkey",
               "contains", "P:", "l_partkey")
        )
        .unionByName(
            tr(orders, "O:", "o_orderkey", "placed_by", "C:", "o_custkey")
        )
    )
    b = tr(
        li.where(F.col("l_quantity") < 45), "P:", "l_partkey",
        "supplied_by", "S:", "l_suppkey",
    ).unionByName(
        tr(li.where(F.col("l_linenumber") >= 2), "O:", "l_orderkey",
           "contains", "P:", "l_partkey")
    )
    return capture_recapture(a, b)


@_q(
    "q273_katz_centrality",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT 'O:' || o_orderkey AS src, 'C:' || o_custkey AS dst
        FROM orders
        UNION ALL
        SELECT 'C:' || c_custkey, 'N:' || c_nationkey FROM customer
        UNION ALL
        SELECT 'S:' || s_suppkey, 'N:' || s_nationkey FROM supplier
        UNION ALL
        SELECT 'N:' || n_nationkey, 'R:' || n_regionkey FROM nation)
      WHERE src <> dst),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    x0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes),
    x1 AS MATERIALIZED (
      SELECT n.node,
             CAST(1000000 + (COALESCE(s.sm, 0) * 5) // 100 AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(x0.x) AS BIGINT) AS sm
        FROM e JOIN x0 ON x0.node = e.src GROUP BY e.dst) s
        ON s.node = n.node),
    x2 AS MATERIALIZED (
      SELECT n.node,
             CAST(1000000 + (COALESCE(s.sm, 0) * 5) // 100 AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(x1.x) AS BIGINT) AS sm
        FROM e JOIN x1 ON x1.node = e.src GROUP BY e.dst) s
        ON s.node = n.node),
    x3 AS MATERIALIZED (
      SELECT n.node,
             CAST(1000000 + (COALESCE(s.sm, 0) * 5) // 100 AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(x2.x) AS BIGINT) AS sm
        FROM e JOIN x2 ON x2.node = e.src GROUP BY e.dst) s
        ON s.node = n.node),
    x4 AS (
      SELECT n.node,
             CAST(1000000 + (COALESCE(s.sm, 0) * 5) // 100 AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(x3.x) AS BIGINT) AS sm
        FROM e JOIN x3 ON x3.node = e.src GROUP BY e.dst) s
        ON s.node = n.node)
    SELECT node, x AS katz_fp FROM x4
    """,
)
def q273(spark, sf):
    """Truncated Katz centrality (graphalgo.katz_centrality, β = 0.05,
    4 rounds, exact integer fixed point) on the order→customer→nation→
    region chain of the lifted KG: attenuated-walk-count reachability
    that — unlike PageRank — does not dilute by out-degree, so regions
    accumulate the full mass of their nation/customer/order trees. The
    twin unrolls the identical four integer rounds."""
    from bran_spark.operators.graphalgo import katz_centrality

    edges = _kg_relational_triples(spark, sf).where(
        F.col("pred").isin("placed_by", "in_nation", "in_region")
    )
    return katz_centrality(edges, iters=4, beta_num=5, beta_den=100)


@_q(
    "q274_delta_method",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100, 0) AS BIGINT)
                               ELSE 0 END) AS num,
                      CAST(COUNT(*) AS BIGINT) AS den
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, num, den FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, num, den FROM k),
    g AS (SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
                 SUM(CASE WHEN arm = 0 THEN num ELSE 0 END)::BIGINT AS sn0,
                 SUM(CASE WHEN arm = 1 THEN num ELSE 0 END)::BIGINT AS sn1,
                 SUM(CASE WHEN arm = 0 THEN den ELSE 0 END)::BIGINT AS sd0,
                 SUM(CASE WHEN arm = 1 THEN den ELSE 0 END)::BIGINT AS sd1,
                 SUM(CASE WHEN arm = 0 THEN num * num ELSE 0 END)::BIGINT
                   AS qn0,
                 SUM(CASE WHEN arm = 1 THEN num * num ELSE 0 END)::BIGINT
                   AS qn1,
                 SUM(CASE WHEN arm = 0 THEN den * den ELSE 0 END)::BIGINT
                   AS qd0,
                 SUM(CASE WHEN arm = 1 THEN den * den ELSE 0 END)::BIGINT
                   AS qd1,
                 SUM(CASE WHEN arm = 0 THEN num * den ELSE 0 END)::BIGINT
                   AS x0,
                 SUM(CASE WHEN arm = 1 THEN num * den ELSE 0 END)::BIGINT
                   AS x1
          FROM a),
    s AS (SELECT c0, c1,
                 CASE WHEN sd0 <> 0
                      THEN (sn0 / 100.0) / (sd0 / 1.0) END AS r0,
                 CASE WHEN sd1 <> 0
                      THEN (sn1 / 100.0) / (sd1 / 1.0) END AS r1,
                 CASE WHEN c0 > 1 AND sd0 <> 0 THEN greatest(
                   (greatest((qn0 / 10000.0 - (sn0 / 100.0) * (sn0 / 100.0)
                              / c0::DOUBLE) / (c0::DOUBLE - 1), 0.0)
                    - 2.0 * ((sn0 / 100.0) / (sd0 / 1.0))
                      * ((x0 / 100.0 - (sn0 / 100.0) * (sd0 / 1.0)
                          / c0::DOUBLE) / (c0::DOUBLE - 1))
                    + ((sn0 / 100.0) / (sd0 / 1.0))
                      * ((sn0 / 100.0) / (sd0 / 1.0))
                      * greatest((qd0 / 1.0 - (sd0 / 1.0) * (sd0 / 1.0)
                                  / c0::DOUBLE) / (c0::DOUBLE - 1), 0.0))
                   / (c0::DOUBLE * ((sd0 / 1.0) / c0::DOUBLE)
                      * ((sd0 / 1.0) / c0::DOUBLE)), 0.0) END AS v0,
                 CASE WHEN c1 > 1 AND sd1 <> 0 THEN greatest(
                   (greatest((qn1 / 10000.0 - (sn1 / 100.0) * (sn1 / 100.0)
                              / c1::DOUBLE) / (c1::DOUBLE - 1), 0.0)
                    - 2.0 * ((sn1 / 100.0) / (sd1 / 1.0))
                      * ((x1 / 100.0 - (sn1 / 100.0) * (sd1 / 1.0)
                          / c1::DOUBLE) / (c1::DOUBLE - 1))
                    + ((sn1 / 100.0) / (sd1 / 1.0))
                      * ((sn1 / 100.0) / (sd1 / 1.0))
                      * greatest((qd1 / 1.0 - (sd1 / 1.0) * (sd1 / 1.0)
                                  / c1::DOUBLE) / (c1::DOUBLE - 1), 0.0))
                   / (c1::DOUBLE * ((sd1 / 1.0) / c1::DOUBLE)
                      * ((sd1 / 1.0) / c1::DOUBLE)), 0.0) END AS v1
          FROM g)
    SELECT c0 AS n_ctl, c1 AS n_trt,
           ROUND(r0, 6) AS ratio_ctl,
           ROUND(r1, 6) AS ratio_trt,
           ROUND(r1 - r0, 6) AS diff,
           ROUND(sqrt(v0 + v1), 6) AS se,
           ROUND(CASE WHEN sqrt(v0 + v1) > 0
                      THEN (r1 - r0) / sqrt(v0 + v1) END, 6) AS z_stat
    FROM s
    """,
)
def q274(spark, sf):
    """Ratio-metric readout with a delta-method SE
    (sampling.delta_method_ratio): purchase revenue per event, per user,
    on q214's md5-coin arms — the estimator that gets both the point
    estimate and the variance of a per-unit RATIO right, where naive
    row-level means are wrong. Six associative BIGINT moments per arm,
    then one fixed scalar tree the twin replays verbatim."""
    from bran_spark.operators.sampling import delta_method_ratio, md5_arm

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("num"),
            F.count(F.lit(1)).cast("long").alias("den"),
        )
        .select(md5_arm("user_id").alias("arm"), "num", "den")
    )
    return delta_method_ratio(units, num_scale=100, den_scale=1)


@_q(
    "q275_mde_power",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END)::BIGINT AS q0,
                 SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END)::BIGINT AS q1
          FROM a),
    s AS (SELECT n0, n1, s0,
                 greatest((q0 / 10000.0 - n0::DOUBLE
                           * (s0 / (n0::DOUBLE * 100.0))
                           * (s0 / (n0::DOUBLE * 100.0)))
                          / (n0::DOUBLE - 1), 0.0) AS v0,
                 greatest((q1 / 10000.0 - n1::DOUBLE
                           * (s1 / (n1::DOUBLE * 100.0))
                           * (s1 / (n1::DOUBLE * 100.0)))
                          / (n1::DOUBLE - 1), 0.0) AS v1,
                 s1 / (n1::DOUBLE * 100.0) - s0 / (n0::DOUBLE * 100.0)
                   AS diff,
                 s0 / (n0::DOUBLE * 100.0) AS m0,
                 n0 > 1 AND n1 > 1 AS ok
          FROM g),
    s2 AS (SELECT n0, n1, s0, v0, v1, diff, m0, ok,
                  sqrt(v0 / n0::DOUBLE + v1 / n1::DOUBLE) AS se
           FROM s)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(CASE WHEN ok THEN sqrt(v0) END, 6) AS sd_ctl,
           ROUND(CASE WHEN ok THEN sqrt(v1) END, 6) AS sd_trt,
           ROUND(CASE WHEN ok THEN se END, 6) AS se,
           ROUND(CASE WHEN ok THEN (1.959964 + 0.841621) * se END, 6)
             AS mde_abs,
           ROUND(CASE WHEN ok AND s0 <> 0
                      THEN (1.959964 + 0.841621) * se / abs(m0) END, 6)
             AS mde_rel,
           ROUND(CASE WHEN ok THEN diff END, 6) AS diff,
           CASE WHEN ok AND se > 0 THEN CAST(round(
                  1000000.0 / (1.0 + exp(-1.702 * (abs(diff) / se
                                                   - 1.959964))), 0)
                AS BIGINT) END AS power_micro
    FROM s2
    """,
)
def q275(spark, sf):
    """Experiment sensitivity readout (sampling.mde_power): minimum
    detectable effect at α = 0.05 / power 0.8 plus achieved power for
    the observed per-user value difference on q214's md5-coin arms —
    the row that distinguishes 'flat' from 'underpowered'. Power goes
    through the monotone logistic normal-CDF micro idiom (bh_fdr)."""
    from bran_spark.operators.sampling import md5_arm, mde_power

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(md5_arm("user_id").alias("arm"), "y")
    )
    return mde_power(units, scale=100)


@_q(
    "q276_diff_in_diff",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN 1 ELSE 0 END AS period,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY 1, 2),
    k AS (SELECT md5(uid::VARCHAR) AS h, period, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS grp, period, y FROM k),
    g AS (SELECT
      SUM(CASE WHEN grp = 0 AND period = 0 THEN 1 ELSE 0 END)::BIGINT AS c00,
      SUM(CASE WHEN grp = 0 AND period = 1 THEN 1 ELSE 0 END)::BIGINT AS c01,
      SUM(CASE WHEN grp = 1 AND period = 0 THEN 1 ELSE 0 END)::BIGINT AS c10,
      SUM(CASE WHEN grp = 1 AND period = 1 THEN 1 ELSE 0 END)::BIGINT AS c11,
      SUM(CASE WHEN grp = 0 AND period = 0 THEN y ELSE 0 END)::BIGINT AS s00,
      SUM(CASE WHEN grp = 0 AND period = 1 THEN y ELSE 0 END)::BIGINT AS s01,
      SUM(CASE WHEN grp = 1 AND period = 0 THEN y ELSE 0 END)::BIGINT AS s10,
      SUM(CASE WHEN grp = 1 AND period = 1 THEN y ELSE 0 END)::BIGINT AS s11,
      SUM(CASE WHEN grp = 0 AND period = 0 THEN y * y ELSE 0 END)::BIGINT
        AS q00,
      SUM(CASE WHEN grp = 0 AND period = 1 THEN y * y ELSE 0 END)::BIGINT
        AS q01,
      SUM(CASE WHEN grp = 1 AND period = 0 THEN y * y ELSE 0 END)::BIGINT
        AS q10,
      SUM(CASE WHEN grp = 1 AND period = 1 THEN y * y ELSE 0 END)::BIGINT
        AS q11
      FROM a),
    s AS (SELECT c00, c01, c10, c11,
                 s00 / (c00::DOUBLE * 100.0) AS m00,
                 s01 / (c01::DOUBLE * 100.0) AS m01,
                 s10 / (c10::DOUBLE * 100.0) AS m10,
                 s11 / (c11::DOUBLE * 100.0) AS m11,
                 greatest((q00 / 10000.0 - c00::DOUBLE
                           * (s00 / (c00::DOUBLE * 100.0))
                           * (s00 / (c00::DOUBLE * 100.0)))
                          / (c00::DOUBLE - 1), 0.0) / c00::DOUBLE AS w00,
                 greatest((q01 / 10000.0 - c01::DOUBLE
                           * (s01 / (c01::DOUBLE * 100.0))
                           * (s01 / (c01::DOUBLE * 100.0)))
                          / (c01::DOUBLE - 1), 0.0) / c01::DOUBLE AS w01,
                 greatest((q10 / 10000.0 - c10::DOUBLE
                           * (s10 / (c10::DOUBLE * 100.0))
                           * (s10 / (c10::DOUBLE * 100.0)))
                          / (c10::DOUBLE - 1), 0.0) / c10::DOUBLE AS w10,
                 greatest((q11 / 10000.0 - c11::DOUBLE
                           * (s11 / (c11::DOUBLE * 100.0))
                           * (s11 / (c11::DOUBLE * 100.0)))
                          / (c11::DOUBLE - 1), 0.0) / c11::DOUBLE AS w11,
                 c00 > 1 AND c01 > 1 AND c10 > 1 AND c11 > 1 AS ok
          FROM g)
    SELECT c00 AS n_ctl_pre, c01 AS n_ctl_post,
           c10 AS n_trt_pre, c11 AS n_trt_post,
           ROUND(CASE WHEN ok THEN m00 END, 6) AS mean_ctl_pre,
           ROUND(CASE WHEN ok THEN m01 END, 6) AS mean_ctl_post,
           ROUND(CASE WHEN ok THEN m10 END, 6) AS mean_trt_pre,
           ROUND(CASE WHEN ok THEN m11 END, 6) AS mean_trt_post,
           ROUND(CASE WHEN ok THEN (m11 - m10) - (m01 - m00) END, 6) AS did,
           ROUND(CASE WHEN ok THEN sqrt(w00 + w01 + w10 + w11) END, 6) AS se,
           ROUND(CASE WHEN ok AND sqrt(w00 + w01 + w10 + w11) > 0
                      THEN ((m11 - m10) - (m01 - m00))
                           / sqrt(w00 + w01 + w10 + w11) END, 6) AS t_stat
    FROM s
    """,
)
def q276(spark, sf):
    """Difference-in-differences readout (sampling.diff_in_diff) over a
    2×2 panel: md5-coin user groups × a mid-month period split, metric =
    per-(user, period) value cents — the quasi-experimental estimator
    for unrandomized rollouts, netting the treated group's post−pre
    change against control's. Null data ⇒ did ≈ 0; one conditional
    aggregate, twelve associative BIGINT sums, one scalar tree."""
    from bran_spark.operators.sampling import diff_in_diff, md5_arm

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy(
            "user_id",
            F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1)
            .otherwise(0)
            .alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(md5_arm("user_id").alias("grp"), "period", "y")
    )
    return diff_in_diff(units)


@_q(
    "q277_bayes_ab",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      MAX(CASE WHEN event_type = 'purchase' AND value > 200
                               THEN 1 ELSE 0 END)::BIGINT AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1
          FROM a),
    s AS (SELECT n0, n1, s0, s1,
                 (s0 + 1.0) / (n0::DOUBLE + 2.0) AS mu0,
                 (s1 + 1.0) / (n1::DOUBLE + 2.0) AS mu1,
                 n0 > 0 AND n1 > 0 AS ok
          FROM g),
    s2 AS (SELECT n0, n1, s0, s1, mu0, mu1, ok,
                  (mu1 - mu0)
                  / sqrt(mu0 * (1.0 - mu0) / (n0::DOUBLE + 3.0)
                         + mu1 * (1.0 - mu1) / (n1::DOUBLE + 3.0)) AS z
           FROM s)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(CASE WHEN n0 > 0 THEN s0 / n0::DOUBLE END, 6) AS conv_ctl,
           ROUND(CASE WHEN n1 > 0 THEN s1 / n1::DOUBLE END, 6) AS conv_trt,
           ROUND(CASE WHEN ok THEN mu0 END, 6) AS post_mean_ctl,
           ROUND(CASE WHEN ok THEN mu1 END, 6) AS post_mean_trt,
           ROUND(CASE WHEN ok THEN mu1 - mu0 END, 6) AS lift,
           ROUND(CASE WHEN ok THEN z END, 6) AS z,
           CASE WHEN ok THEN CAST(round(
                  1000000.0 / (1.0 + exp(-1.702 * z)), 0) AS BIGINT) END
             AS p_beats_micro
    FROM s2
    """,
)
def q277(spark, sf):
    """Bayesian conversion readout (sampling.bayes_ab): Beta(1,1)
    posteriors over 'user made a >$2 purchase' per md5-coin arm and
    P(treatment beats control) via the normal posterior approximation +
    the monotone logistic CDF micro idiom — the decision-facing number
    next to q216's frequentist t. Null assignment ⇒ P ≈ 0.5."""
    from bran_spark.operators.sampling import bayes_ab, md5_arm

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 200),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y")
        )
        .select(md5_arm("user_id").alias("arm"), "y")
    )
    return bayes_ab(units)


def _benford_values_sql() -> str:
    import math

    return ", ".join(
        f"({d}, CAST({round(math.log10(1.0 + 1.0 / d), 6)} AS DOUBLE))"
        for d in range(1, 10)
    )


@_q(
    "q278_benford_audit",
    f"""
    WITH c AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
          FROM c WHERE cents > 0),
    counts AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
               FROM d GROUP BY digit),
    dom AS (SELECT * FROM (VALUES {_benford_values_sql()})
            AS v(digit, exp_frac)),
    per AS (SELECT dom.digit, CAST(COALESCE(counts.n, 0) AS BIGINT) AS n,
                   dom.exp_frac
            FROM dom LEFT JOIN counts ON counts.digit = dom.digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per),
    excl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
             FROM c WHERE cents IS NULL OR cents <= 0),
    terms AS (SELECT digit, n, exp_frac, n_total,
                     CASE WHEN n_total > 0 THEN CAST(round(
                       (n / n_total::DOUBLE - exp_frac)
                       * (n / n_total::DOUBLE - exp_frac)
                       / exp_frac * n_total::DOUBLE * 1000000.0, 0)
                       AS BIGINT) END AS chi_m
              FROM per, tot),
    chi AS (SELECT CAST(SUM(chi_m) AS BIGINT) AS chi_sum FROM terms)
    SELECT digit, n,
           ROUND(CASE WHEN n_total > 0
                      THEN n / n_total::DOUBLE END, 6) AS obs_frac,
           exp_frac,
           ROUND(CASE WHEN n_total > 0
                      THEN n / n_total::DOUBLE - exp_frac END, 6) AS dev,
           n_total, excl.n_excluded,
           ROUND(chi.chi_sum / 1000000.0, 6) AS chi2
    FROM terms, excl, chi
    ORDER BY digit
    """,
)
def q278(spark, sf):
    """Benford first-digit audit (contracts.benford_audit) of event value
    cents: per-digit observed vs log10(1+1/d) expected shares and a
    chi-square verdict summed over micro-rounded BIGINT terms — the
    fabrication/unit-mangling screen for financial feeds. The synthetic
    uniform-ish values FAIL Benford loudly (huge chi2), which is the
    point: the audit must flag non-multi-scale feeds."""
    from bran_spark.operators.contracts import benford_audit

    ev = _t(spark, sf, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    return benford_audit(ev, "cents")


@_q(
    "q279_dp_release",
    f"""
    WITH g AS (SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS true_count
               FROM documents GROUP BY lang),
    n AS (SELECT grp, true_count, md5('r0|' || grp) AS h FROM g),
    v AS (SELECT grp, true_count,
                 (({_HEX8_SQL}) % 1000000 + 0.5) / 1000000.0 AS u
          FROM n),
    l AS (SELECT grp, true_count,
                 -(1.0 / 0.5) * sign(u - 0.5)
                 * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap
          FROM v),
    r AS (SELECT grp, true_count,
                 true_count + CAST(floor(
                   (CAST(round(lap * 1000000.0, 0) AS BIGINT) + 500000)
                   / 1000000.0) AS BIGINT) AS noisy_count
          FROM l)
    SELECT grp, true_count, noisy_count,
           CAST(abs(noisy_count - true_count) AS BIGINT) AS abs_err,
           CAST(0.5 AS DOUBLE) AS epsilon
    FROM r
    """,
)
def q279(spark, sf):
    """ε-DP Laplace histogram release + utility audit
    (contracts.dp_release_audit, ε = 0.5, sensitivity 1) over the
    per-language document counts: the governance artifact published
    instead of raw counts, with the injected error next to it. The
    Laplace draw is the documented determinism seam — an md5-keyed
    inverse-CDF stream the twin replays bit-identically; production
    swaps the tag for a secret per-release seed."""
    from bran_spark.operators.contracts import dp_release_audit

    return dp_release_audit(
        _t(spark, sf, "documents"), "lang", epsilon=0.5, release_tag="r0"
    )


@_q(
    "q280_winsorized_effect",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY user_id),
    k AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k),
    hist AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
             FROM a GROUP BY y),
    cum AS (SELECT v, c,
                   CAST(SUM(c) OVER (ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
            FROM hist),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM hist),
    clip AS (SELECT CAST(MIN(v) AS BIGINT) AS clip
             FROM cum, tot WHERE cm * 100 >= 99 * n_all),
    w AS (SELECT arm, least(y, clip) AS yy, y > clip AS clipped, clip
          FROM a, clip),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN yy ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN yy ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN yy * yy ELSE 0 END)::BIGINT
                   AS q0,
                 SUM(CASE WHEN arm = 1 THEN yy * yy ELSE 0 END)::BIGINT
                   AS q1,
                 SUM(CASE WHEN clipped THEN 1 ELSE 0 END)::BIGINT
                   AS n_clipped,
                 CAST(MAX(clip) AS BIGINT) AS clip_raw
          FROM w),
    s AS (SELECT n0, n1, s0, s1, q0, q1, n_clipped, clip_raw,
                 CASE WHEN n0 > 0
                      THEN s0 / (n0::DOUBLE * 100.0) END AS m0,
                 CASE WHEN n1 > 0
                      THEN s1 / (n1::DOUBLE * 100.0) END AS m1,
                 CASE WHEN n0 > 1 THEN greatest(
                   (q0 / 10000.0 - n0::DOUBLE
                    * (s0 / (n0::DOUBLE * 100.0))
                    * (s0 / (n0::DOUBLE * 100.0)))
                   / (n0::DOUBLE - 1), 0.0) END AS v0,
                 CASE WHEN n1 > 1 THEN greatest(
                   (q1 / 10000.0 - n1::DOUBLE
                    * (s1 / (n1::DOUBLE * 100.0))
                    * (s1 / (n1::DOUBLE * 100.0)))
                   / (n1::DOUBLE - 1), 0.0) END AS v1,
                 n0 * q0 = s0 * s0 AS flat0,
                 n1 * q1 = s1 * s1 AS flat1,
                 n0 > 1 AND n1 > 1 AS ok
          FROM g)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(clip_raw / 100.0, 6) AS clip_value,
           n_clipped,
           ROUND(m0, 6) AS mean_ctl,
           ROUND(m1, 6) AS mean_trt,
           ROUND(m1 - m0, 6) AS diff,
           ROUND(CASE WHEN ok THEN
                   CASE WHEN flat0 AND flat1 THEN 0.0
                        ELSE sqrt(v0 / n0::DOUBLE + v1 / n1::DOUBLE) END
                 END, 6) AS se,
           ROUND(CASE WHEN ok AND NOT (flat0 AND flat1)
                      THEN (m1 - m0)
                           / sqrt(v0 / n0::DOUBLE + v1 / n1::DOUBLE)
                 END, 6) AS t_stat
    FROM s
    """,
)
def q280(spark, sf):
    """Winsorized two-arm readout (sampling.winsorized_effect, pooled
    p99 clip) on q214's md5-coin arms: the whale-robust companion to
    q216's raw Welch t and q256's rank test — clip at the exact integer
    pooled percentile (cum·100 ≥ 99·n, no float interpolation), then
    diff-in-means on the clipped cents. The twin replays the histogram,
    the clip inequality and the scalar tree verbatim."""
    from bran_spark.operators.sampling import md5_arm, winsorized_effect

    ev = _t(spark, sf, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(md5_arm("user_id").alias("arm"), "y")
    )
    return winsorized_effect(units, scale=100, pct=99)


@_q(
    "q281_scc",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT 'P:' || l_partkey AS src, 'S:' || l_suppkey AS dst
        FROM lineitem WHERE l_partkey % 7 = 0
        UNION ALL
        SELECT 'S:' || l_suppkey, 'P:' || l_partkey
        FROM lineitem WHERE l_partkey % 7 = 0 AND l_quantity < 20)
      WHERE src <> dst),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    r AS MATERIALIZED (
      WITH RECURSIVE reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
      ) SELECT a, b FROM reach)
    SELECT r1.a AS node, MIN(r1.b) AS scc_id
    FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
    GROUP BY r1.a
    """,
)
def q281(spark, sf):
    """Strongly connected components (graphalgo.scc, FW-BW-Trim peeling)
    of the part⇄supplier trade graph: P→S supply edges plus the S→P
    back-edges where quantity < 20 — mutual-reachability clusters the
    KG must condense before any DAG-assuming pass (q66 closures, q139
    transitive reduction). The twin is the mutual-reachability closed
    form (min common node over u ⇝ v ∧ v ⇝ u) via one recursive
    closure, NOT a replay of the peeling algorithm — algorithm-
    independent evidence the labels are right."""
    from bran_spark.operators.graphalgo import scc

    li = _t(spark, sf, "lineitem").where(F.col("l_partkey") % 7 == 0)
    e1 = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("subj"),
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("obj"),
    )
    e2 = li.where(F.col("l_quantity") < 20).select(
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("subj"),
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("obj"),
    )
    return scc(e1.unionByName(e2))


@_q(
    "q282_texttiling",
    """
    WITH t(doc_id, arr) AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +')
      FROM documents),
    tok AS (SELECT doc_id, CAST(i // 10 AS BIGINT) AS block,
                   arr[i + 1] AS w
            FROM t, UNNEST(range(len(arr))) AS u(i)
            WHERE arr[i + 1] <> ''),
    counts AS (SELECT doc_id, block, w, CAST(COUNT(*) AS BIGINT) AS c
               FROM tok GROUP BY doc_id, block, w),
    norms AS (SELECT doc_id, block, CAST(SUM(c * c) AS BIGINT) AS ssq
              FROM counts GROUP BY doc_id, block),
    dots AS (SELECT l.doc_id, l.block AS gap,
                    CAST(SUM(l.c * r.c) AS BIGINT) AS dot
             FROM counts l JOIN counts r
               ON l.doc_id = r.doc_id AND l.block + 1 = r.block
              AND l.w = r.w
             GROUP BY l.doc_id, l.block),
    gaps AS (SELECT n1.doc_id, n1.block AS gap,
                    CAST(round(COALESCE(d.dot, 0)
                      / (sqrt(CAST(n1.ssq AS DOUBLE))
                         * sqrt(CAST(n2.ssq AS DOUBLE)))
                      * 1000000.0, 0) AS BIGINT) AS sim_micro
             FROM norms n1
             JOIN norms n2 ON n1.doc_id = n2.doc_id
                          AND n1.block + 1 = n2.block
             LEFT JOIN dots d ON d.doc_id = n1.doc_id
                             AND d.gap = n1.block),
    g AS (SELECT doc_id, gap, sim_micro,
                 LAG(sim_micro) OVER (PARTITION BY doc_id ORDER BY gap)
                   AS prev,
                 LEAD(sim_micro) OVER (PARTITION BY doc_id ORDER BY gap)
                   AS nxt,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY sim_micro, gap) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS cnt
          FROM gaps),
    lmed AS (SELECT doc_id, sim_micro AS lm FROM g
             WHERE rn = (cnt + 1) // 2)
    SELECT g.doc_id, g.gap,
           ROUND(g.sim_micro / 1000000.0, 6) AS sim,
           ((g.prev IS NULL OR g.sim_micro < g.prev)
            AND (g.nxt IS NULL OR g.sim_micro < g.nxt)
            AND g.sim_micro < lmed.lm) AS is_boundary
    FROM g JOIN lmed ON lmed.doc_id = g.doc_id
    """,
)
def q282(spark, sf):
    """Topic-boundary detection (quality.texttiling_boundaries, Hearst's
    TextTiling in the integer-exact median-threshold variant, 10-word
    blocks): cosine similarity of adjacent block term vectors per gap,
    boundary = strict local minimum below the document's lower-median
    micro-rounded score — the topically-coherent chunker upstream of
    q93's fixed windows and q107's chunk retrieval."""
    from bran_spark.operators.quality import texttiling_boundaries

    return texttiling_boundaries(
        _t(spark, sf, "documents"), "doc_id", "text", block_words=10
    )


_LOGRANK_TERM = """
    terms AS (SELECT d1 AS o1,
                     CAST(round((d1 + d2)::DOUBLE * n1::DOUBLE
                                / (n1 + n2)::DOUBLE * 1000000.0, 0)
                          AS BIGINT) AS e1_u,
                     CASE WHEN n1 + n2 > 1 THEN
                       CAST(round((d1 + d2)::DOUBLE
                                  * (n1::DOUBLE / (n1 + n2)::DOUBLE)
                                  * (n2::DOUBLE / (n1 + n2)::DOUBLE)
                                  * ((n1 + n2)::DOUBLE - (d1 + d2)::DOUBLE)
                                  / ((n1 + n2)::DOUBLE - 1)
                                  * 1000000.0, 0) AS BIGINT)
                     ELSE 0 END AS v_u
              FROM ar WHERE d1 + d2 > 0)
"""


@_q(
    "q283_log_rank",
    f"""
    WITH ep AS (SELECT user_id AS uid,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
    hz AS (SELECT MAX(ep) - 86400 AS hz FROM ep),
    users AS (SELECT uid, MIN(ep) AS first_ep, MAX(ep) AS last_ep
              FROM ep GROUP BY uid),
    kk AS (SELECT md5(uid::VARCHAR) AS h, first_ep, last_ep FROM users),
    durs AS (SELECT (last_ep - first_ep) // 3600 AS dur,
                    last_ep <= (SELECT hz FROM hz) AS observed,
                    CAST(({_HEX8_SQL}) % 2 AS INT) AS grp
             FROM kk),
    per_t AS (SELECT dur,
                     SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS c1,
                     SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS c2,
                     SUM(CASE WHEN grp = 0 AND observed THEN 1 ELSE 0
                         END)::BIGINT AS d1,
                     SUM(CASE WHEN grp = 1 AND observed THEN 1 ELSE 0
                         END)::BIGINT AS d2
              FROM durs GROUP BY dur),
    tot AS (SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS t1,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS t2
            FROM durs),
    ar AS (SELECT dur, d1, d2,
                  (SELECT t1 FROM tot)
                  - COALESCE(SUM(c1) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS n1,
                  (SELECT t2 FROM tot)
                  - COALESCE(SUM(c2) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS n2
           FROM per_t),
    {_LOGRANK_TERM},
    g AS (SELECT COUNT(*)::BIGINT AS n_times, SUM(o1)::BIGINT AS o1,
                 SUM(e1_u)::BIGINT AS e1_u, SUM(v_u)::BIGINT AS v_u
          FROM terms)
    SELECT n_times, o1,
           ROUND(e1_u / 1000000.0, 6) AS e1,
           ROUND(v_u / 1000000.0, 6) AS var_sum,
           ROUND(CASE WHEN v_u > 0 THEN
                   (o1 - e1_u / 1000000.0) * (o1 - e1_u / 1000000.0)
                   / (v_u / 1000000.0) END, 6) AS chi2,
           ROUND(CASE WHEN v_u > 0 THEN
                   (o1 - e1_u / 1000000.0) / sqrt(v_u / 1000000.0) END, 6)
             AS z_signed
    FROM g
    """,
)
def q283(spark, sf):
    """Two-group log-rank test (sessions.log_rank) on kaplan_meier's
    lifetimes with the shared md5 arm coin as the cohort split — the
    censoring-aware survival-difference test. Per pooled churn time
    the hypergeometric E₁/V terms round to micro-unit BIGINTs so the
    time-dimension reduction is associative; χ²/z are one fixed
    scalar tree over three integer sums."""
    from bran_spark.operators.sessions import log_rank

    return log_rank(_t(spark, sf, "events"), censor_window_h=24)


@_q(
    "q284_randomization_test",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY user_id),
    k0 AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k0),
    o0 AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                  SUM((arm = 1)::INT)::BIGINT AS n1,
                  SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                  SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1
           FROM a),
    obs AS (SELECT n0 + n1 AS n_units,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                     ROUND(s1 / (n1 * 100.0) - s0 / (n0 * 100.0), 6)
                   END AS t_obs
            FROM o0),
    reps AS (SELECT t.rep AS rep, u.y AS y,
                    md5(u.uid::VARCHAR || ':' || t.rep::VARCHAR) AS h
             FROM u, (SELECT UNNEST(range(1, 101)) AS rep) t),
    ra AS (SELECT rep, CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM reps),
    pr AS (SELECT rep,
                  SUM((arm = 0)::INT)::BIGINT AS n0,
                  SUM((arm = 1)::INT)::BIGINT AS n1,
                  SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                  SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1
           FROM ra GROUP BY rep),
    sc AS (SELECT n_units, t_obs,
                  CASE WHEN abs(CASE WHEN n0 > 0 AND n1 > 0 THEN
                                  ROUND(s1 / (n1 * 100.0)
                                        - s0 / (n0 * 100.0), 6) END)
                       >= abs(t_obs) THEN 1 ELSE 0 END AS extreme
           FROM pr, obs)
    SELECT n_units, t_obs, COUNT(*)::BIGINT AS n_reps,
           SUM(extreme)::BIGINT AS n_extreme,
           ROUND((SUM(extreme) + 1) / (COUNT(*)::DOUBLE + 1.0), 6)
             AS p_value
    FROM sc GROUP BY n_units, t_obs
    """,
)
def q284(spark, sf):
    """Monte-Carlo randomization test (sampling.randomization_test,
    100 deterministic md5(id:rep) re-flips) for the per-user value
    metric — the assumption-free p-value printed next to q216's Welch
    t. Replicate statistics are fixed scalar trees over associative
    BIGINT sums; extremeness compares 6-dp magnitudes on both
    engines."""
    from bran_spark.operators.sampling import randomization_test

    units = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y")
        )
    )
    return randomization_test(units, id_col="user_id", y_col="y", n_reps=100)


@_q(
    "q285_jackknife_ratio",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS num,
                      COUNT(*)::BIGINT AS den
               FROM events GROUP BY user_id),
    k0 AS (SELECT md5(uid::VARCHAR) AS h, num, den FROM u),
    b AS (SELECT CAST({_SAMPLE_KEY_SQL} AS BIGINT) % 50 AS blk, num, den
          FROM k0),
    per_blk AS (SELECT blk, SUM(num)::BIGINT AS sn, SUM(den)::BIGINT AS sd
                FROM b GROUP BY blk),
    tot AS (SELECT SUM(sn)::BIGINT AS tn, SUM(sd)::BIGINT AS td
            FROM per_blk),
    loo AS (SELECT tn, td,
                   CASE WHEN td - sd != 0 THEN
                     CAST(round(((tn - sn) / 100.0) / ((td - sd) / 1.0)
                                * 1000000.0, 0) AS HUGEINT)
                   END AS r_u
            FROM per_blk, tot),
    g AS (SELECT tn, td, COUNT(*)::BIGINT AS b_all,
                 COUNT(r_u)::BIGINT AS b_ok,
                 SUM(r_u) AS s_u, SUM(r_u * r_u) AS q_u
          FROM loo GROUP BY tn, td)
    SELECT b_all AS n_blocks,
           ROUND(CASE WHEN td != 0 THEN (tn / 100.0) / (td / 1.0) END, 6)
             AS ratio_full,
           ROUND(CASE WHEN b_ok > 0 THEN
                   s_u::DOUBLE / (b_ok::DOUBLE * 1000000.0) END, 6)
             AS jk_mean,
           ROUND(CASE WHEN b_ok = b_all AND b_ok > 1 THEN
                   sqrt((b_ok::DOUBLE - 1.0) / b_ok::DOUBLE
                        * greatest((q_u::DOUBLE
                                    - s_u::DOUBLE * s_u::DOUBLE
                                      / b_ok::DOUBLE) / 1e12, 0.0))
                 END, 6) AS jk_se,
           ROUND(CASE WHEN b_ok = b_all AND b_ok > 1 THEN
                   (b_ok::DOUBLE - 1.0)
                   * (s_u::DOUBLE / (b_ok::DOUBLE * 1000000.0)
                      - CASE WHEN td != 0 THEN (tn / 100.0) / (td / 1.0)
                        END)
                 END, 6) AS jk_bias
    FROM g
    """,
)
def q285(spark, sf):
    """Delete-one-block jackknife (sampling.jackknife_ratio, 50 md5
    blocks) for revenue-per-event — the resampling SE that
    cross-checks q274's delta method. Leave-one-out ratios round to
    micro-unit integers and reduce associatively over the block
    dimension; bias is the Quenouille (B−1)(R̄−R̂) estimate."""
    from bran_spark.operators.sampling import jackknife_ratio

    units = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "num"
            ),
            F.count(F.lit(1)).cast("long").alias("den"),
        )
    )
    return jackknife_ratio(
        units, num_col="num", den_col="den", id_col="user_id", n_blocks=50
    )


@_q(
    "q286_anova_f",
    """
    WITH u AS (SELECT event_type AS g,
                      CAST(round(value * 100, 0) AS BIGINT) AS y
               FROM events),
    per_g AS (SELECT g, COUNT(*)::BIGINT AS n_g, SUM(y)::BIGINT AS s_g,
                     SUM(y * y)::BIGINT AS q_g
              FROM u GROUP BY g),
    gg AS (SELECT COUNT(*)::BIGINT AS k, SUM(n_g)::BIGINT AS n,
                  SUM(s_g)::BIGINT AS s, SUM(q_g)::BIGINT AS q,
                  SUM(CAST(round(s_g::DOUBLE * s_g::DOUBLE / n_g
                                 * 1000000.0, 0) AS HUGEINT)) AS t_u
           FROM per_g)
    SELECT k, n,
           ROUND(CASE WHEN k > 1 AND n > k
                       AND greatest((q - t_u::DOUBLE / 1000000.0)
                                    / 10000.0, 0.0) > 0 THEN
                   (greatest((t_u::DOUBLE / 1000000.0
                              - s::DOUBLE * s / n) / 10000.0, 0.0)
                    / (k - 1)::DOUBLE)
                   / (greatest((q - t_u::DOUBLE / 1000000.0)
                               / 10000.0, 0.0) / (n - k)::DOUBLE)
                 END, 6) AS f_stat,
           ROUND(CASE WHEN greatest((t_u::DOUBLE / 1000000.0
                                     - s::DOUBLE * s / n) / 10000.0, 0.0)
                           + greatest((q - t_u::DOUBLE / 1000000.0)
                                      / 10000.0, 0.0) > 0 THEN
                   greatest((t_u::DOUBLE / 1000000.0
                             - s::DOUBLE * s / n) / 10000.0, 0.0)
                   / (greatest((t_u::DOUBLE / 1000000.0
                                - s::DOUBLE * s / n) / 10000.0, 0.0)
                      + greatest((q - t_u::DOUBLE / 1000000.0)
                                 / 10000.0, 0.0))
                 END, 6) AS eta_sq,
           ROUND(greatest((t_u::DOUBLE / 1000000.0 - s::DOUBLE * s / n)
                          / 10000.0, 0.0), 6) AS ssb,
           ROUND(greatest((q - t_u::DOUBLE / 1000000.0) / 10000.0, 0.0), 6)
             AS ssw
    FROM gg
    """,
)
def q286(spark, sf):
    """One-way ANOVA (sampling.anova_f) of event value across event
    types — the k-group generalization of q216. Per-group BIGINT
    moment cells; the only cross-group float (S_g²/n_g) rounds to
    micro-units and sums exactly, so F and η² are one fixed scalar
    tree. Two aggregates: corpus → k rows → 1 row."""
    from bran_spark.operators.sampling import anova_f

    u = _t(spark, sf, "events").select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    return anova_f(u, group_col="g", y_col="y", scale=100)


@_q(
    "q287_tost_equivalence",
    f"""
    WITH u AS (SELECT user_id AS uid,
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
               FROM events GROUP BY user_id),
    k0 AS (SELECT md5(uid::VARCHAR) AS h, y FROM u),
    a AS (SELECT CAST(({_HEX8_SQL}) % 2 AS INT) AS arm, y FROM k0),
    g AS (SELECT SUM((arm = 0)::INT)::BIGINT AS n0,
                 SUM((arm = 1)::INT)::BIGINT AS n1,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS s0,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS s1,
                 SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END)::BIGINT AS q0,
                 SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END)::BIGINT AS q1
          FROM a),
    d AS (SELECT n0, n1, s0, s1, q0, q1,
                 s1 / (n1::DOUBLE * 100.0) - s0 / (n0::DOUBLE * 100.0)
                   AS diff,
                 sqrt(greatest((q0 / 10000.0
                                - n0::DOUBLE * (s0 / (n0::DOUBLE * 100.0))
                                  * (s0 / (n0::DOUBLE * 100.0)))
                               / (n0::DOUBLE - 1), 0.0) / n0::DOUBLE
                      + greatest((q1 / 10000.0
                                  - n1::DOUBLE * (s1 / (n1::DOUBLE * 100.0))
                                    * (s1 / (n1::DOUBLE * 100.0)))
                                 / (n1::DOUBLE - 1), 0.0) / n1::DOUBLE)
                   AS se,
                 n0 > 1 AND n1 > 1
                 AND NOT (n0 * q0 = s0 * s0 AND n1 * q1 = s1 * s1) AS ok
          FROM g)
    SELECT n0 AS n_ctl, n1 AS n_trt,
           ROUND(CASE WHEN n0 > 0 AND n1 > 0 THEN diff END, 6) AS diff,
           ROUND(CASE WHEN ok THEN se END, 6) AS se,
           ROUND(CASE WHEN ok THEN (diff + 0.5) / se END, 6) AS z_low,
           ROUND(CASE WHEN ok THEN (diff - 0.5) / se END, 6) AS z_up,
           COALESCE(ROUND(CASE WHEN ok THEN (diff + 0.5) / se END, 6)
                      >= 1.644854
                    AND ROUND(CASE WHEN ok THEN (diff - 0.5) / se END, 6)
                      <= -1.644854, false) AS equivalent
    FROM d
    """,
)
def q287(spark, sf):
    """TOST equivalence gate (sampling.tost_equivalence, δ = ±0.5
    units, α = 0.05) on q216's md5-coin arms — the no-regression
    launch test: both one-sided Welch z's must clear z_α. Same
    exact-integer moment cells as ab_effect; the verdict compares
    6-dp-rounded z's so boundary cases agree across engines."""
    from bran_spark.operators.sampling import md5_arm, tost_equivalence

    units = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y")
        )
        .select(F.col("y"), md5_arm("user_id").alias("arm"))
    )
    return tost_equivalence(units, margin=0.5, z_alpha=1.644854)


# dense zero-filled daily-count series shared by the time-series twins
# (operators/timeseries._daily_counts): one row per (event_type, day)
# for EVERY day in the observed span
_DENSE_DAYS_SQL = """
    per_day AS (SELECT event_type AS g,
                       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*)::BIGINT AS x
                FROM events GROUP BY 1, 2),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM per_day),
    types AS (SELECT DISTINCT g FROM per_day),
    spine AS (SELECT g, UNNEST(range(d0, d1 + 1)) AS day FROM types, span),
    dense AS (SELECT s.g, s.day, COALESCE(p.x, 0)::BIGINT AS x
              FROM spine s LEFT JOIN per_day p
                ON p.g = s.g AND p.day = s.day)
"""


@_q(
    "q288_cusum_changepoint",
    f"""
    WITH {_DENSE_DAYS_SQL},
    per_g AS (SELECT g, COUNT(*)::BIGINT AS dn, SUM(x)::BIGINT AS s,
                     SUM(x * x)::BIGINT AS q
              FROM dense GROUP BY g),
    terms AS (SELECT d.g, d.day, p.dn, p.s, p.q, p.dn * d.x - p.s AS term
              FROM dense d JOIN per_g p ON p.g = d.g),
    run AS (SELECT *, SUM(term) OVER (PARTITION BY g ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cusum_m
            FROM terms),
    pick AS (SELECT *, row_number() OVER (PARTITION BY g
                 ORDER BY abs(cusum_m) DESC, day ASC) AS rn
             FROM run)
    SELECT g AS event_type, dn AS n_days, day AS cp_day,
           ROUND(cusum_m / dn::DOUBLE, 6) + 0.0 AS cusum_at_cp,
           ROUND(CASE WHEN greatest((q - s::DOUBLE * s / dn::DOUBLE)
                                    / dn::DOUBLE, 0.0) > 0 THEN
                   abs(cusum_m)
                   / (dn::DOUBLE
                      * sqrt(greatest((q - s::DOUBLE * s / dn::DOUBLE)
                                      / dn::DOUBLE, 0.0))
                      * sqrt(dn::DOUBLE)) END, 6) AS stat
    FROM pick WHERE rn = 1
    """,
)
def q288(spark, sf):
    """CUSUM mean-shift changepoint per event type
    (timeseries.cusum_changepoint) over the DENSE zero-filled daily
    series: terms multiply out to exact BIGINTs (D·x−ΣX), the argmax
    day is decided on integers (earliest tie wins), and only the
    final σ-normalization is float — one fixed tree per type."""
    from bran_spark.operators.timeseries import cusum_changepoint

    return cusum_changepoint(_t(spark, sf, "events"))


@_q(
    "q289_acf_daily",
    f"""
    WITH {_DENSE_DAYS_SQL},
    per_g AS (SELECT g, COUNT(*)::BIGINT AS dn, SUM(x)::BIGINT AS s
              FROM dense GROUP BY g),
    av AS (SELECT d.g, d.day, p.dn * d.x - p.s AS a
           FROM dense d JOIN per_g p ON p.g = d.g),
    den AS (SELECT g, SUM(a::HUGEINT * a) AS den FROM av GROUP BY g),
    pairs AS (SELECT l.g, t.lag, l.a AS a, r.a AS a_b
              FROM av l
              CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) t
              JOIN av r ON r.g = l.g AND r.day = l.day + t.lag),
    num AS (SELECT g, lag, COUNT(*)::BIGINT AS n_pairs,
                   SUM(a::HUGEINT * a_b) AS num
            FROM pairs GROUP BY g, lag)
    SELECT n.g AS event_type, n.lag AS lag, n.n_pairs AS n_pairs,
           ROUND(CASE WHEN d.den > 0 THEN n.num::DOUBLE / d.den::DOUBLE
                 END, 6) + 0.0 AS r
    FROM num n JOIN den d ON d.g = n.g
    """,
)
def q289(spark, sf):
    """Lag-1..7 daily autocorrelation per event type
    (timeseries.acf_daily): r_k is a ratio of EXACT integer sums — the
    multiplied-out centering (a = D·x−ΣX) cancels the D² factors, and
    products accumulate as DECIMAL(38,0)/HUGEINT. The weekly-rhythm
    diagnostic next to q197/q233."""
    from bran_spark.operators.timeseries import acf_daily

    return acf_daily(_t(spark, sf, "events"), max_lag=7)


@_q(
    "q290_theil_sen",
    """
    WITH b AS (SELECT user_id AS ent,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                      CAST(round(value * 100, 0) AS BIGINT) AS yu
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT ent, COUNT(*)::BIGINT AS n_points FROM b GROUP BY ent),
    k AS (SELECT b.ent, b.ep, b.yu, c.n_points FROM b JOIN c USING (ent)
          WHERE c.n_points BETWEEN 2 AND 200),
    p AS (SELECT a.ent, a.n_points,
                 CAST(round((b2.yu - a.yu)::DOUBLE / 100.0
                            / ((b2.ep - a.ep)::DOUBLE / 3600.0)
                            * 1000000.0, 0) AS BIGINT) AS sl_u
          FROM k a JOIN k b2 ON b2.ent = a.ent AND a.ep < b2.ep)
    SELECT ent AS user_id, n_points, COUNT(*)::BIGINT AS n_pairs,
           quantile_cont(sl_u, 0.5) / 1000000.0 AS slope_per_h
    FROM p GROUP BY ent, n_points
    """,
)
def q290(spark, sf):
    """Theil-Sen robust purchase-value trend per user
    (timeseries.theil_sen_slope): median of pairwise slopes in exact
    10⁻⁶ micro-units, so the even-count interpolation is an exact
    integer midpoint on both engines and is emitted UNROUNDED (the
    midpoint's 7th decimal is often an exact '5', where the engines'
    rounding modes disagree while the raw division cannot). The
    29%-breakdown counterpart of q84's OLS slope; the pair join is
    group-quadratic with a 200-point hub cap."""
    from bran_spark.operators.timeseries import theil_sen_slope

    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    return theil_sen_slope(ev, max_points=200)


@_q(
    "q291_seasonal_strength",
    """
    WITH per_day AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                              AS day,
                            COUNT(*)::BIGINT AS x
                     FROM events GROUP BY 1),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM per_day),
    spine AS (SELECT UNNEST(range(d0, d1 + 1)) AS day FROM span),
    dense AS (SELECT s.day, COALESCE(p.x, 0)::BIGINT AS x
              FROM spine s LEFT JOIN per_day p ON p.day = s.day),
    ma AS (SELECT day, x, COUNT(*) OVER w AS wn, SUM(x) OVER w AS ws
           FROM dense
           WINDOW w AS (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (SELECT day, day % 7 AS dop,
                   CAST(round((7 * x - ws)::DOUBLE / 7 * 1000000.0, 0)
                        AS BIGINT) AS d_u
            FROM ma WHERE wn = 7),
    per_dop AS (SELECT dop, COUNT(*)::BIGINT AS c, SUM(d_u)::BIGINT AS sd
                FROM det GROUP BY dop),
    seas AS (SELECT dop, CAST(round(sd::DOUBLE / c, 0) AS BIGINT) AS m_u
             FROM per_dop),
    r AS (SELECT d.day, d.d_u, d.d_u - s.m_u AS r_u
          FROM det d JOIN seas s ON s.dop = d.dop),
    gg AS (SELECT COUNT(*)::BIGINT AS dn,
                  SUM(d_u::HUGEINT) AS sd_u,
                  SUM(d_u::HUGEINT * d_u) AS qd_u,
                  SUM(r_u::HUGEINT) AS sr_u,
                  SUM(r_u::HUGEINT * r_u) AS qr_u
           FROM r),
    v AS (SELECT dn,
                 greatest((qd_u::DOUBLE
                           - sd_u::DOUBLE * sd_u::DOUBLE / dn::DOUBLE)
                          / dn::DOUBLE / 1e12, 0.0) AS vd,
                 greatest((qr_u::DOUBLE
                           - sr_u::DOUBLE * sr_u::DOUBLE / dn::DOUBLE)
                          / dn::DOUBLE / 1e12, 0.0) AS vr
          FROM gg)
    SELECT dn AS n_days, ROUND(vd, 6) AS var_detrended,
           ROUND(vr, 6) AS var_remainder,
           ROUND(CASE WHEN vd > 0 THEN greatest(1.0 - vr / vd, 0.0) END, 6)
             AS strength,
           (SELECT dop FROM seas ORDER BY m_u DESC, dop ASC LIMIT 1)
             AS peak_dop
    FROM v
    """,
)
def q291(spark, sf):
    """Day-of-week seasonality strength of the global daily series
    (timeseries.seasonal_strength, Hyndman's F_s with a centered 7-day
    moving-average trend): detrended values round ONCE to micro-unit
    BIGINTs, remainders are exact integer differences, and both
    variances come from HUGEINT/DECIMAL moment sums — associative
    everywhere. Output includes the peak day-of-period."""
    from bran_spark.operators.timeseries import seasonal_strength

    return seasonal_strength(_t(spark, sf, "events"), period=7)


# =========================================================================
# §x Ontology reasoning (RDFS entailment, SPARQL property paths)
# =========================================================================

#: Literal demo ontology over the lifted KG's predicates. The Spark side
#: computes the subPropertyOf / subClassOf transitive closures itself
#: (reasoning._transitive_closure_small); the DuckDB twin inlines the
#: HAND-CLOSED closures of these same literals, so the oracle verifies
#: both the closure result and the corpus-side joins.
_ONTOLOGY_ROWS = [
    # subPropertyOf (chain: in_* -> located_in -> positioned)
    ("in_nation", "subPropertyOf", "located_in"),
    ("in_region", "subPropertyOf", "located_in"),
    ("in_region_of", "subPropertyOf", "located_in"),
    ("located_in", "subPropertyOf", "positioned"),
    # subClassOf (chains: Customer/Supplier -> Party -> Agent;
    # Nation/Region -> Place -> Locus)
    ("Customer", "subClassOf", "Party"),
    ("Supplier", "subClassOf", "Party"),
    ("Party", "subClassOf", "Agent"),
    ("Nation", "subClassOf", "Place"),
    ("Region", "subClassOf", "Place"),
    ("Place", "subClassOf", "Locus"),
    # domain / range
    ("placed_by", "domain", "Order"), ("placed_by", "range", "Customer"),
    ("contains", "domain", "Order"), ("contains", "range", "Part"),
    ("uses_supplier", "domain", "Order"), ("uses_supplier", "range", "Supplier"),
    ("supplied_by", "domain", "Part"), ("supplied_by", "range", "Supplier"),
    ("in_nation", "domain", "Party"), ("in_nation", "range", "Nation"),
    ("in_region", "domain", "Nation"), ("in_region", "range", "Region"),
    ("in_region_of", "range", "Region"),
    ("from_nation", "domain", "Order"), ("from_nation", "range", "Nation"),
    ("located_in", "range", "Place"),
    ("positioned", "range", "Locus"),
]


# Shared twin CTEs for the RDFS family: the HAND-CLOSED closures of the
# _ONTOLOGY_ROWS literals (subp/subc), the domain/range maps, and the
# rdfs7/rdfs2/rdfs3/rdfs9 derivation chain over a triple CTE named ``t``.
_RDFS_CTES = """
    subp(s, o) AS (VALUES
        ('in_nation', 'located_in'), ('in_region', 'located_in'),
        ('in_region_of', 'located_in'), ('located_in', 'positioned'),
        ('in_nation', 'positioned'), ('in_region', 'positioned'),
        ('in_region_of', 'positioned')),
    subc(s, o) AS (VALUES
        ('Customer', 'Party'), ('Supplier', 'Party'), ('Party', 'Agent'),
        ('Nation', 'Place'), ('Region', 'Place'), ('Place', 'Locus'),
        ('Customer', 'Agent'), ('Supplier', 'Agent'),
        ('Nation', 'Locus'), ('Region', 'Locus')),
    dom(pred, cls0) AS (VALUES
        ('placed_by', 'Order'), ('contains', 'Order'),
        ('uses_supplier', 'Order'), ('supplied_by', 'Part'),
        ('in_nation', 'Party'), ('in_region', 'Nation'),
        ('from_nation', 'Order')),
    rng(pred, cls0) AS (VALUES
        ('placed_by', 'Customer'), ('contains', 'Part'),
        ('uses_supplier', 'Supplier'), ('supplied_by', 'Supplier'),
        ('in_nation', 'Nation'), ('in_region', 'Region'),
        ('in_region_of', 'Region'), ('from_nation', 'Nation'),
        ('located_in', 'Place'), ('positioned', 'Locus')),
    lifted AS (SELECT subj, pred, obj FROM t
               UNION ALL
               SELECT t.subj, sp.o AS pred, t.obj
               FROM t JOIN subp sp ON sp.s = t.pred),
    base AS (SELECT l.subj AS entity, d.cls0, l.pred, 'S' AS role
             FROM lifted l JOIN dom d ON d.pred = l.pred
             UNION ALL
             SELECT l.obj AS entity, r.cls0, l.pred, 'O' AS role
             FROM lifted l JOIN rng r ON r.pred = l.pred),
    typed AS (SELECT entity, cls0 AS cls, cls0, pred, role FROM base
              UNION ALL
              SELECT b.entity, c.o AS cls, b.cls0, b.pred, b.role
              FROM base b JOIN subc c ON c.s = b.cls0),
    closure AS (SELECT entity, cls,
                       CAST(COUNT(DISTINCT pred || '|' || role || '|'
                                  || cls0) AS BIGINT) AS n_derivations
                FROM typed GROUP BY entity, cls)
"""


@_q(
    "q292_rdfs_closure",
    _KG_TRIPLES_SQL
    + ", "
    + _RDFS_CTES
    + """
    SELECT entity, cls, n_derivations FROM closure
    """,
)
def q292(spark, sf):
    """RDFS entailment materialization (reasoning.rdfs_closure) over the
    lifted relational KG with a literal demo ontology: rdfs7 subproperty
    lifting, rdfs2/3 domain-range typing, rdfs9 subclass lifting, with a
    per-(entity, cls) distinct-derivation provenance count. Schema
    closures are driver-looped on ontology-sized data and broadcast; the
    corpus sees map-side joins plus ONE shuffle (the final groupBy)."""
    from bran_spark.operators.reasoning import rdfs_closure

    schema = spark.createDataFrame(_ONTOLOGY_ROWS, ["s", "p", "o"])
    return rdfs_closure(_kg_relational_triples(spark, sf), schema)


@_q(
    "q293_property_path",
    _KG_TRIPLES_SQL
    + """
    , e_loc AS (SELECT subj AS s, obj AS o FROM t
                WHERE pred IN ('in_nation', 'in_region')),
    loc2 AS (SELECT DISTINCT s, o FROM (
               SELECT s, o FROM e_loc
               UNION ALL
               SELECT a.s, b.o FROM e_loc a JOIN e_loc b ON a.o = b.s)),
    p1 AS (SELECT DISTINCT pb.subj AS s, l.o AS o
           FROM t pb JOIN loc2 l ON pb.obj = l.s
           WHERE pb.pred = 'placed_by'),
    p2 AS (SELECT DISTINCT pb.obj AS s, c.obj AS o
           FROM t pb JOIN t c ON c.subj = pb.subj
           WHERE pb.pred = 'placed_by' AND c.pred = 'contains')
    SELECT DISTINCT s, o FROM (
      SELECT s, o FROM p1 UNION ALL SELECT s, o FROM p2)
    """,
)
def q293(spark, sf):
    """SPARQL 1.1 property-path evaluation (reasoning.property_path)
    exercising all four path operators in one expression:
    (placed_by / (in_nation|in_region){1,2}) | (^placed_by / contains)
    — orders to the nations/regions they locate in, plus customers to
    the parts their orders contain. Composition is left-to-right
    repartition joins with a semi-naive DISTINCT per step."""
    from bran_spark.operators.reasoning import property_path

    path = (
        "alt",
        ("seq", "placed_by", ("plus", ("alt", "in_nation", "in_region"), 2)),
        ("seq", ("inv", "placed_by"), "contains"),
    )
    return property_path(_kg_relational_triples(spark, sf), path)


# Dirty-KG variant for the consistency audits: every 5th supplier is
# mis-extracted as the SUBJECT of an in_region statement (a type-slot
# error a real pipeline produces when NER confuses an org with a place).
_NOISY_KG_T_SQL = f"""
    t AS (SELECT DISTINCT subj, pred, obj FROM (
        {_KG_TRIPLES_UNION_SQL}
        UNION ALL
        SELECT 'S:' || s_suppkey, 'in_region',
               'R:' || CAST((s_suppkey % 100) % 4 AS VARCHAR)
        FROM supplier WHERE s_suppkey % 5 = 0))
"""


def _noisy_kg(spark, sf) -> DataFrame:
    """Spark twin of _NOISY_KG_T_SQL."""
    noisy = _t(spark, sf, "supplier").where(
        F.col("s_suppkey") % 5 == 0
    ).select(
        F.concat(F.lit("S:"), F.col("s_suppkey").cast("string")).alias(
            "subj"
        ),
        F.lit("in_region").alias("pred"),
        F.concat(
            F.lit("R:"),
            ((F.col("s_suppkey") % 100) % 4).cast("string"),
        ).alias("obj"),
    )
    return (
        _kg_relational_triples(spark, sf).unionByName(noisy).distinct()
    )


@_q(
    "q298_disjointness_audit",
    "WITH "
    + _NOISY_KG_T_SQL
    + ", "
    + _RDFS_CTES
    + """
    , dis(cls_a, cls_b) AS (VALUES
        ('Party', 'Place'), ('Agent', 'Locus'))
    SELECT a.entity, d.cls_a, d.cls_b,
           a.n_derivations AS n_der_a, b.n_derivations AS n_der_b
    FROM closure a
    JOIN closure b ON b.entity = a.entity
    JOIN dis d ON d.cls_a = a.cls AND d.cls_b = b.cls
    """,
)
def q298(spark, sf):
    """owl:disjointWith consistency audit (reasoning.disjointness_audit)
    over the RDFS-entailed types of a deliberately dirtied KG (every 5th
    supplier mis-extracted as an in_region SUBJECT): those suppliers
    entail both Party (via in_nation's domain) and Place (via in_region's
    domain Nation ⊆ Place), violating both declared disjoint pairs.
    Corpus slice is semi-filtered to watched classes before the entity
    self-join; disjoint pairs broadcast."""
    from bran_spark.operators.reasoning import (
        disjointness_audit,
        rdfs_closure,
    )

    schema = spark.createDataFrame(_ONTOLOGY_ROWS, ["s", "p", "o"])
    typed = rdfs_closure(_noisy_kg(spark, sf), schema)
    disjoint = spark.createDataFrame(
        [("Party", "Place"), ("Agent", "Locus")], ["cls_a", "cls_b"]
    )
    return disjointness_audit(typed, disjoint)


@_q(
    "q299_domain_conformance",
    "WITH "
    + _NOISY_KG_T_SQL
    + ", "
    + _RDFS_CTES
    + """
    , pm(prefix, cls) AS (VALUES
        ('C', 'Customer'), ('C2', 'Customer'), ('C3', 'Customer'),
        ('S', 'Supplier'), ('N', 'Nation'), ('R', 'Region'),
        ('O', 'Order'), ('P', 'Part')),
    tx AS (SELECT x.pred, d.cls0 AS domain, pm.cls AS subj_cls
           FROM t x
           JOIN dom d ON d.pred = x.pred
           LEFT JOIN pm ON pm.prefix = split_part(x.subj, ':', 1)),
    fl AS (SELECT tx.pred, tx.domain,
                  (tx.subj_cls = tx.domain OR sc.s IS NOT NULL) AS ok
           FROM tx LEFT JOIN subc sc
             ON sc.s = tx.subj_cls AND sc.o = tx.domain)
    SELECT pred, domain,
           COUNT(*)::BIGINT AS n_triples,
           CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_conforming,
           ROUND(CAST(COUNT(*) FILTER (WHERE ok) AS DOUBLE) / COUNT(*),
                 6) AS conformance
    FROM fl GROUP BY pred, domain
    """,
)
def q299(spark, sf):
    """Declared-domain conformance per predicate
    (reasoning.domain_conformance) on the dirtied KG: in_region drops
    below 1.0 exactly by the mis-extracted supplier share (Supplier is
    not a subclass of Nation); every other domained predicate stays at
    1.0. Domain map, subclass closure and prefix map broadcast; one
    predicate-keyed shuffle."""
    from bran_spark.operators.reasoning import domain_conformance

    schema = spark.createDataFrame(_ONTOLOGY_ROWS, ["s", "p", "o"])
    prefix_map = spark.createDataFrame(
        [
            ("C", "Customer"), ("C2", "Customer"), ("C3", "Customer"),
            ("S", "Supplier"), ("N", "Nation"), ("R", "Region"),
            ("O", "Order"), ("P", "Part"),
        ],
        ["prefix", "cls"],
    )
    return domain_conformance(_noisy_kg(spark, sf), schema, prefix_map)


@_q(
    "q300_inverse_materialize",
    _KG_TRIPLES_SQL
    + f"""
    , coin AS (SELECT subj, pred, obj, {_hex8("h")} % 20 AS c
               FROM (SELECT subj, pred, obj,
                            md5(subj || '|' || pred || '|' || obj) AS h
                     FROM t)),
    kg AS (SELECT subj, pred, obj FROM t
           UNION ALL
           SELECT obj AS subj, 'supplies' AS pred, subj AS obj
           FROM coin WHERE pred = 'supplied_by' AND c = 1),
    inv(pred, inv_pred) AS (VALUES ('supplied_by', 'supplies')),
    cand AS (SELECT DISTINCT k.obj AS subj, i.inv_pred AS pred,
                    k.subj AS obj
             FROM kg k JOIN inv i ON i.pred = k.pred)
    SELECT c.subj, c.pred, c.obj FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM kg g
                      WHERE g.subj = c.subj AND g.pred = c.pred
                        AND g.obj = c.obj)
    """,
)
def q300(spark, sf):
    """owl:inverseOf materialization (reasoning.materialize_inverses)
    over a KG where the 'supplies' inverse of supplied_by is only
    PARTIALLY asserted (the q297-style md5-coin c==1 slice): the
    operator must emit exactly the missing reversals and suppress the
    asserted ones. Inverse map broadcast; one (s, p, o) anti-join."""
    from bran_spark.operators.reasoning import materialize_inverses

    t = _kg_relational_triples(spark, sf)
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 20
    )
    tc = t.withColumn("c", coin)
    kg = t.unionByName(
        tc.where((F.col("pred") == "supplied_by") & (F.col("c") == 1)).select(
            F.col("obj").alias("subj"),
            F.lit("supplies").alias("pred"),
            F.col("subj").alias("obj"),
        )
    )
    inverses = spark.createDataFrame(
        [("supplied_by", "supplies")], ["pred", "inv_pred"]
    )
    return materialize_inverses(kg, inverses)


# =========================================================================
# §x KG lifecycle (sameAs merge, temporal coalescing, schema induction,
#    snapshot diff) — operators/kglifecycle.py
# =========================================================================

# Two-source KG for the sameAs demo: a second extraction source re-asserts
# every customer's nationality under C2: ids, a third source covers the
# k%7==0 customers under C3: ids, and the linkage layer emits
# C:k≡C2:k for k%5≠0 plus C2:k≡C3:k for k%7==0 — so the closure must walk
# a 2-hop chain, and k%5==0 customers stay deliberately unmerged (the
# rewrite must not invent links the linkage never asserted).
_SAMEAS_CTES = f"""
    t AS (SELECT DISTINCT subj, pred, obj FROM ({{kg}})),
    ck AS (SELECT c_custkey AS ckey, CAST(c_custkey AS VARCHAR) AS k,
                  CAST(c_nationkey AS VARCHAR) AS nk FROM customer),
    src2 AS (SELECT 'C2:' || k AS subj, 'in_nation' AS pred,
                    'N:' || nk AS obj FROM ck),
    src3 AS (SELECT 'C3:' || k AS subj, 'in_nation' AS pred,
                    'N:' || nk AS obj FROM ck WHERE ckey % 7 = 0),
    tt AS (SELECT * FROM t UNION ALL SELECT * FROM src2
           UNION ALL SELECT * FROM src3),
    sa AS (SELECT 'C:' || k AS a, 'C2:' || k AS b FROM ck WHERE ckey % 5 <> 0
           UNION ALL
           SELECT 'C2:' || k, 'C3:' || k FROM ck WHERE ckey % 7 = 0),
    edges AS (SELECT a, b FROM sa UNION ALL SELECT b, a FROM sa),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    ),
    canon AS (SELECT node, MIN(lab) AS component FROM r GROUP BY node)
"""


def _sameas_inputs(spark, sf):
    """(triples, sameas_edges) for the two-source merge demo — the Spark
    twin of _SAMEAS_CTES' tt/sa."""
    ck = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_custkey").cast("string").alias("k"),
        F.col("c_nationkey").cast("string").alias("nk"),
    )
    src2 = ck.select(
        F.concat(F.lit("C2:"), "k").alias("subj"),
        F.lit("in_nation").alias("pred"),
        F.concat(F.lit("N:"), "nk").alias("obj"),
    )
    src3 = ck.where(F.col("ckey") % 7 == 0).select(
        F.concat(F.lit("C3:"), "k").alias("subj"),
        F.lit("in_nation").alias("pred"),
        F.concat(F.lit("N:"), "nk").alias("obj"),
    )
    triples = (
        _kg_relational_triples(spark, sf)
        .unionByName(src2)
        .unionByName(src3)
    )
    sameas = ck.where(F.col("ckey") % 5 != 0).select(
        F.concat(F.lit("C:"), "k").alias("a"),
        F.concat(F.lit("C2:"), "k").alias("b"),
    ).unionByName(
        ck.where(F.col("ckey") % 7 == 0).select(
            F.concat(F.lit("C2:"), "k").alias("a"),
            F.concat(F.lit("C3:"), "k").alias("b"),
        )
    )
    return triples, sameas


@_q(
    "q294_sameas_rewrite",
    "WITH RECURSIVE "
    + _SAMEAS_CTES.format(kg=_KG_TRIPLES_UNION_SQL)
    + """
    , rw AS (SELECT COALESCE(cs.component, x.subj) AS subj, x.pred,
                    COALESCE(co.component, x.obj) AS obj,
                    x.subj AS subj0, x.obj AS obj0
             FROM tt x
             LEFT JOIN canon cs ON cs.node = x.subj
             LEFT JOIN canon co ON co.node = x.obj)
    SELECT subj, pred, obj,
           CAST(COUNT(DISTINCT subj0 || '|' || obj0) AS BIGINT) AS n_sources
    FROM rw GROUP BY subj, pred, obj
    """,
)
def q294(spark, sf):
    """owl:sameAs canonical rewrite (kglifecycle.sameas_rewrite): merge a
    two-extra-source customer KG through its linkage edges — components
    give the canonical id (min reachable, 2-hop chains close), shuffle
    joins rewrite subj/obj, and collapsed duplicates keep an n_sources
    provenance count. Twin computes components with a recursive CTE —
    algorithm-independent evidence for the star-contraction pass."""
    from bran_spark.operators.kglifecycle import sameas_rewrite

    triples, sameas = _sameas_inputs(spark, sf)
    return sameas_rewrite(triples, sameas)


@_q(
    "q295_temporal_coalesce",
    """
    WITH iv0 AS (SELECT 'S:' || CAST(l_suppkey AS VARCHAR) AS subj,
                        'supplies' AS pred,
                        'P:' || CAST(l_partkey % 100 AS VARCHAR) AS obj,
                        l_shipdate AS s,
                        l_shipdate
                          + to_days(CAST(l_quantity AS INT)) AS e
                 FROM lineitem),
    -- pre-aggregate exact duplicates: makes (s, e) a TOTAL order per
    -- key, so the two window passes below can never disagree on ties
    iv AS (SELECT subj, pred, obj, s, e, COUNT(*)::BIGINT AS cnt
           FROM iv0 GROUP BY subj, pred, obj, s, e),
    marked AS (SELECT *,
                 CASE WHEN s > MAX(e) OVER (
                        PARTITION BY subj, pred, obj ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      OR MAX(e) OVER (
                        PARTITION BY subj, pred, obj ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                 THEN 1 ELSE 0 END AS opens
               FROM iv),
    isl AS (SELECT *, SUM(opens) OVER (
                PARTITION BY subj, pred, obj ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM marked)
    SELECT subj, pred, obj,
           MIN(s) AS valid_from, MAX(e) AS valid_to,
           SUM(cnt)::BIGINT AS n_merged
    FROM isl GROUP BY subj, pred, obj, island
    """,
)
def q295(spark, sf):
    """Temporal triple coalescing (kglifecycle.coalesce_intervals):
    supplier→part-family supply activity windows (valid_from = ship
    date, valid_to = ship date + quantity days) merged per (subj, pred,
    obj) by the gaps-and-islands pass — running max-end over EARLIER
    rows only, so contained intervals merge. One window per
    high-cardinality key; no global sort."""
    from bran_spark.operators.kglifecycle import coalesce_intervals

    iv = _t(spark, sf, "lineitem").select(
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias(
            "subj"
        ),
        F.lit("supplies").alias("pred"),
        F.concat(
            F.lit("P:"), (F.col("l_partkey") % 100).cast("string")
        ).alias("obj"),
        F.col("l_shipdate").alias("valid_from"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, CAST(l_quantity AS INT))"
        ).alias("valid_to"),
    )
    return coalesce_intervals(iv)


@_q(
    "q296_induce_schema",
    _KG_TRIPLES_SQL
    + """
    , base AS (SELECT pred, split_part(subj, ':', 1) AS s_type,
                      split_part(obj, ':', 1) AS o_type, subj, obj
               FROM t),
    totals AS (SELECT pred, COUNT(*)::BIGINT AS n_triples,
                      COUNT(DISTINCT subj)::BIGINT AS n_subj,
                      COUNT(DISTINCT obj)::BIGINT AS n_obj
               FROM base GROUP BY pred),
    sc AS (SELECT pred, s_type, COUNT(*) AS cnt
           FROM base GROUP BY pred, s_type),
    sd AS (SELECT pred, s_type AS subj_type,
                  ROUND(cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY pred),
                        6) AS subj_type_share,
                  row_number() OVER (PARTITION BY pred
                      ORDER BY cnt DESC, s_type ASC) AS rn
           FROM sc),
    oc AS (SELECT pred, o_type, COUNT(*) AS cnt
           FROM base GROUP BY pred, o_type),
    od AS (SELECT pred, o_type AS obj_type,
                  ROUND(cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY pred),
                        6) AS obj_type_share,
                  row_number() OVER (PARTITION BY pred
                      ORDER BY cnt DESC, o_type ASC) AS rn
           FROM oc)
    SELECT tl.pred, tl.n_triples, tl.n_subj, tl.n_obj,
           ROUND(tl.n_subj::DOUBLE / tl.n_triples, 6) AS fun,
           ROUND(tl.n_obj::DOUBLE / tl.n_triples, 6) AS inv_fun,
           sd.subj_type, sd.subj_type_share,
           od.obj_type, od.obj_type_share
    FROM totals tl
    JOIN sd ON sd.pred = tl.pred AND sd.rn = 1
    JOIN od ON od.pred = tl.pred AND od.rn = 1
    """,
)
def q296(spark, sf):
    """Bottom-up schema induction (kglifecycle.induce_schema): per
    predicate the PARIS-style functionality / inverse functionality and
    the dominant subject/object type prefix with its share — the induced
    counterpart of q292's declared ontology (disagreement = extraction
    bug detector). Two-level aggregation, predicate-bounded keys."""
    from bran_spark.operators.kglifecycle import induce_schema

    return induce_schema(_kg_relational_triples(spark, sf))


@_q(
    "q297_kg_diff",
    _KG_TRIPLES_SQL
    + f"""
    , coin AS (SELECT subj, pred, obj, {_hex8("h")} % 20 AS c
               FROM (SELECT subj, pred, obj,
                            md5(subj || '|' || pred || '|' || obj) AS h
                     FROM t)),
    new_t AS (SELECT subj, pred, obj FROM coin WHERE c <> 0
              UNION ALL
              SELECT obj AS subj, 'supplies' AS pred, subj AS obj
              FROM coin WHERE pred = 'supplied_by' AND c = 1),
    o AS (SELECT DISTINCT subj, pred, obj FROM t),
    n AS (SELECT DISTINCT subj, pred, obj FROM new_t),
    j AS (SELECT COALESCE(o.pred, n.pred) AS pred,
                 (o.subj IS NULL) AS added, (n.subj IS NULL) AS removed
          FROM o FULL OUTER JOIN n
            ON o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj)
    SELECT pred,
           CAST(COUNT(*) FILTER (WHERE added) AS BIGINT) AS n_added,
           CAST(COUNT(*) FILTER (WHERE removed) AS BIGINT) AS n_removed,
           CAST(COUNT(*) FILTER (WHERE NOT added AND NOT removed)
                AS BIGINT) AS n_common,
           ROUND(CAST(COUNT(*) FILTER (WHERE added OR removed) AS DOUBLE)
                 / COUNT(*), 6) AS churn
    FROM j GROUP BY pred
    """,
)
def q297(spark, sf):
    """KG snapshot diff (kglifecycle.kg_diff): the release report between
    the lifted KG and a deterministically perturbed re-extraction (5%
    md5-coin dropped, reversed 'supplies' edges added for the c==1
    slice of supplied_by) — per-predicate added/removed/common + churn.
    One full-outer shuffle join on (subj, pred, obj), AQE-splittable."""
    from bran_spark.operators.kglifecycle import kg_diff

    t = _kg_relational_triples(spark, sf)
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 20
    )
    tc = t.withColumn("c", coin)
    new_t = tc.where(F.col("c") != 0).select("subj", "pred", "obj").unionByName(
        tc.where((F.col("pred") == "supplied_by") & (F.col("c") == 1)).select(
            F.col("obj").alias("subj"),
            F.lit("supplies").alias("pred"),
            F.col("subj").alias("obj"),
        )
    )
    return kg_diff(t, new_t)


# =========================================================================
# Registry ordering: the driver's correctness gate hash-checks the FIRST
# 50 insertion-order entries of ``queries()``. Definition order above is
# thematic (relational → KG → curation → graph); the curated list below
# re-orders the dicts so those 50 slots maximize operator-FAMILY coverage
# — the 8 rows-only fixture entries plus one best representative per
# family (dedup, LSH/ANN, graph, packing, search, sampling, as-of/CDC,
# text, multimodal) instead of ~40 relational basics. Entries past slot
# 50 keep definition order and remain covered by tools/oracle_check.py,
# which always runs the FULL registry.
# =========================================================================

_FIRST_50 = [
    # rows-only fixture entries (model forward passes, xxhash64 simhash,
    # media digests — non-SQL-expressible; driver records rows-only)
    "kg_triples_plain", "kg_triples_fixture", "kg_mentions_fixture",
    "simhash_docs", "media_features_fixture", "kg_edges_fixture",
    "bpe_tokens_fixture", "ner_tags_fixture",
    # KG-construction core (bran parity surface)
    "q18_lse_pooling", "q19_mention_detection", "q20_pair_generation",
    "q21_gold_label_join", "q22_hypernym_anti_join",
    "q23_triple_dedup_support", "q24_threshold_sweep", "q25_eval_prf",
    "q26_char_align",
    # dedup family (n-gram Jaccard, MinHash+LSH, embedding near-dup,
    # connected components, composed end-to-end; exact dedup q27 is the
    # simplest op in the corpus and stays mirror-covered — its slot goes
    # to the round-3 KG-fusion family below)
    # (components q50 stays mirror-covered: q74's survivors AND q213's
    # per-round relabel both execute it; its slot funds the round-3
    # Borůvka spanning-forest family below)
    # (q29's banded MinHash-LSH executes INSIDE q74's end-to-end plan and
    # q35's sign-LSH inside q55's — both stay mirror-covered; their slots
    # fund this session's new families: Schwartz-Hearst abbreviation
    # mining and CUPED experiment readout)
    # (r5 session-3 rotation: q28 n-gram Jaccard — hard-green in r04,
    # executed inside q72's verify step — and q223 acronym pairs — hard-
    # green in r04, extraction family keeps the Hearst rep q257 — rotate
    # OUT to the mirror; their slots fund inverse-predicate detection
    # and TextTiling segmentation, both new families this session)
    "q270_inverse_predicates", "q282_texttiling",
    "q217_cuped", "q213_boruvka_msf",
    "q74_dedup_survivors",
    # (r5 session-4 rotation: q52 repetition stats, q61 stratified
    # sampling and q96 triple provenance — all hard-green in
    # CORRECTNESS_r04 and stable since r2/r3 — rotate OUT to the mirror;
    # their slots fund the TWO new session-4 families: ontology
    # REASONING (RDFS entailment closure — the disjointness/conformance
    # audits replay its derivation chain) and KG LIFECYCLE (sameAs
    # canonical rewrite = components + provenance counting, and
    # bottom-up schema induction))
    "q292_rdfs_closure", "q294_sameas_rewrite", "q296_induce_schema",
    # KG-fusion family (round-3 session additions): AMIE rule mining and
    # truth discovery are its two distinct algorithm shapes (inference
    # q143 / alignment q142 / profile q145 / incremental q141 /
    # reduction q139 / calibration q140 stay mirror-covered)
    "q138_rule_mining", "q144_truth_discovery",
    # KG-quality family (round-3): ontology validation and instance-level
    # entity alignment are its two distinct shapes (property table q147 /
    # star pattern q150 / blocking q149 / PSI q151 stay mirror-covered).
    # Slots funded by q59 (tf-idf ≈ BM25's q53 family) and q63 (graph
    # family keeps pagerank/triangles/closure).
    "q146_kg_constraints", "q148_entity_alignment",
    # round-3 session additions: eval-leak decontamination, ExactSubstr-
    # style span removal, SemDeDup — each a distinct curation family.
    # (simhash stays mirror-covered via q40 + the rows-only fixture;
    # weighted sampling via q78; vocab top-N via q38.)
    "q108_decontaminate", "q109_dup_span_removal", "q110_semantic_dedup",
    # retrieval + packing
    "q53_bm25_search", "q54_token_packing",
    # similarity / ANN family (exact-cosine baseline q30 and single-probe
    # variants stay mirror-covered; the driver slots go to one rep per
    # sub-family: k-means coarse cells, multi-probe IVF, banded k-NN,
    # PQ encode — the round-3 compression path)
    # (multi-probe q49 is the probe-count dial of q47's trained cells —
    # mirror-covered; its slot funds the round-3 weak-supervision family)
    # (r5 session-3 rotation: q47's k-means cells — hard-green in r04 and
    # executed inside q110's SemDeDup plan — rotates OUT; the slot funds
    # capture-recapture KG-completeness estimation, a new family)
    "q272_capture_recapture", "q183_weak_labels", "q55_ann_knn_join",
    "q99_product_quantize",
    # graph family (BFS/LPA/degree stay mirror-covered; PageRank,
    # triangles, PMI weighting and hierarchy closure are the four
    # distinct algorithm shapes). q66's closure slot now goes to
    # q160, whose plan CONTAINS the ancestor closure and adds
    # LCA/Wu-Palmer + information content on top (ontology-semantics
    # family, new this round); q66 stays mirror-covered.
    # (r5 rotation: triangle counting rotates OUT to the mirror — stable
    # since r2, and the graph family keeps pagerank + ontology-semantics
    # reps; its slot funds the NEW KG-representation-learning family's
    # 2-hop feature pre-propagation)
    "q56_pagerank", "q249_feature_propagation", "q160_lin_similarity",
    # KG provenance + eval-CI (round-3 families)
    "q101_bootstrap_prf",
    # KG-embedding eval family (r5, new): filtered TransE ranking takes
    # the slot of the long-stable q93_doc_chunking (mirror-covered)
    "q248_transe_eval",
    # sampling family (negative sampling q65 stays mirror-covered; its
    # slot funds the Fellegi-Sunter linkage family, new this round)
    "q165_fs_linkage",
    # as-of / CDC / reconciliation family: long-stable relational basics
    # q41_asof_join and q67_merge_latest rotate OUT to the mirror in r4
    # (VERDICT r3 #6) — their slots funded the session-6 privacy-census
    # and MDM-survivorship families. r5 rotation: both got their hard
    # green in CORRECTNESS_r04, so the slots move to the NEWEST reps —
    # the t-closeness rung of the privacy ladder (k/l stay mirror-
    # covered) and the Hearst hypernym-harvest extraction family
    "q253_t_closeness", "q257_hearst_hypernyms",
    # text-analysis family (Levenshtein verify q92 stays mirror-covered —
    # fs_linkage q165's agreement fields replay the same edit-distance
    # core; its slot funds the event-sequence family, which had no
    # driver rep: the integer-fixed-point Markov stationary mix)
    "q36_lang_id", "q219_stationary_mix",
    # multimodal
    "q46_media_features",
    # experimentation family: r4 rotated in the O'Brien-Fleming monitor
    # (hard-green in CORRECTNESS_r04, back to the mirror); r5 passes the
    # slot to the newest member, the BH-FDR multiple-testing gate
    "q255_bh_fdr",
]

assert len(_FIRST_50) == 50 and len(set(_FIRST_50)) == 50
_missing = [n for n in _FIRST_50 if n not in QUERIES]
assert not _missing, f"unknown names in _FIRST_50: {_missing}"

_tail = [n for n in QUERIES if n not in set(_FIRST_50)]
QUERIES = {n: QUERIES[n] for n in [*_FIRST_50, *_tail]}
ORACLE = {n: ORACLE[n] for n in QUERIES if n in ORACLE}
