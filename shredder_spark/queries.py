"""Declared verification queries Q01–Q51 (SURVEY.md §2.3).

Each entry pairs an engine implementation (Spark SQL text or a
DataFrame-API builder) with a DuckDB oracle SQL text. Where the two
dialects agree the text is shared; ``[paired]`` queries carry separate
texts with identical semantics.

Determinism conventions (SURVEY.md §2.3):
- total ORDER BY on every query;
- float aggregates wrapped ROUND(..., 2), inputs cast DOUBLE first;
- integer-valued computed columns cast to BIGINT on BOTH sides so the
  schema compare can't trip on INT-vs-BIGINT / HUGEINT dialect
  defaults (DuckDB SUM(int)→HUGEINT, ROW_NUMBER→BIGINT, LENGTH→BIGINT
  vs Spark INT/LONG);
- identical column aliases on both sides (driver sorts by column name
  before hashing).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from shredder_spark.catalog import register_views


@dataclass
class Query:
    name: str
    oracle: Optional[str]  # DuckDB SQL; None → driver does rows-only check
    engine_sql: Optional[str] = None  # Spark SQL; None + no builder → use oracle text
    builder: Optional[Callable[[SparkSession], DataFrame]] = None
    tags: tuple = field(default_factory=tuple)

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        if self.builder is not None:
            return self.builder(spark)
        sql = self.engine_sql if self.engine_sql is not None else self.oracle
        return spark.sql(sql)


_REGISTRY: dict[str, Query] = {}


def _q(name: str, oracle: Optional[str], engine_sql: Optional[str] = None,
       builder=None, tags: tuple = ()) -> None:
    _REGISTRY[name] = Query(name, oracle, engine_sql, builder, tags)


def registry() -> dict[str, Query]:
    return dict(_REGISTRY)


# ---------------------------------------------------------------- B.1/B.2
_q("q01_scan_count", "SELECT COUNT(*) AS n FROM lineitem")

_q("q02_projection", """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem ORDER BY l_orderkey, l_linenumber
""")

_q("q03_compound_filter", """
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE (l_discount > 0.05 AND l_quantity < 25) OR l_returnflag = 'R'
ORDER BY l_orderkey, l_linenumber
""")

_q("q04_in_between_like", """
SELECT o_orderkey FROM orders
WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_orderstatus LIKE 'O%'
ORDER BY o_orderkey
""")

_q("q05_inner_join", """
SELECT c.c_custkey, c.c_name, o.o_orderkey
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
ORDER BY c.c_custkey, o.o_orderkey
""")

_q("q06_left_join", """
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey ORDER BY c.c_custkey
""")

_q("q07_right_join", """
SELECT n.n_name, c.c_custkey
FROM customer c RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY n.n_name, c.c_custkey NULLS FIRST
""")

# r10: the full-outer exhibit rewritten scale-safe. The original
# joined two FACT tables ON s_nationkey = c_nationkey (25 values), so
# the OUTPUT was quadratic in sf — 6e9 rows at sf10 (the r9 DuckDB
# count-only OOM), 6e11 at sf100, where it was the profile's one
# multi-hour DNF. A full join whose exhibit value is "unmatched rows
# survive on BOTH sides" doesn't need an output-explosive key: join on
# the high-cardinality key with each side filtered differently, so
# both null-extension directions appear structurally and the output
# stays linear in |supplier|+|customer| at every sf (100 TB shape:
# hash-partitioned SortMergeJoin, no row blow-up).
_q("q08_full_join", """
SELECT s.s_suppkey, c.c_custkey
FROM (SELECT * FROM supplier WHERE s_nationkey < 20) s
FULL JOIN (SELECT * FROM customer WHERE c_nationkey >= 5) c
  ON s.s_suppkey = c.c_custkey
ORDER BY s.s_suppkey NULLS LAST, c.c_custkey NULLS LAST
""")

_q("q09_semi_join", """
SELECT c.c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 100000)
ORDER BY c.c_custkey
""")

_q("q10_anti_join", """
SELECT p.p_partkey FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
ORDER BY p.p_partkey
""")

_q("q11_cross_join", """
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
""")

_q("q12_theta_join", """
SELECT l.l_orderkey, l.l_linenumber, p.p_partkey
FROM lineitem l JOIN part p
  ON l.l_partkey = p.p_partkey AND l.l_extendedprice > 10 * p.p_retailprice
ORDER BY l.l_orderkey, l.l_linenumber
""")

# BROADCAST hint: Spark honors it; DuckDB reads it as a plain comment.
_q("q13_broadcast_join", """
SELECT /*+ BROADCAST(n) */ n.n_name, COUNT(*) AS c
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""")

_q("q14_asof_join", """
SELECT p.event_id, MAX(s.ts) AS last_signup_ts
FROM events p LEFT JOIN events s
  ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id ORDER BY p.event_id
""")

_q("q15_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                  AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                             AS sum_base,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc,
       ROUND(AVG(l_quantity), 2)                                  AS avg_qty,
       COUNT(*)                                                   AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")

_q("q16_count_distinct", """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS u
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

_q("q17_rollup", """
SELECT n_regionkey, n_name, COUNT(*) AS c, CAST(GROUPING(n_name) AS BIGINT) AS g
FROM nation GROUP BY ROLLUP(n_regionkey, n_name)
ORDER BY n_regionkey NULLS LAST, n_name NULLS LAST
""")

_q("q18_cube", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
""")

_q("q19_grouping_sets", """
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS q
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
""")

_q("q20_having", """
SELECT o_custkey, COUNT(*) AS n FROM orders
GROUP BY o_custkey HAVING COUNT(*) >= 12 ORDER BY o_custkey
""")

_q("q20b_global_stats", """
SELECT COUNT(*) AS n, ROUND(MIN(o_totalprice),2) AS mn,
       ROUND(MAX(o_totalprice),2) AS mx, ROUND(AVG(o_totalprice),2) AS av,
       ROUND(STDDEV_SAMP(o_totalprice),2) AS sd,
       ROUND(VAR_SAMP(o_totalprice),2) AS vr
FROM orders
""")

_q("q20c_median",
   oracle="SELECT ROUND(QUANTILE_CONT(l_quantity, 0.5),2) AS med FROM lineitem",
   engine_sql="SELECT ROUND(PERCENTILE(l_quantity, 0.5),2) AS med FROM lineitem")

_Q21_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(RANK() OVER w AS BIGINT) AS rk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
       CAST(NTILE(4) OVER w AS BIGINT) AS nt
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
ORDER BY l_orderkey, l_linenumber
"""

# r13 data-gated crossover (r12 verdict item 6, measured both sides):
# the declared window partitions by the 3-value l_returnflag — three
# single-task sorts of a third of the fact table each at any scale.
# At sf0.1 (11 MB lineitem) that plain shape WINS (1.40 s vs the
# two-phase tier's 2.09 s — the tier pays ~3 fixed driver jobs,
# OPTIMIZATION_r12.md); at sf10 (967 MB, 60 M rows) the tier wins
# 2.91x (131.8 -> 45.2 s normalized, Q21_CROSSOVER_AB_r13.json, equal
# output fingerprints). The builder therefore runs the declared SQL
# below 256 MB of estimated lineitem scan bytes and the
# output-identical q421 grouped-rank tier at or above (threshold
# between the measured points, an order of magnitude above the
# plain-wins point so the driver's bench/oracle SFs keep the exact
# r12 plan; remote storage reads as huge => tier, the scale-safe
# branch). SHREDDER_Q21_TIER_MIN_BYTES overrides for tests.
def _q21_builder(spark: SparkSession) -> DataFrame:
    import os as _os

    from shredder_spark import catalog
    from shredder_spark.partitioning import estimated_scan_bytes

    li = catalog.load_table(spark, catalog.CURRENT_SF_DIR, "lineitem")
    threshold = int(_os.environ.get("SHREDDER_Q21_TIER_MIN_BYTES",
                                    str(256 << 20)))
    nbytes = estimated_scan_bytes(li)
    # unknown size means big: an unstatable input must not fall to
    # the single-task-sort plan
    if nbytes is None or nbytes >= threshold:
        from shredder_spark.operators.scale_windows import q21_scale
        return q21_scale(spark, catalog.CURRENT_SF_DIR)
    return spark.sql(_Q21_SQL)


_q("q21_ranking_windows", _Q21_SQL, builder=_q21_builder)

_q("q22_analytic_windows", """
SELECT o_orderkey,
       LAG(o_totalprice)  OVER w AS prev_p,
       LEAD(o_totalprice) OVER w AS next_p,
       FIRST_VALUE(o_orderkey) OVER w AS first_k
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_orderkey
""")

_q("q23_running_sum", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run
FROM orders ORDER BY o_orderkey
""")

_q("q24_sort_nulls", """
SELECT c_custkey, c_acctbal FROM customer
ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC
""")

_q("q25_topk", """
SELECT o_orderkey, ROUND(o_totalprice,2) AS p FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")

_q("q26_union_all", """
SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier
ORDER BY k
""")

_q("q27_union_distinct", """
SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier
ORDER BY k
""")

_q("q28_intersect", """
SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier
ORDER BY k
""")

_q("q29_except", """
SELECT p_size AS k FROM part EXCEPT SELECT n_nationkey FROM nation
ORDER BY k
""")

# ---------------------------------------------------------------- B.3
_q("q30_string_fns", """
SELECT p_partkey, UPPER(p_brand) AS u, LOWER(p_type) AS lo,
       SUBSTRING(p_name, 1, 5) AS s5, CAST(LENGTH(p_name) AS BIGINT) AS ln,
       REPLACE(p_brand, '#', '-') AS rp, TRIM(p_name) || '!' AS cc
FROM part ORDER BY p_partkey
""")

_q("q31_datetime_fns", """
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS y,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mo,
       o_orderdate + INTERVAL 1 DAY     AS next_d,
       CAST(o_orderdate AS DATE)        AS d
FROM orders ORDER BY o_orderkey
""")

_q("q32_math_fns", """
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS a, ROUND(l_extendedprice, 1) AS r,
       CAST(FLOOR(l_quantity) AS DOUBLE) AS f, CAST(CEIL(l_quantity) AS DOUBLE) AS c,
       CAST(l_linenumber % 3 AS BIGINT) AS md, ROUND(POWER(l_discount, 2), 4) AS pw,
       CASE WHEN l_extendedprice >= 0
            THEN ROUND(SQRT(l_extendedprice), 2) END AS sq,
       CASE WHEN l_extendedprice + 1 > 0
            THEN ROUND(LN(l_extendedprice + 1), 4) END AS lg
FROM lineitem ORDER BY l_orderkey, l_linenumber
""")

_q("q33_conditional_fns", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 150000 THEN 'big'
            WHEN o_totalprice > 50000  THEN 'mid' ELSE 'small' END AS bucket,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS st,
       LEAST(o_orderkey, o_custkey) AS le, GREATEST(o_orderkey, o_custkey) AS gr
FROM orders ORDER BY o_orderkey
""")

_q("q34_casts",
   oracle="""
SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS ks,
       CAST(CAST('123' AS INTEGER) + 1 AS BIGINT) AS i, CAST(o_custkey AS BIGINT) AS b,
       CAST(o_orderdate AS DATE) AS d
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey, CAST(o_orderkey AS STRING) AS ks,
       CAST(CAST('123' AS INTEGER) + 1 AS BIGINT) AS i, CAST(o_custkey AS BIGINT) AS b,
       CAST(o_orderdate AS DATE) AS d
FROM orders ORDER BY o_orderkey
""")

_q("q35_array_ops",
   oracle="""
SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok,
       CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text,' '))) AS BIGINT) AS n_uniq
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id, CAST(SIZE(SPLIT(text,' ')) AS BIGINT) AS n_tok,
       CAST(SIZE(ARRAY_DISTINCT(SPLIT(text,' '))) AS BIGINT) AS n_uniq
FROM documents ORDER BY doc_id
""")

_q("q36_struct",
   oracle="""
SELECT c_custkey, STRUCT_PACK(n := c_name, b := c_acctbal).n AS nm
FROM customer ORDER BY c_custkey
""",
   engine_sql="""
SELECT c_custkey, NAMED_STRUCT('n', c_name, 'b', c_acctbal).n AS nm
FROM customer ORDER BY c_custkey
""")

_q("q37_json_extract",
   oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN json_valid(props)
                THEN CAST(JSON_EXTRACT(props,'$.k') AS INT) END) AS BIGINT) AS s
FROM events GROUP BY event_type ORDER BY event_type
""",
   engine_sql="""
SELECT event_type, CAST(SUM(CAST(GET_JSON_OBJECT(props,'$.k') AS INT)) AS BIGINT) AS s
FROM events GROUP BY event_type ORDER BY event_type
""")


def _q38_builder(spark: SparkSession) -> DataFrame:
    # Python UDF surface (B50): register once, call from SQL. The slow
    # path by design — exists to prove the UDF plumbing, not for perf.
    spark.udf.register("py_reverse", lambda s: None if s is None else s[::-1], "string")
    return spark.sql("SELECT doc_id, py_reverse(lang) AS r FROM documents ORDER BY doc_id")


_q("q38_python_udf",
   oracle="SELECT doc_id, REVERSE(lang) AS r FROM documents ORDER BY doc_id",
   builder=_q38_builder)


def _q39_builder(spark: SparkSession) -> DataFrame:
    # Python UDTF surface (B123): Arrow-batched table function fan-out.
    # The UDTF splits on any whitespace run (Python str.split()); the
    # oracle mirrors that with a regexp split + empty filter so the two
    # agree even on irregular spacing.
    from shredder_spark.functions.text import register_tokenize_udtf
    register_tokenize_udtf(spark)
    return spark.sql("""
        SELECT d.doc_id, t.pos, t.tok
        FROM documents d, LATERAL tokenize_py(d.text) t
        WHERE d.doc_id < 20 ORDER BY d.doc_id, t.pos
    """)


_q("q39_python_udtf",
   oracle="""
WITH t AS (SELECT doc_id,
                  LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id < 20)
SELECT doc_id, CAST(UNNEST(GENERATE_SERIES(1, LEN(toks))) - 1 AS INT) AS pos,
       UNNEST(toks) AS tok
FROM t ORDER BY doc_id, pos
""",
   builder=_q39_builder)


def _q40_builder(spark: SparkSession) -> DataFrame:
    # Scalar pandas UDF (B50): one Arrow batch in, one out — the
    # vectorized Python tier (vs q38's row-at-a-time udf). The body is
    # pure pandas string ops so the whole column transforms per batch.
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit SCALAR eval type: module-level `from __future__ import
    # annotations` stringifies pd.Series hints, which the type-hint
    # inference path can't resolve for a locally-defined function
    @pandas_udf("string", PandasUDFType.SCALAR)
    def pd_sig(s):
        return s.str.slice(0, 3) + ":" + s.str.len().astype(str)

    spark.udf.register("pd_sig", pd_sig)
    return spark.sql("""
        SELECT o_orderkey, pd_sig(o_orderpriority) AS sig
        FROM orders ORDER BY o_orderkey
    """)


_q("q40_pandas_udf",
   oracle="""
SELECT o_orderkey,
       SUBSTR(o_orderpriority, 1, 3) || ':' ||
       CAST(LENGTH(o_orderpriority) AS VARCHAR) AS sig
FROM orders ORDER BY o_orderkey
""",
   builder=_q40_builder)

# ---------------------------------------------------------------- B.5 dedup
_q("q41_exact_dedup", """
SELECT lang, n_chars, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY lang, n_chars HAVING COUNT(*) > 1
ORDER BY lang, n_chars
""")

_q("q42_jaccard_pairs",
   oracle="""
WITH t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text,' ')) AS tok
           FROM documents WHERE doc_id < 100)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(LEN(LIST_INTERSECT(a.tok,b.tok)) /
             CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.tok,b.tok))) AS DOUBLE), 2) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE LEN(LIST_INTERSECT(a.tok,b.tok)) /
      CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.tok,b.tok))) AS DOUBLE) >= 0.8
ORDER BY i, j
""",
   engine_sql="""
WITH t AS (SELECT doc_id, ARRAY_DISTINCT(SPLIT(text,' ')) AS tok
           FROM documents WHERE doc_id < 100)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(SIZE(ARRAY_INTERSECT(a.tok,b.tok)) /
             CAST(SIZE(ARRAY_UNION(a.tok,b.tok)) AS DOUBLE), 2) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE SIZE(ARRAY_INTERSECT(a.tok,b.tok)) /
      CAST(SIZE(ARRAY_UNION(a.tok,b.tok)) AS DOUBLE) >= 0.8
ORDER BY i, j
""")

_q("q43_cosine_topk",
   oracle="""
WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND COALESCE(LIST_SUM(LIST_TRANSFORM(
                   embedding::DOUBLE[], x -> x*x)), 0) > 0)
SELECT e.vec_id, ROUND(LIST_COSINE_SIMILARITY(e.v, q.v), 2) AS sim
FROM t e, (SELECT v FROM t WHERE vec_id = 0) q
WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id LIMIT 5
""",
   engine_sql="""
WITH t AS (SELECT vec_id, TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL
             AND AGGREGATE(embedding, 0D,
                   (s,x) -> s + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) > 0),
     q AS (SELECT v FROM t WHERE vec_id = 0),
     e AS (SELECT vec_id, v FROM t WHERE vec_id <> 0)
SELECT e.vec_id,
       ROUND(AGGREGATE(ZIP_WITH(e.v, q.v, (x,y) -> x*y), 0D, (s,x) -> s+x)
         / (SQRT(AGGREGATE(e.v, 0D, (s,x) -> s+x*x))
          * SQRT(AGGREGATE(q.v, 0D, (s,x) -> s+x*x))), 2) AS sim
FROM e CROSS JOIN q
ORDER BY sim DESC, e.vec_id LIMIT 5
""")

# ------------------------------------------------- B.4 streaming (batch oracles)


def _q44_builder(spark: SparkSession) -> DataFrame:
    # Tumbling 1h window via the same groupBy(window(...)) construct the
    # streaming path uses (shredder_spark.streaming.windows); running it
    # in batch proves the operator, the streaming test proves incremental
    # convergence.
    events = spark.table("events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("s"))
        .select(F.col("win.start").alias("w"), "event_type", "c", "s")
        .orderBy("w", "event_type")
    )


_q("q44_tumbling_window",
   oracle="""
SELECT DATE_TRUNC('hour', ts) AS w, event_type, COUNT(*) AS c,
       ROUND(SUM(value),2) AS s
FROM events GROUP BY 1, 2 ORDER BY w, event_type
""",
   builder=_q44_builder)


def _q45_builder(spark: SparkSession) -> DataFrame:
    events = spark.table("events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count("*").alias("c"))
        .select(F.col("win.start").alias("w"), "c")
        .orderBy("w")
    )


_q("q45_sliding_window",
   oracle="""
WITH g AS (SELECT e.*, TIME_BUCKET(INTERVAL '5 minutes', ts) AS b FROM events e)
SELECT w, COUNT(*) AS c FROM (
  SELECT b AS w, * FROM g
  UNION ALL SELECT b - INTERVAL '5 minutes' AS w, * FROM g) s
GROUP BY w ORDER BY w
""",
   builder=_q45_builder)

# Session windows: the queries() gate uses the portable gaps-and-islands
# formulation on both sides (exact tie semantics at a gap of exactly 30
# minutes differ between Spark's session_window half-open interval and
# the SQL `>` test); shredder_spark.streaming exercises session_window
# itself behaviorally in t1.
_q("q46_session_window", """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events),
 y AS (SELECT user_id, ts,
              CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       FROM x)
SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end, COUNT(*) AS n
FROM y GROUP BY user_id, sid ORDER BY user_id, sid
""")

_q("q47_dedup_count", """
SELECT COUNT(*) AS n FROM (SELECT DISTINCT event_id FROM events) t
""")

_q("q48_running_count", """
SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id
""")

_q("q49_stream_static_join", """
SELECT e.event_id, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
ORDER BY e.event_id
""")

# ---------------------------------------------------------------- B.5 text
_q("q50_term_frequency",
   oracle="""
SELECT tok, COUNT(*) AS c FROM documents,
UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
GROUP BY tok ORDER BY c DESC, tok LIMIT 20
""",
   engine_sql="""
SELECT tok, COUNT(*) AS c FROM documents
LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok
GROUP BY tok ORDER BY c DESC, tok LIMIT 20
""")

_q("q51_text_stats", """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS n_tokens
FROM documents GROUP BY lang ORDER BY lang
""")

# ------------------------------------------- LLM-pipeline extension queries
# (north-star surface beyond SURVEY §2.3's Q01–Q51: language ID, quality
# scoring, token counting, fingerprint dedup, n-grams, embedding math —
# each hash-verified against a DuckDB oracle reproducing the exact
# heuristic; approximate tiers are exposed rows-only.)

def _q52_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.functions.text import with_lang_id

    docs = spark.table("documents")
    return (with_lang_id(docs).select("doc_id", "lid").orderBy("doc_id"))


_q("q52_lang_id",
   oracle="""
WITH s AS (SELECT doc_id,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['the','and','of','to','is','in','that','it'])) AS s_en,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['el','la','los','y','es','una','que','no'])) AS s_es,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['le','la','les','et','est','une','que','pas'])) AS s_fr
  FROM documents)
SELECT doc_id,
       CASE WHEN s_de = g AND g >= 1 THEN 'de'
            WHEN s_en = g AND g >= 1 THEN 'en'
            WHEN s_es = g AND g >= 1 THEN 'es'
            WHEN s_fr = g AND g >= 1 THEN 'fr'
            ELSE 'und' END AS lid
FROM (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS g FROM s)
ORDER BY doc_id
""",
   builder=_q52_builder)


def _q53_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.functions.text import with_quality_score

    docs = spark.table("documents")
    return (with_quality_score(docs)
            .select("doc_id", F.round(F.col("q"), 2).alias("q"))
            .orderBy("doc_id"))


_q("q53_quality_score",
   oracle="""
WITH t AS (
  SELECT doc_id, text,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS wtoks,
         REGEXP_SPLIT_TO_ARRAY(LOWER(text), '\\s+') AS ltoks,
         CAST(LENGTH(text) AS DOUBLE) AS n
  FROM documents),
 m AS (
  SELECT doc_id, n,
         CASE WHEN LEN(wtoks) > 0 THEN
           CAST(LIST_SUM(LIST_TRANSFORM(wtoks, x -> LENGTH(x))) AS DOUBLE) / LEN(wtoks)
         ELSE 0.0 END AS mwl,
         CASE WHEN n > 0 THEN
           (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g'))) / n
         ELSE 0.0 END AS pr,
         CASE WHEN LEN(ltoks) > 0 THEN
           CAST(LEN(LIST_FILTER(ltoks, x -> LIST_CONTAINS(
             ['and','das','der','die','ein','el','es','est','et','in','is','ist',
              'it','la','le','les','los','nicht','no','of','pas','que','that',
              'the','to','una','une','und','y','zu'], x))) AS DOUBLE) / LEN(ltoks)
         ELSE 0.0 END AS sr
  FROM t)
SELECT doc_id, ROUND(
    (CASE WHEN n >= 50 AND n <= 20000 THEN 0.25 ELSE 0.0 END) +
    (CASE WHEN mwl >= 3 AND mwl <= 12 THEN 0.25 ELSE 0.0 END) +
    (CASE WHEN pr <= 0.2 THEN 0.25 ELSE 0.0 END) +
    (CASE WHEN sr >= 0.05 THEN 0.25 ELSE 0.0 END), 2) AS q
FROM m ORDER BY doc_id
""",
   builder=_q53_builder)


def _q54_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.functions.text import token_count_bpe_ish, token_count_ws

    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws"),
        token_count_bpe_ish(F.col("text")).alias("n_sub"),
    ).orderBy("doc_id")


_q("q54_token_counts",
   oracle="""
SELECT doc_id,
       CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS n_ws,
       CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
            '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS BIGINT) AS n_sub
FROM documents ORDER BY doc_id
""",
   builder=_q54_builder)


def _q55_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.functions.text import doc_fingerprint

    docs = spark.table("documents")
    return docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


_q("q55_fingerprint",
   oracle="""
SELECT doc_id, MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
""",
   builder=_q55_builder)


def _q56_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.operators.dedup import content_fingerprint

    docs = spark.table("documents")
    return docs.agg(F.count_distinct(
        content_fingerprint(F.col("text"))).alias("n_unique"))


_q("q56_content_dedup_count",
   oracle="""
SELECT COUNT(DISTINCT MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))))
       AS n_unique
FROM documents
""",
   builder=_q56_builder)


def _q57_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.operators.dedup import ngrams_col

    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        F.size(ngrams_col(F.col("text"), 3)).cast("bigint").alias("n_tri"),
    ).orderBy("doc_id")


_q("q57_trigram_count",
   oracle="""
SELECT doc_id, CAST(LEN(LIST_DISTINCT(LIST_TRANSFORM(
         RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 1, 1)),
         i -> ARRAY_TO_STRING((STRING_SPLIT(text,' '))[i:i+2], ' ')))) AS BIGINT)
       AS n_tri
FROM documents ORDER BY doc_id
""",
   builder=_q57_builder)

_q("q58_embedding_norms",
   oracle="""
SELECT vec_id, CASE WHEN embedding IS NULL THEN NULL
       ELSE ROUND(SQRT(COALESCE(LIST_SUM(LIST_TRANSFORM(
         embedding::DOUBLE[], x -> x*x)), 0)), 2) END AS nrm
FROM embeddings ORDER BY vec_id
""",
   engine_sql="""
SELECT vec_id, CASE WHEN embedding IS NULL THEN NULL
       ELSE ROUND(SQRT(AGGREGATE(TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
         0D, (s,x) -> s + x*x)), 2) END AS nrm
FROM embeddings ORDER BY vec_id
""")


def _q59_builder(spark: SparkSession) -> DataFrame:
    # MinHash-LSH near-dup tier (B72): approximate candidate generation
    # (exact-verified), so no value-level oracle — the driver records a
    # rows-only check; recall vs the exact tier is pinned in
    # tests/test_llm_ops.py::test_minhash_lsh_recall (>=0.9).
    from shredder_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    return (minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
            .select("i", "j", F.round("jaccard", 2).alias("jac"))
            .orderBy("i", "j"))


_q("q59_minhash_lsh_pairs", oracle=None, builder=_q59_builder)


def _q60_builder(spark: SparkSession) -> DataFrame:
    # Blocked-GEMM exact cosine top-k (B73/B77 scale tier) — same answer
    # as q43's oracle, different physical plan (mapInPandas + local topk).
    from shredder_spark.operators.similarity import cosine_topk_blocked

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk_blocked(emb.filter(F.col("vec_id") != 0), q, k=5)


_q("q60_cosine_topk_blocked",
   oracle=_REGISTRY["q43_cosine_topk"].oracle,
   builder=_q60_builder)


# --------------------------------------------- relational surface, batch 2
# (Q61–Q75: pivot, subquery forms, extended scalar-function families,
# RANGE frames, set-op variants — same determinism conventions.)

def _q61_builder(spark: SparkSession) -> DataFrame:
    orders = spark.table("orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


_q("q61_pivot",
   oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus='O') AS BIGINT) AS n_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus='F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus='P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   builder=_q61_builder)

_q("q62_scalar_subquery", """
SELECT o_orderkey FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
ORDER BY o_orderkey
""")

_q("q63_in_subquery", """
SELECT c_custkey FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
ORDER BY c_custkey
""")

_q("q64_correlated_count", """
SELECT c.c_custkey,
       CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
            AS BIGINT) AS n
FROM customer c ORDER BY c_custkey
""")

_q("q65_regexp",
   oracle="""
SELECT p_partkey, REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS w1,
       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS rr,
       CASE WHEN REGEXP_MATCHES(p_name, '^a') THEN 1 ELSE 0 END AS m
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey, REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS w1,
       REGEXP_REPLACE(p_name, '[aeiou]', '_') AS rr,
       CASE WHEN p_name RLIKE '^a' THEN 1 ELSE 0 END AS m
FROM part ORDER BY p_partkey
""")

_q("q66_date_funcs2", """
SELECT o_orderkey, LAST_DAY(o_orderdate) AS ld,
       o_orderdate + INTERVAL 3 MONTH AS plus3m,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q
FROM orders ORDER BY o_orderkey
""")

_q("q67_conditional_agg", """
SELECT o_orderstatus,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS big,
       BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent,
       BOOL_AND(o_totalprice > 900) AS all_gt
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")

_q("q68_corr_covar", """
SELECT ROUND(CORR(l_quantity, l_extendedprice), 4) AS cr,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cv
FROM lineitem
""")

_q("q69_array_funcs2",
   oracle="""
SELECT doc_id, LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text,' ')))[1] AS first_tok,
       CAST(LEN(STRING_SPLIT(text,' ')[1:5]) AS BIGINT) AS n5
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       ELEMENT_AT(ARRAY_SORT(ARRAY_DISTINCT(SPLIT(text,' '))), 1) AS first_tok,
       CAST(SIZE(SLICE(SPLIT(text,' '), 1, 5)) AS BIGINT) AS n5
FROM documents ORDER BY doc_id
""")

_q("q70_posexplode",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS toks
           FROM documents WHERE doc_id < 20)
SELECT doc_id, CAST(UNNEST(GENERATE_SERIES(1, LEN(toks))) - 1 AS BIGINT) AS pos,
       UNNEST(toks) AS tok
FROM t ORDER BY doc_id, pos
""",
   engine_sql="""
SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
FROM documents LATERAL VIEW POSEXPLODE(SPLIT(text,' ')) t AS pos, tok
WHERE doc_id < 20 ORDER BY doc_id, pos
""")

_q("q71_range_window", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run
FROM orders ORDER BY o_orderkey
""")


def _q72_builder(spark: SparkSession) -> DataFrame:
    cust = spark.table("customer")
    a = cust.select("c_custkey", "c_name")
    b = cust.select("c_name", "c_custkey")  # reversed order: BY NAME must fix
    return a.unionByName(b).orderBy("c_custkey", "c_name")


_q("q72_union_by_name",
   oracle="""
SELECT c_custkey, c_name FROM customer
UNION ALL SELECT c_custkey, c_name FROM customer
ORDER BY c_custkey, c_name
""",
   builder=_q72_builder)


def _q73_builder(spark: SparkSession) -> DataFrame:
    # approximate percentile: bounded check only (B28 convention) — the
    # t-digest result can't hash-match a different implementation;
    # tests/test_property.py pins the ±5% bound for approx aggregates.
    orders = spark.table("orders")
    return orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90"),
    )


_q("q73_approx_percentile", oracle=None, builder=_q73_builder)

_q("q74_generate_series",
   oracle="SELECT CAST(x AS BIGINT) AS x FROM GENERATE_SERIES(1,10) t(x) ORDER BY x",
   engine_sql="""
SELECT CAST(x AS BIGINT) AS x
FROM (SELECT EXPLODE(SEQUENCE(1, 10)) AS x) ORDER BY x
""")

_q("q75_string_funcs2",
   oracle="""
SELECT p_partkey, LPAD(p_brand, 12, '*') AS lp, RPAD(p_brand, 12, '-') AS rp,
       SPLIT_PART(p_type, ' ', 1) AS sp,
       CAST(POSITION('#' IN p_brand) AS BIGINT) AS ps,
       TRANSLATE(p_name, 'ae', '43') AS tr,
       REPEAT(p_size::VARCHAR, 2) AS rpt, REVERSE(p_brand) AS rv
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey, LPAD(p_brand, 12, '*') AS lp, RPAD(p_brand, 12, '-') AS rp,
       SPLIT_PART(p_type, ' ', 1) AS sp,
       CAST(POSITION('#' IN p_brand) AS BIGINT) AS ps,
       TRANSLATE(p_name, 'ae', '43') AS tr,
       REPEAT(CAST(p_size AS STRING), 2) AS rpt, REVERSE(p_brand) AS rv
FROM part ORDER BY p_partkey
""")


def _q76_builder(spark: SparkSession) -> DataFrame:
    # Scale-path as-of join (one shuffle, union+window trick): same
    # semantics as q14's broadcast-range formulation, different physical
    # plan — shares q14's oracle. r12: both sides filter the SAME
    # events table, so the union frame is built from ONE scan
    # (asof_join_single_source — row-equivalence to the two-scan
    # asof_join pinned in tests/test_asof.py; guide §2.3).
    from shredder_spark.operators.asof import asof_join_single_source

    events = spark.table("events")
    out = asof_join_single_source(
        events, "user_id", ts="ts",
        probe_pred=F.col("event_type") == "purchase",
        ref_pred=F.col("event_type") == "signup",
        probe_cols=["event_id", "user_id", "ts"],
        right_cols={"last_signup_ts": F.col("ts")},
    )
    return out.select("event_id", "last_signup_ts").orderBy("event_id")


_q("q76_asof_union_trick",
   oracle=_REGISTRY["q14_asof_join"].oracle,
   builder=_q76_builder)


_q("q77_window_filter_top1", """
SELECT c_custkey, o_orderkey FROM (
  SELECT o_custkey AS c_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t WHERE rn = 1 ORDER BY c_custkey
""")

_q("q78_string_agg",
   oracle="""
SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS names
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
   engine_sql="""
SELECT n_regionkey,
       ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(n_name)), ',') AS names
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""")

_q("q79_distinct_aggs", """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS u,
       ROUND(AVG(DISTINCT o_totalprice), 2) AS ad
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

_q("q80_map_ops",
   oracle="""
SELECT p_partkey,
       CAST(MAP(['size','retail'], [p_size, p_retailprice::INT])['size'][1]
            AS BIGINT) AS v
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       CAST(MAP_FROM_ARRAYS(ARRAY('size','retail'),
                            ARRAY(p_size, CAST(p_retailprice AS INT)))['size']
            AS BIGINT) AS v
FROM part ORDER BY p_partkey
""")


def _q81_builder(spark: SparkSession) -> DataFrame:
    # Embedding-cosine near-dup pairs, exact tier (bounded block — the
    # O(n²) tier exists to oracle-check the LSH tier, q82).
    from shredder_spark.operators.similarity import cosine_pairs_exact

    emb = spark.table("embeddings").filter(F.col("vec_id") < 100)
    return cosine_pairs_exact(emb, 0.25)


_q("q81_cosine_pairs",
   oracle="""
WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 100 AND embedding IS NOT NULL
             AND COALESCE(LIST_SUM(LIST_TRANSFORM(
                   embedding::DOUBLE[], x -> x*x)), 0) > 0)
SELECT a.vec_id AS i, b.vec_id AS j,
       ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 2) AS sim
FROM t a JOIN t b ON a.vec_id < b.vec_id
WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 2) >= 0.25
ORDER BY i, j
""",
   builder=_q81_builder)


def _q82_builder(spark: SparkSession) -> DataFrame:
    # Scale tier: sign-LSH bucket equi-joins generate candidates, exact
    # cosine verifies — precision 1.0, recall pinned in
    # tests/test_llm_ops.py::test_cosine_near_dup_lsh_recall. Rows-only
    # for the driver (approximate recall can't hash-match).
    from shredder_spark.operators.similarity import cosine_near_dup_lsh

    emb = spark.table("embeddings").filter(F.col("vec_id") < 100)
    return cosine_near_dup_lsh(emb, 0.25, n_bits=4, n_tables=8)


_q("q82_cosine_near_dup_lsh", oracle=None, builder=_q82_builder)


# ------------------------------------------- TPC-H-shaped showcase queries
# (multi-join analytics over the synthetic tables; portable SQL, ROUND
# conventions per §2.3. The point at scale: 3–6-way join plans where
# Catalyst broadcast-selects dims and AQE reorders/skew-splits.)

_q("q83_shipping_priority", """
SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
""")

_q("q84_local_supplier_volume", """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name
""")

_q("q85_returned_items", """
SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")

_q("q86_large_volume_customer", """
SELECT c_custkey, o_orderkey, o_orderdate, ROUND(o_totalprice, 2) AS p,
       CAST(SUM(l_quantity) AS DOUBLE) AS q
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""")


def _q87_builder(spark: SparkSession) -> DataFrame:
    # Winnowing (rolling-hash) fingerprint dedup: overlap pairs on a
    # bounded block. Rolling hashes aren't expressible in portable SQL
    # (rows-only check); the UDF is golden-tested against a pure-Python
    # winnowing reference in tests/test_llm_ops.py.
    from shredder_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    return winnow_overlap_pairs(docs, "doc_id", "text", min_overlap=0.5)


_q("q87_winnow_overlap_pairs", oracle=None, builder=_q87_builder)


def _q88_builder(spark: SparkSession) -> DataFrame:
    # Hypertable-style continuous aggregate: hour+day rollups of the
    # event stream in ONE grouping-sets pass (single shuffle).
    from shredder_spark.operators.rollup import time_rollup

    # AVG is excluded from the hash compare: ROUND(avg,2) lands on exact
    # .xx5 boundaries for 2-row buckets (SURVEY §2.3 caveat 1); sum and
    # count carry the same information losslessly.
    out = time_rollup(spark.table("events"), "ts",
                      granularities=("hour", "day"),
                      keys=("event_type",), value_col="value")
    return out.select("gran", "bucket", "event_type", "c", "s").orderBy(
        "gran", "bucket", "event_type")


_q("q88_time_rollup",
   oracle="""
WITH e AS (SELECT DATE_TRUNC('hour', ts) AS h, DATE_TRUNC('day', ts) AS d,
                  event_type, value FROM events)
SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour' WHEN GROUPING(d) = 0 THEN 'day' END AS gran,
       COALESCE(h, d) AS bucket, event_type, COUNT(*) AS c,
       ROUND(SUM(value), 2) AS s
FROM e GROUP BY GROUPING SETS ((h, event_type), (d, event_type))
ORDER BY gran, bucket, event_type
""",
   builder=_q88_builder)


_q("q89_volume_shipping", """
SELECT supp_nation, cust_nation, yr, ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS yr,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
    AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
    AND c.c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
) t GROUP BY supp_nation, cust_nation, yr
ORDER BY supp_nation, cust_nation, yr
""")


# ---------------------------------------------- relational surface, batch 3

_q("q90_except_all", """
SELECT p_size AS k FROM part EXCEPT ALL SELECT n_nationkey FROM nation
ORDER BY k
""")

_q("q91_intersect_all", """
SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier
ORDER BY k
""")

_q("q92_nullsafe_join", """
SELECT a.o_orderkey AS ka, b.o_orderkey AS kb
FROM orders a JOIN orders b
  ON a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
WHERE a.o_orderkey < 20 AND b.o_orderkey < 20
ORDER BY ka, kb
""")

_q("q93_lateral_topn", """
SELECT c.c_custkey, t.o_orderkey
FROM customer c,
LATERAL (SELECT o_orderkey FROM orders o WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey < 50 ORDER BY c_custkey, o_orderkey
""")


def _q94_builder(spark: SparkSession) -> DataFrame:
    # Apache DataSketches HLL: per-group sketches merge associatively
    # across partitions (the scale story — map-side partial sketches,
    # tiny shuffle). Estimates can't hash-match another implementation
    # → rows-only; ±5% bound vs exact pinned in tests/test_property.py.
    return spark.sql("""
        SELECT o_orderpriority,
               hll_sketch_estimate(hll_sketch_agg(o_custkey)) AS u
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


_q("q94_hll_sketch", oracle=None, builder=_q94_builder)

# division over powers-of-two divisors keeps the quotient exactly
# representable (no ROUND → no .xx5 boundary between engines)
_q("q95_try_arithmetic",
   oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 3) END AS d,
       TRY_CAST(o_orderpriority AS INTEGER) AS ti
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       TRY_DIVIDE(CAST(o_orderkey AS DOUBLE), o_orderkey % 3) AS d,
       TRY_CAST(o_orderpriority AS INTEGER) AS ti
FROM orders ORDER BY o_orderkey
""")

_q("q96_distribution_windows", """
SELECT o_orderkey,
       -- +5e-10 boundary nudge: rank ratios like 113625/300000 land
       -- EXACTLY on .xxxx5 (sf1 partition sizes are multiples of 10^4)
       -- and the engines' ROUND modes disagree there (Spark HALF_UP on
       -- the shortest decimal repr vs C round on the binary value);
       -- the nudge is 3 orders above cross-engine jitter and 3 below
       -- the rank-ratio spacing, so only exact-boundary values move
       ROUND(PERCENT_RANK() OVER w + 5e-10, 4) AS pr,
       ROUND(CUME_DIST() OVER w + 5e-10, 4) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice NULLS LAST, o_orderkey)
ORDER BY o_orderkey
""")

_q("q97_ignore_nulls_window",
   oracle="""
SELECT o_orderkey,
       LAST_VALUE(CASE WHEN o_totalprice > 100000 THEN o_orderkey END IGNORE NULLS)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS lv
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       LAST_VALUE(CASE WHEN o_totalprice > 100000 THEN o_orderkey END) IGNORE NULLS
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS lv
FROM orders ORDER BY o_orderkey
""")


_q("q98_stopword_filter",
   oracle="""
SELECT doc_id,
       CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text),' '),
            x -> NOT LIST_CONTAINS(['the','and','of','to','is','in','that','it'], x)))
            AS BIGINT) AS n_content
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(SIZE(FILTER(SPLIT(LOWER(text),' '),
            x -> NOT ARRAY_CONTAINS(ARRAY('the','and','of','to','is','in','that','it'), x)))
            AS BIGINT) AS n_content
FROM documents ORDER BY doc_id
""")

_q("q99_normalize_text", """
SELECT doc_id, LOWER(REGEXP_REPLACE(TRIM(text), '[^a-zA-Z0-9 ]', '', 'g')) AS norm
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""", engine_sql="""
SELECT doc_id, LOWER(REGEXP_REPLACE(TRIM(text), '[^a-zA-Z0-9 ]', '')) AS norm
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""")


_q("q100_keyword_search", """
SELECT doc_id,
       CAST((CASE WHEN text LIKE '%table%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%index%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%merge%' THEN 1 ELSE 0 END) AS BIGINT) AS score
FROM documents
WHERE text LIKE '%table%' OR text LIKE '%index%' OR text LIKE '%merge%'
ORDER BY score DESC, doc_id LIMIT 25
""")


_q("q101_recursive_cte", """
WITH RECURSIVE t(n, f) AS (
  SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT n + 1, f * (n + 1) FROM t WHERE n < 15)
SELECT n, f FROM t ORDER BY n
""")

_q("q102_pagination", """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS p FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 20
""")

_q("q103_values_join", """
SELECT o.o_orderkey, m.label
FROM orders o
JOIN (VALUES ('O','open'), ('F','finished'), ('P','pending')) AS m(st, label)
  ON o.o_orderstatus = m.st
WHERE o.o_orderkey < 100
ORDER BY o.o_orderkey
""")


def _q104_builder(spark: SparkSession) -> DataFrame:
    # One-pass table profiling (per-column nulls/distinct/min/max in a
    # single aggregation job — the at-scale profiling shape).
    from shredder_spark.operators.profile import profile_table

    return profile_table(spark.table("orders"))


_q("q104_profile_table",
   oracle="""
WITH s AS (SELECT COUNT(*) AS n FROM orders)
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name, s.n AS n_rows,
         (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
         (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_distinct,
         (SELECT ROUND(MIN(o_orderkey)::DOUBLE, 2) FROM orders) AS mn,
         (SELECT ROUND(MAX(o_orderkey)::DOUBLE, 2) FROM orders) AS mx FROM s
  UNION ALL
  SELECT 'o_custkey', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
         (SELECT COUNT(DISTINCT o_custkey) FROM orders),
         (SELECT ROUND(MIN(o_custkey)::DOUBLE, 2) FROM orders),
         (SELECT ROUND(MAX(o_custkey)::DOUBLE, 2) FROM orders) FROM s
  UNION ALL
  SELECT 'o_orderstatus', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NULL),
         (SELECT COUNT(DISTINCT o_orderstatus) FROM orders),
         NULL, NULL FROM s
  UNION ALL
  SELECT 'o_totalprice', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL),
         (SELECT COUNT(DISTINCT o_totalprice) FROM orders),
         (SELECT ROUND(MIN(o_totalprice)::DOUBLE, 2) FROM orders),
         (SELECT ROUND(MAX(o_totalprice)::DOUBLE, 2) FROM orders) FROM s
  UNION ALL
  SELECT 'o_orderdate', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL),
         (SELECT COUNT(DISTINCT o_orderdate) FROM orders),
         NULL, NULL FROM s
  UNION ALL
  SELECT 'o_orderpriority', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NULL),
         (SELECT COUNT(DISTINCT o_orderpriority) FROM orders),
         NULL, NULL FROM s
) ORDER BY col_name
""",
   builder=_q104_builder)


def _q105_builder(spark: SparkSession) -> DataFrame:
    # Grouped-map applyInPandas (B50): per-user z-score — hash-matched
    # against the pure-SQL window formulation.
    from shredder_spark.operators.profile import groupwise_zscore

    events = spark.table("events")
    out = groupwise_zscore(events, "user_id", "value")
    return (out.select("user_id",
                       F.round("value", 2).alias("v"),
                       F.round("z", 2).alias("z"))
            .orderBy("user_id", "v", "z"))


_q("q105_groupwise_zscore",
   oracle="""
SELECT user_id, ROUND(value, 2) AS v,
       ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 2) AS z
FROM events
WINDOW w AS (PARTITION BY user_id)
ORDER BY user_id, v, z
""",
   builder=_q105_builder)


_q("q106_doc_embedding_join",
   oracle="""
SELECT d.doc_id, d.lang,
       CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tok,
       CASE WHEN e.embedding IS NULL THEN NULL
       ELSE ROUND(SQRT(COALESCE(LIST_SUM(LIST_TRANSFORM(
              e.embedding::DOUBLE[], x -> x*x)), 0)), 2) END AS nrm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.doc_id < 200
ORDER BY d.doc_id
""",
   engine_sql="""
SELECT d.doc_id, d.lang,
       CAST(SIZE(SPLIT(d.text, ' ')) AS BIGINT) AS n_tok,
       CASE WHEN e.embedding IS NULL THEN NULL
       ELSE ROUND(SQRT(AGGREGATE(TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
                            0D, (s,x) -> s + x*x)), 2) END AS nrm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.doc_id < 200
ORDER BY d.doc_id
""")

_q("q107_group_median",
   oracle="""
SELECT o_orderpriority, ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS med
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   engine_sql="""
-- r10: grouped exact median via a PARTITIONED rank window instead of
-- the exact PERCENTILE aggregate (whose value→count map over
-- ~near-unique o_totalprice merges ~150 M entries in one reducer at
-- sf100). Same interpolation semantics: pos=(n-1)/2, linear between
-- the floor/ceil ranks; each task sorts one priority group only.
-- r11 fix: NULL o_totalprice must be EXCLUDED from both the rank and
-- the count (Spark PERCENTILE and DuckDB QUANTILE_CONT both ignore
-- NULLs; the r10 text ranked/counted them, shifting every rank —
-- caught by the degenerate-rows suite). NULLS LAST pushes NULL rows
-- past the valid 0..n-1 rank range and CASE nulls their rk; n counts
-- non-NULL only, so an all-NULL group yields med NULL, not a dropped
-- row — exactly QUANTILE_CONT. Mirrors operators/scale_windows.py:586.
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         CASE WHEN o_totalprice IS NULL THEN NULL
              ELSE ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice NULLS LAST) - 1
         END AS rk,
         COUNT(o_totalprice) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT o_orderpriority,
       -- Spark PERCENTILE's weighted interpolation form, bit-for-bit:
       -- (ceil-pos)·lo + (pos-floor)·hi (degenerate ceil==floor → lo)
       ROUND(CASE WHEN FLOOR((MIN(n) - 1) * 0.5D)
                       = CEIL((MIN(n) - 1) * 0.5D)
                  THEN MIN(CASE WHEN rk = FLOOR((n - 1) * 0.5D)
                                THEN o_totalprice END)
                  ELSE (CEIL((MIN(n) - 1) * 0.5D)
                        - (MIN(n) - 1) * 0.5D)
                       * MIN(CASE WHEN rk = FLOOR((n - 1) * 0.5D)
                                  THEN o_totalprice END)
                       + ((MIN(n) - 1) * 0.5D
                          - FLOOR((MIN(n) - 1) * 0.5D))
                       * MIN(CASE WHEN rk = CEIL((n - 1) * 0.5D)
                                  THEN o_totalprice END)
             END, 2) AS med
FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
""")


def _q108_builder(spark: SparkSession) -> DataFrame:
    # Declarative data-quality checks, one aggregation pass (B136).
    from shredder_spark.operators.profile import check_constraints

    orders = spark.table("orders")
    return check_constraints(orders, {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "price_positive": F.col("o_totalprice") > 0,
        "price_under_1m": F.col("o_totalprice") < 1_000_000,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "date_in_range": (F.col("o_orderdate") >= "1995-01-01")
                         & (F.col("o_orderdate") < "2002-01-01"),
    })


_q("q108_quality_checks",
   oracle="""
WITH s AS (SELECT COUNT(*) AS n FROM orders)
SELECT * FROM (
  SELECT 'date_in_range' AS rule, s.n AS n_rows,
         (SELECT COUNT(*) FROM orders WHERE NOT (o_orderdate >= '1995-01-01'
            AND o_orderdate < '2002-01-01')) AS n_violations,
         ROUND((s.n - (SELECT COUNT(*) FROM orders WHERE NOT (o_orderdate >= '1995-01-01'
            AND o_orderdate < '2002-01-01'))) / CAST(s.n AS DOUBLE), 4) AS pass_rate FROM s
  UNION ALL
  SELECT 'orderkey_not_null', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL),
         ROUND((s.n - (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL))
               / CAST(s.n AS DOUBLE), 4) FROM s
  UNION ALL
  SELECT 'price_positive', s.n,
         (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)),
         ROUND((s.n - (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)))
               / CAST(s.n AS DOUBLE), 4) FROM s
  UNION ALL
  SELECT 'price_under_1m', s.n,
         (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice < 1000000)),
         ROUND((s.n - (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice < 1000000)))
               / CAST(s.n AS DOUBLE), 4) FROM s
  UNION ALL
  SELECT 'status_in_domain', s.n,
         (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')),
         ROUND((s.n - (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')))
               / CAST(s.n AS DOUBLE), 4) FROM s
) ORDER BY rule
""",
   builder=_q108_builder)


def _q109_builder(spark: SparkSession) -> DataFrame:
    # Reusable batch sessionization operator (same oracle as q46's SQL
    # gaps-and-islands text — different construction, same answer).
    from shredder_spark.operators.sessionize import sessionize

    return sessionize(spark.table("events"), "user_id", "ts", gap="30 minutes")


_q("q109_sessionize_operator",
   oracle=_REGISTRY["q46_session_window"].oracle,
   builder=_q109_builder)


def _q110_builder(spark: SparkSession) -> DataFrame:
    # Full-corpus MinHash-LSH near-dup detection (the B72 scale tier at
    # its intended scale — whole documents table, not an id-bounded
    # block). Rows-only: approximate recall can't hash-match; the
    # restricted tier q59 + recall tests pin correctness.
    from shredder_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.table("documents")
    return (minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
            .agg(F.count("*").alias("n_pairs")))


_q("q110_minhash_dedup_full", oracle=None, builder=_q110_builder)


_q("q111_bitwise_ops",
   oracle="""
SELECT n_nationkey, CAST(n_nationkey & 12 AS BIGINT) AS a,
       CAST(n_nationkey | 3 AS BIGINT) AS o,
       CAST(XOR(n_nationkey, 21) AS BIGINT) AS x,
       CAST(n_nationkey << 2 AS BIGINT) AS sl,
       CAST(n_nationkey >> 1 AS BIGINT) AS sr
FROM nation ORDER BY n_nationkey
""",
   engine_sql="""
SELECT n_nationkey, CAST(n_nationkey & 12 AS BIGINT) AS a,
       CAST(n_nationkey | 3 AS BIGINT) AS o,
       CAST(n_nationkey ^ 21 AS BIGINT) AS x,
       CAST(SHIFTLEFT(n_nationkey, 2) AS BIGINT) AS sl,
       CAST(SHIFTRIGHT(n_nationkey, 1) AS BIGINT) AS sr
FROM nation ORDER BY n_nationkey
""")

_q("q112_string_funcs3",
   oracle="""
SELECT p_partkey, ASCII(p_brand) AS a, CHR(65 + p_size % 26) AS c,
       FORMAT('{}-{}', p_size, p_brand) AS f,
       LEFT(p_name, 4) AS lf, RIGHT(p_name, 4) AS rt,
       CAST(LEVENSHTEIN(p_brand, 'Brand#10') AS BIGINT) AS lv
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey, ASCII(p_brand) AS a, CHAR(65 + p_size % 26) AS c,
       IF(p_size IS NULL OR p_brand IS NULL, NULL,
          FORMAT_STRING('%d-%s', p_size, p_brand)) AS f,
       LEFT(p_name, 4) AS lf, RIGHT(p_name, 4) AS rt,
       CAST(LEVENSHTEIN(p_brand, 'Brand#10') AS BIGINT) AS lv
FROM part ORDER BY p_partkey
""")


_q("q113_latest_per_key", """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id,
         CAST(ts AS TIMESTAMP) AS ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 ORDER BY user_id, event_type
""")

_q("q114_histogram", """
SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
       COUNT(*) AS c,
       ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY 1 ORDER BY bucket
""")


def _q115_builder(spark: SparkSession) -> DataFrame:
    # SimHash near-dup pairs over the full documents table (the scale
    # tier: 16-bit-quadrant blocking, no all-pairs join). Rows-only:
    # hamming-on-xxhash64 fingerprints aren't expressible in portable
    # SQL; simhash64 properties are golden-tested in tests/test_llm_ops.
    from shredder_spark.operators.dedup import simhash_pairs

    docs = spark.table("documents")
    return (simhash_pairs(docs, "doc_id", "text", max_distance=3)
            .orderBy("i", "j"))


_q("q115_simhash_pairs", oracle=None, builder=_q115_builder)


# Char-3-gram Jaccard near-dup tier (complements token-level q42 and
# word-n-gram q57): shingle at the character level, exact set Jaccard.
_q("q116_char_ngram_jaccard",
   oracle="""
WITH t AS (
  SELECT doc_id, LIST_DISTINCT([text[CAST(i AS INT):CAST(i AS INT)+2]
                                FOR i IN RANGE(1, LENGTH(text)-1)]) AS g
  FROM documents WHERE doc_id < 100 AND LENGTH(text) >= 3)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(LEN(LIST_INTERSECT(a.g,b.g)) /
             CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.g,b.g))) AS DOUBLE), 2) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE LEN(LIST_INTERSECT(a.g,b.g)) /
      CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.g,b.g))) AS DOUBLE) >= 0.6
ORDER BY i, j
""",
   engine_sql="""
WITH t AS (
  SELECT doc_id,
         -- total expression: IF short-circuits per row, so the
         -- descending SEQUENCE(1, <0) never materializes even when
         -- Catalyst re-orders predicates (see q143)
         IF(LENGTH(text) >= 3,
            ARRAY_DISTINCT(TRANSFORM(SEQUENCE(1, LENGTH(text)-2),
                                     i -> SUBSTRING(text, i, 3))),
            ARRAY()) AS g
  FROM documents WHERE doc_id < 100 AND LENGTH(text) >= 3)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(SIZE(ARRAY_INTERSECT(a.g,b.g)) /
             CAST(SIZE(ARRAY_UNION(a.g,b.g)) AS DOUBLE), 2) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE SIZE(ARRAY_INTERSECT(a.g,b.g)) /
      CAST(SIZE(ARRAY_UNION(a.g,b.g)) AS DOUBLE) >= 0.6
ORDER BY i, j
""")

_q("q117_min_max_by",
   oracle="""
SELECT c_nationkey, ARG_MAX(c_name, c_custkey) AS last_name,
       ARG_MIN(c_name, c_custkey) AS first_name
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
""",
   engine_sql="""
SELECT c_nationkey, MAX_BY(c_name, c_custkey) AS last_name,
       MIN_BY(c_name, c_custkey) AS first_name
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
""")

_q("q118_group_by_all", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c,
       ROUND(SUM(o_totalprice), 2) AS s
FROM orders GROUP BY ALL ORDER BY o_orderstatus, o_orderpriority
""")

_q("q119_exists_forall",
   oracle="""
SELECT doc_id,
       LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> LENGTH(x) > 10)) > 0 AS has_long,
       LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> LENGTH(x) >= 25)) = 0 AS all_short
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       EXISTS(SPLIT(text,' '), x -> LENGTH(x) > 10) AS has_long,
       FORALL(SPLIT(text,' '), x -> LENGTH(x) < 25) AS all_short
FROM documents ORDER BY doc_id
""")

# DuckDB dayofweek: Sunday=0; Spark: Sunday=1 — oracle shifts by +1.
_q("q120_datetime_parts",
   oracle="""
SELECT o_orderkey, CAST(DAYOFWEEK(o_orderdate) + 1 AS BIGINT) AS dw,
       CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS dy,
       CAST(WEEKOFYEAR(o_orderdate) AS BIGINT) AS wk
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey, CAST(DAYOFWEEK(o_orderdate) AS BIGINT) AS dw,
       CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS dy,
       CAST(WEEKOFYEAR(o_orderdate) AS BIGINT) AS wk
FROM orders ORDER BY o_orderkey
""")

_q("q121_moving_sum_frame", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 2) AS msum
FROM orders ORDER BY o_orderkey
""")

_q("q122_regexp_extract_all",
   oracle="""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+ing')) AS BIGINT) AS n_ing,
       COALESCE(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(text, '[a-z]+ing'), ','), '') AS all_ing
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(SIZE(REGEXP_EXTRACT_ALL(text, '[a-z]+ing', 0)) AS BIGINT) AS n_ing,
       ARRAY_JOIN(REGEXP_EXTRACT_ALL(text, '[a-z]+ing', 0), ',') AS all_ing
FROM documents ORDER BY doc_id
""")

# --- TPC-H query shapes batch 2 (Q4, Q13, Q15, Q17, Q22, Q8, Q14, Q19
# adapted to the driver schema: no partsupp, nations are NATION_N,
# p_type is a plain label).

_q("q123_order_priority_exists", """
SELECT o_orderpriority, COUNT(*) AS c
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

_q("q124_customer_distribution", """
SELECT n_orders, COUNT(*) AS n_custs FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey) t
GROUP BY n_orders ORDER BY n_custs DESC, n_orders DESC
""")

_q("q125_top_supplier", """
WITH rev AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_rev
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
ORDER BY s.s_suppkey
""")

_q("q126_small_qty_avg_subquery", """
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""")

_q("q127_idle_rich_customers", """
SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY c_nationkey ORDER BY c_nationkey
""")

_q("q128_market_share", """
SELECT yr, ROUND(SUM(CASE WHEN n_name = 'NATION_3' THEN vol ELSE 0 END)
                 / SUM(vol), 2) AS share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
         l.l_extendedprice * (1 - l.l_discount) AS vol, n.n_name
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey) t
GROUP BY yr ORDER BY yr
""")

_q("q129_promo_revenue", """
SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
       / SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""")

_q("q130_ord_pred_revenue", """
SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
       AND p.p_size BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
       AND p.p_size BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30
       AND p.p_size BETWEEN 1 AND 25)
""")


# --- batch: map fns 2, UNPIVOT, regression aggs, stats, datetime 3,
# string 4, nth_value, deterministic sampling (q131-q138).

_q("q131_map_functions",
   oracle="""
SELECT c_custkey, ARRAY_TO_STRING(MAP_KEYS(m), ',') AS ks,
       MAP_VALUES(m)[1] AS v1, MAP_VALUES(m)[2] AS v2
FROM (SELECT c_custkey, MAP {'n': c_name, 's': c_mktsegment} AS m
      FROM customer) t
ORDER BY c_custkey
""",
   engine_sql="""
SELECT c_custkey, ARRAY_JOIN(MAP_KEYS(m), ',') AS ks,
       ELEMENT_AT(MAP_VALUES(m), 1) AS v1, ELEMENT_AT(MAP_VALUES(m), 2) AS v2
FROM (SELECT c_custkey, MAP_CONCAT(MAP('n', c_name), MAP('s', c_mktsegment)) AS m
      FROM customer) t
ORDER BY c_custkey
""")

# UNPIVOT clause parses identically in Spark (>=3.4) and DuckDB.
_q("q132_unpivot", """
SELECT o_orderkey, name, ROUND(v, 2) AS v
FROM (SELECT o_orderkey, o_totalprice AS price, CAST(o_custkey AS DOUBLE) AS cust
      FROM orders) t
UNPIVOT (v FOR name IN (price, cust))
ORDER BY o_orderkey, name
""")

_q("q133_regression_aggs", """
SELECT l_returnflag,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 2)     AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS icept,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 4)        AS r2,
       CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Spark KURTOSIS is population excess kurtosis = DuckDB KURTOSIS_POP;
# skewness differs only by the ~(1+3/2n) sample factor, absorbed by
# ROUND at these row counts (value near 0). Global MODE is tie-free at
# all three SFs (verified; per-group mode ties at sf0.001).
_q("q134_stats_batch2",
   oracle="""
SELECT MODE(o_orderpriority) AS md,
       ROUND(SKEWNESS(o_totalprice), 2) + 0.0 AS sk,
       ROUND(KURTOSIS_POP(o_totalprice), 2) + 0.0 AS kt,
       ROUND(QUANTILE_DISC(o_totalprice, 0.5), 2) AS p50
FROM orders
""",
   engine_sql="""
SELECT MODE(o_orderpriority) AS md,
       ROUND(SKEWNESS(o_totalprice), 2) + 0.0 AS sk,
       ROUND(KURTOSIS(o_totalprice), 2) + 0.0 AS kt,
       ROUND(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50
FROM orders
""")

_q("q135_datetime_batch3",
   oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
       CAST(o_orderdate + INTERVAL 5 DAY AS DATE)   AS plus5d,
       CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1996-01-01')
            AS BIGINT) AS to_ref
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       ADD_MONTHS(o_orderdate, 2)                    AS plus2m,
       DATE_ADD(CAST(o_orderdate AS DATE), 5)        AS plus5d,
       CAST(DATEDIFF(DATE '1996-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS to_ref
FROM orders ORDER BY o_orderkey
""")

_q("q136_string_batch4",
   oracle="""
SELECT p_partkey,
       ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(LOWER(p_name), ' '),
                                      x -> UPPER(x[1]) || x[2:]), ' ') AS ic,
       CAST(STRPOS(p_name, 'a') AS BIGINT) AS pos,
       SUBSTR(p_brand, 1, 1) || 'XX' || SUBSTR(p_brand, 4) AS ov,
       SPLIT_PART(p_name, ' ', 1) AS w1
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       INITCAP(p_name) AS ic,
       CAST(INSTR(p_name, 'a') AS BIGINT) AS pos,
       OVERLAY(p_brand PLACING 'XX' FROM 2 FOR 2) AS ov,
       SUBSTRING_INDEX(p_name, ' ', 1) AS w1
FROM part ORDER BY p_partkey
""")

_q("q137_nth_value_window", """
SELECT o_orderkey,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_k
FROM orders ORDER BY o_orderkey
""")

# Deterministic hash-based stratified sampling: MD5 hex is identical in
# both engines, so the sample is reproducible and engine-independent —
# the pattern for lang-balanced subsampling of a 100 TB corpus (no
# RAND(), no TABLESAMPLE nondeterminism).
_q("q138_hash_stratified_sample", """
SELECT doc_id, lang
FROM documents
WHERE SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 1)
      < CASE lang WHEN 'en' THEN '4' ELSE '8' END
ORDER BY doc_id
""")


# --- batch: search-relevance scoring, training-data curation ops
# (q139-q144): TF-IDF, BM25, chunking, PII redaction, repetition
# signals, arrays batch 3.

_q("q139_tfidf_top_terms",
   oracle="""
WITH tf AS (SELECT doc_id, u.tok AS tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
            GROUP BY doc_id, u.tok),
s AS (SELECT doc_id, tok,
             ROUND(tf * LN((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                           / COUNT(*) OVER (PARTITION BY tok)), 4) AS score
      FROM tf),
r AS (SELECT doc_id, tok, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok) AS rn
      FROM s)
SELECT doc_id, tok, score FROM r WHERE rn <= 3 AND doc_id < 50
ORDER BY doc_id, score DESC, tok
""",
   engine_sql="""
-- Linear single-pass shape: one explode, one (doc,tok) aggregation;
-- document frequency is a window count over the aggregated relation
-- (no second explode subtree — Spark inlines CTE references, so the
-- two-CTE formulation would scan+explode the corpus twice).
WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM documents LATERAL VIEW EXPLODE(SPLIT(text, ' ')) t AS tok
            GROUP BY doc_id, tok),
s AS (SELECT doc_id, tok,
             ROUND(tf * LN((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                           / COUNT(*) OVER (PARTITION BY tok)), 4) AS score
      FROM tf),
r AS (SELECT doc_id, tok, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok) AS rn
      FROM s)
SELECT doc_id, tok, score FROM r WHERE rn <= 3 AND doc_id < 50
ORDER BY doc_id, score DESC, tok
""")

# BM25 (k1=1.2, b=0.75) for the two-term query ('table','spark'):
# idf = ln((N-df+0.5)/(df+0.5)+1), length-normalized tf saturation.
_q("q140_bm25_search",
   oracle="""
WITH tf AS (SELECT doc_id, u.tok AS tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
            GROUP BY doc_id, u.tok),
d AS (SELECT doc_id, tok, tf, SUM(tf) OVER (PARTITION BY doc_id) AS dl
      FROM tf),
q AS (SELECT doc_id, tok, tf, dl,
             CAST(COUNT(*) OVER (PARTITION BY tok) AS DOUBLE) AS df
      FROM d WHERE tok IN ('table','spark')),
c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)) AS avgdl
      FROM documents)
SELECT q.doc_id,
       ROUND(SUM(LN((c.n - q.df + 0.5) / (q.df + 0.5) + 1)
             * q.tf * 2.2 / (q.tf + 1.2 * (0.25 + 0.75 * q.dl / c.avgdl))),
             4) AS bm25
FROM q CROSS JOIN c
GROUP BY q.doc_id ORDER BY bm25 DESC, q.doc_id LIMIT 10
""",
   engine_sql="""
-- r12 rewrite (guide §2.3/§2.4 "shuffle fewer bytes / remove shuffles
-- outright"): the previous shape exploded EVERY token of EVERY doc and
-- pushed the full (doc, tok) relation through two aggregation
-- exchanges and two window exchanges before filtering to the two query
-- terms. For a fixed query-term list every per-doc quantity is
-- computable scan-side: tf(term) counts matches inside the split
-- array, dl is the array size (== SUM of all per-token counts), and
-- the corpus stats (N, avgdl, per-term document frequency) are ONE
-- scalar aggregate broadcast back. No explode, no windows, no
-- full-token-relation shuffle at any scale. Value-equality vs the
-- explode+window form and the DuckDB oracle: tools/oracle_recheck.py
-- (OPTIMIZATION_r12.md).
WITH m AS (SELECT doc_id,
                  CAST(SIZE(FILTER(SPLIT(text, ' '), x -> x = 'table')) AS DOUBLE) AS tf_table,
                  CAST(SIZE(FILTER(SPLIT(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf_spark,
                  CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE) AS dl
           FROM documents),
c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(dl) AS avgdl,
             CAST(COUNT_IF(tf_table > 0) AS DOUBLE) AS df_table,
             CAST(COUNT_IF(tf_spark > 0) AS DOUBLE) AS df_spark
      FROM m)
SELECT m.doc_id,
       ROUND(CASE WHEN m.tf_table > 0
                  THEN LN((c.n - c.df_table + 0.5) / (c.df_table + 0.5) + 1)
                       * m.tf_table * 2.2
                       / (m.tf_table + 1.2 * (0.25 + 0.75 * m.dl / c.avgdl))
                  ELSE 0.0 END
           + CASE WHEN m.tf_spark > 0
                  THEN LN((c.n - c.df_spark + 0.5) / (c.df_spark + 0.5) + 1)
                       * m.tf_spark * 2.2
                       / (m.tf_spark + 1.2 * (0.25 + 0.75 * m.dl / c.avgdl))
                  ELSE 0.0 END, 4) AS bm25
FROM m CROSS JOIN c
WHERE m.tf_table > 0 OR m.tf_spark > 0
ORDER BY bm25 DESC, doc_id LIMIT 10
""")

# Overlapping token-window chunking (size 8, stride 4) — the standard
# pre-tokenization shaping for LLM training corpora. The start sequence
# runs to n_tok-4 (not n_tok-7) so trailing tokens are never dropped:
# the final chunk may be shorter than 8 but every token is covered
# (invariant-tested in tests/test_curation_ops.py).
_q("q141_doc_chunking",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
s AS (SELECT doc_id, tk, CAST(u.i AS BIGINT) AS chunk_start
      FROM t, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(tk) - 4, 1), 4)) AS u(i))
SELECT doc_id, chunk_start,
       ARRAY_TO_STRING(tk[CAST(chunk_start AS INT):CAST(chunk_start AS INT)+7],
                       ' ') AS chunk
FROM s ORDER BY doc_id, chunk_start
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS tk FROM documents)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_start,
       ARRAY_JOIN(SLICE(tk, i, 8), ' ') AS chunk
FROM t LATERAL VIEW EXPLODE(SEQUENCE(1, GREATEST(SIZE(tk) - 4, 1), 4)) s AS i
ORDER BY doc_id, chunk_start
""")

# PII scrubbing: email-shaped and digit-run redaction (emails are
# synthesized from lang/source so the pattern actually fires). Spark
# REGEXP_REPLACE is global by default; DuckDB needs the 'g' flag.
_q("q142_pii_redaction",
   oracle="""
SELECT doc_id,
       REGEXP_REPLACE(lang || '@' || source || '.com contact ' || text,
                      '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g') AS red,
       REGEXP_REPLACE(source, '[0-9]+', '<NUM>', 'g') AS src_red
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       REGEXP_REPLACE(lang || '@' || source || '.com contact ' || text,
                      '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>') AS red,
       REGEXP_REPLACE(source, '[0-9]+', '<NUM>') AS src_red
FROM documents ORDER BY doc_id
""")

# Gopher-style repetition quality signals: duplicate-token fraction and
# top-bigram fraction (min doc length is 10 tokens at every SF, so
# bigrams always exist).
_q("q143_repetition_signals",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
b AS (SELECT doc_id, u.big FROM t,
      UNNEST([tk[i] || ' ' || tk[i+1] FOR i IN RANGE(1, LEN(tk))]) AS u(big)),
bc AS (SELECT doc_id, big, COUNT(*) AS c FROM b GROUP BY doc_id, big),
bt AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) AS maxc,
              CAST(SUM(c) AS DOUBLE) AS nb FROM bc GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       ROUND(1 - LEN(LIST_DISTINCT(tk)) / CAST(LEN(tk) AS DOUBLE), 4)
         AS dup_tok_frac,
       ROUND(bt.maxc / bt.nb, 4) AS top_bigram_frac
FROM t JOIN bt ON t.doc_id = bt.doc_id
ORDER BY t.doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS tk FROM documents),
b AS (SELECT doc_id, big FROM t
      -- TOTAL expression, not a filter guard: 1-token docs exist at
      -- sf1 and Spark's SEQUENCE(1, 0) is the DESCENDING [1, 0].
      -- A WHERE guard is NOT enough — InferFiltersFromGenerate
      -- derives size(transform(...)) > 0 from the explode and merges
      -- it into the SAME Filter node, so the transform still
      -- evaluates on guarded-out rows (and try_element_at(tk, 0)
      -- still throws INVALID_INDEX_OF_ZERO). IF short-circuits per
      -- row, making the whole expression safe on any input.
      LATERAL VIEW EXPLODE(
          IF(SIZE(tk) >= 2,
             TRANSFORM(SEQUENCE(1, SIZE(tk) - 1),
                 i -> CONCAT(ELEMENT_AT(tk, i), ' ',
                             ELEMENT_AT(tk, i + 1))),
             ARRAY())) x AS big),
bc AS (SELECT doc_id, big, COUNT(*) AS c FROM b GROUP BY doc_id, big),
bt AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) AS maxc,
              CAST(SUM(c) AS DOUBLE) AS nb FROM bc GROUP BY doc_id)
SELECT t.doc_id,
       ROUND(1 - SIZE(ARRAY_DISTINCT(tk)) / CAST(SIZE(tk) AS DOUBLE), 4)
         AS dup_tok_frac,
       ROUND(bt.maxc / bt.nb, 4) AS top_bigram_frac
FROM t JOIN bt ON t.doc_id = bt.doc_id
ORDER BY doc_id
""")

_q("q144_array_batch3",
   oracle="""
SELECT doc_id,
       CAST(LEN(FLATTEN([STRING_SPLIT(text, ' '), [lang]])) AS BIGINT) AS n_flat,
       CAST(LIST_POSITION(STRING_SPLIT(text, ' '), 'table') AS BIGINT) AS pos_tbl,
       ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(3), x -> lang), ',') AS rep3,
       LIST_MAX(STRING_SPLIT(text, ' ')) AS mx
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(SIZE(FLATTEN(ARRAY(SPLIT(text, ' '), ARRAY(lang)))) AS BIGINT) AS n_flat,
       CAST(ARRAY_POSITION(SPLIT(text, ' '), 'table') AS BIGINT) AS pos_tbl,
       ARRAY_JOIN(ARRAY_REPEAT(lang, 3), ',') AS rep3,
       ARRAY_MAX(SPLIT(text, ' ')) AS mx
FROM documents ORDER BY doc_id
""")


# --- batch: embedding math + behavioral analytics (q145-q148).

# Int8 quantization with per-vector absmax scale — the storage-shrink
# step before ANN indexing. ROUND first so the int cast is exact in
# both engines (bare double->int truncates in Spark, rounds in DuckDB).
_q("q145_embedding_quantization",
   oracle="""
WITH t AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
m AS (SELECT vec_id, v, LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS mx FROM t)
SELECT vec_id,
       CASE WHEN mx > 0 THEN ARRAY_TO_STRING(LIST_TRANSFORM(v,
           x -> CAST(CAST(ROUND(x / mx * 127) AS INT) AS STRING)), ',')
       END AS q,
       ROUND(mx, 4) AS scale
FROM m ORDER BY vec_id
""",
   engine_sql="""
WITH t AS (SELECT vec_id, TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
m AS (SELECT vec_id, v, ARRAY_MAX(TRANSFORM(v, x -> ABS(x))) AS mx FROM t)
SELECT vec_id,
       CASE WHEN mx > 0 THEN ARRAY_JOIN(TRANSFORM(v,
           x -> CAST(CAST(ROUND(x / mx * 127) AS INT) AS STRING)), ',')
       END AS q,
       ROUND(mx, 4) AS scale
FROM m ORDER BY vec_id
""")

# Per-language centroid (mean pooling across the cross-modal join):
# posexplode -> (lang, dim) average -> centroid summarized by norm/sum.
_q("q146_embedding_centroid",
   oracle="""
WITH j AS (SELECT d.lang, e.embedding
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
p AS (SELECT lang,
             CAST(UNNEST(GENERATE_SERIES(1, LEN(embedding))) - 1 AS BIGINT) AS pos,
             CAST(UNNEST(embedding) AS DOUBLE) AS val
      FROM j),
a AS (SELECT lang, pos, AVG(val) AS m FROM p GROUP BY lang, pos)
SELECT lang, ROUND(SQRT(SUM(m * m)), 4) AS centroid_norm,
       ROUND(SUM(m), 4) AS centroid_sum, CAST(COUNT(*) AS BIGINT) AS dims
FROM a GROUP BY lang ORDER BY lang
""",
   engine_sql="""
WITH j AS (SELECT d.lang, e.embedding
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
p AS (SELECT lang, CAST(pos AS BIGINT) AS pos, CAST(val AS DOUBLE) AS val
      FROM j LATERAL VIEW POSEXPLODE(embedding) t AS pos, val),
a AS (SELECT lang, pos, AVG(val) AS m FROM p GROUP BY lang, pos)
SELECT lang, ROUND(SQRT(SUM(m * m)), 4) AS centroid_norm,
       ROUND(SUM(m), 4) AS centroid_sum, CAST(COUNT(*) AS BIGINT) AS dims
FROM a GROUP BY lang ORDER BY lang
""")

# Signup->purchase conversion funnel with median-free timing stats.
_q("q147_conversion_funnel",
   oracle="""
WITH u AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s,
                  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(s) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN p > s THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       ROUND(AVG(CASE WHEN p > s
                      THEN EXTRACT(EPOCH FROM p - s) / 60.0 END), 2) AS avg_min
FROM u
""",
   engine_sql="""
WITH u AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s,
                  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(s) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN p > s THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       ROUND(AVG(CASE WHEN p > s
                      THEN (UNIX_TIMESTAMP(p) - UNIX_TIMESTAMP(s)) / 60.0 END),
             2) AS avg_min
FROM u
""")

# Weekly retention cohorts (first-seen week x active week). Both
# engines truncate weeks to ISO Monday.
_q("q148_retention_cohorts", """
WITH f AS (SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
      FROM events)
SELECT f.cohort AS cohort, a.wk AS wk, CAST(COUNT(*) AS BIGINT) AS active_users
FROM f JOIN a ON f.user_id = a.user_id
GROUP BY f.cohort, a.wk ORDER BY cohort, wk
""")


# --- batch: distribution analysis + timeline shaping (q149-q154).

_q("q149_decile_stats", """
WITH d AS (SELECT o_totalprice,
                  NTILE(10) OVER (ORDER BY o_totalprice NULLS LAST, o_orderkey) AS dec
           FROM orders)
SELECT dec, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi,
       ROUND(AVG(o_totalprice), 2) AS av
FROM d GROUP BY dec ORDER BY dec
""")

_q("q150_zscore_outliers", """
WITH s AS (SELECT AVG(o_totalprice) AS m, STDDEV_SAMP(o_totalprice) AS sd
           FROM orders)
SELECT o_orderkey, ROUND((o_totalprice - s.m) / s.sd, 2) AS z
FROM orders CROSS JOIN s
WHERE ABS((o_totalprice - s.m) / s.sd) > 1.5
ORDER BY o_orderkey
""")

# 0.4x IQR fence (the data is uniform, so the textbook 1.5x fence is
# provably empty; 0.4x lands at the ~95th percentile).
def _q151_builder(spark: SparkSession) -> DataFrame:
    # r10: exact quartiles computed DISTRIBUTED. Spark's exact
    # PERCENTILE buffers a value→count map sized by the column's
    # DISTINCT count, merged in ONE final reducer — 801 s at sf100
    # over near-continuous l_extendedprice (r10 profile finding).
    # exact_percentiles (operators/scale_windows.py) ranks the column
    # with the bucketed two-phase machinery and fetches only the
    # bracketing rows; identical interpolation semantics (bit-equal to
    # PERCENTILE in tests). Oracle text unchanged.
    from shredder_spark.operators.scale_windows import exact_percentiles

    li = spark.table("lineitem").select("l_extendedprice")
    q1, q3 = exact_percentiles(li, "l_extendedprice", [0.25, 0.75])
    v = F.col("l_extendedprice")
    return (li.filter((v > q3 + 0.4 * (q3 - q1))
                      | (v < q1 - 0.4 * (q3 - q1)))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_outliers"),
                 F.round(F.min(v), 2).alias("mn"),
                 F.round(F.max(v), 2).alias("mx")))


_q("q151_iqr_outliers",
   oracle="""
WITH s AS (SELECT QUANTILE_CONT(l_extendedprice, 0.25) AS q1,
                  QUANTILE_CONT(l_extendedprice, 0.75) AS q3 FROM lineitem)
SELECT CAST(COUNT(*) AS BIGINT) AS n_outliers,
       ROUND(MIN(l_extendedprice), 2) AS mn, ROUND(MAX(l_extendedprice), 2) AS mx
FROM lineitem CROSS JOIN s
WHERE l_extendedprice > q3 + 0.4 * (q3 - q1)
   OR l_extendedprice < q1 - 0.4 * (q3 - q1)
""",
   builder=_q151_builder)

_q("q152_share_of_total", """
WITH t AS (SELECT n.n_name AS n_name, CAST(COUNT(*) AS DOUBLE) AS c
           FROM customer c2 JOIN nation n ON c2.c_nationkey = n.n_nationkey
           GROUP BY n.n_name)
SELECT n_name, CAST(c AS BIGINT) AS n_cust,
       ROUND(c / SUM(c) OVER (), 4) AS share
FROM t ORDER BY n_name
""")

# Gap-filled daily timeline over a sparse slice (errors with value>95
# skip days at the smallest SF, so the zero-fill branch is exercised).
_q("q153_gapfill_timeline",
   oracle="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
           FROM events),
cal AS (SELECT CAST(UNNEST(GENERATE_SERIES(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS d
        FROM b),
agg AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'error' AND value > 95 GROUP BY 1)
SELECT cal.d AS d, COALESCE(agg.c, 0) AS c
FROM cal LEFT JOIN agg ON cal.d = agg.d ORDER BY d
""",
   engine_sql="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
           FROM events),
cal AS (SELECT EXPLODE(SEQUENCE(lo, hi, INTERVAL 1 DAY)) AS d FROM b),
agg AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'error' AND value > 95 GROUP BY 1)
SELECT cal.d AS d, COALESCE(agg.c, 0) AS c
FROM cal LEFT JOIN agg ON cal.d = agg.d ORDER BY d
""")

# SCD2-style validity intervals: each event's attribute version is
# valid until the user's next event (open intervals capped at a
# far-future sentinel).
_q("q154_scd2_intervals", """
SELECT event_id, user_id, event_type, ts AS valid_from,
       COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '2100-01-01 00:00:00') AS valid_to
FROM events ORDER BY event_id
""")


# --- batch: corpus dedup end-to-end, typed JSON, ordered funnel
# (q155-q157).

def _q155_builder(spark: SparkSession) -> DataFrame:
    # Full dedup pipeline: MinHash-LSH pairs -> greedy keeper set.
    # Rows-only (approximate tier); the no-surviving-pair invariant is
    # tested in tests/test_curation_ops.py.
    from shredder_spark.operators.dedup import dedupe_keepers

    docs = spark.table("documents")
    kept = dedupe_keepers(docs, "doc_id", "text", threshold=0.8)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept")).orderBy("lang")


_q("q155_dedup_keepers", oracle=None, builder=_q155_builder)

# Typed JSON parsing (FROM_JSON struct) with a predicate on the parsed
# field; the oracle extracts and casts per field.
_q("q156_typed_json_parse",
   oracle="""
SELECT event_id, k FROM (
  SELECT event_id, CASE WHEN json_valid(props)
         THEN CAST(JSON_EXTRACT(props, '$.k') AS INT) END AS k
  FROM events) t
WHERE k > 90 ORDER BY event_id
""",
   engine_sql="""
SELECT event_id, k FROM (
  SELECT event_id, FROM_JSON(props, 'k INT').k AS k FROM events) t
WHERE k > 90 ORDER BY event_id
""")

# Strict ordered funnel: first view, first click AFTER that view,
# first purchase AFTER that click (not just presence like q147).
_q("q157_ordered_funnel", """
WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS step_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS step_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS step_purchase
""")


# --- batch: IR/text-statistics primitives (q158-q159).

_q("q158_inverted_index",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, u.tok AS tok
             FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok))
SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
       ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), ',') AS postings
FROM tok GROUP BY tok ORDER BY tok
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM documents LATERAL VIEW EXPLODE(SPLIT(text, ' ')) t AS tok)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
       ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(doc_id)), ',') AS postings
FROM tok GROUP BY tok ORDER BY tok
""")

# Pointwise mutual information over co-occurring token pairs.
# Document frequency rides along as a window count so the exploded
# relation is referenced exactly twice (the unavoidable self-join) —
# no third df branch. At 100 TB restrict to a bounded vocabulary
# first; the synthetic corpus IS a 31-token vocabulary.
_q("q159_token_pmi",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, u.tok AS tok
             FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)),
td AS (SELECT doc_id, tok,
              CAST(COUNT(*) OVER (PARTITION BY tok) AS DOUBLE) AS df
       FROM tok),
pair AS (SELECT a.tok AS ta, b.tok AS tb, CAST(COUNT(*) AS DOUBLE) AS cab,
                MAX(a.df) AS dfa, MAX(b.df) AS dfb
         FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY a.tok, b.tok)
SELECT ta, tb, ROUND(LN(cab * (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                        / (dfa * dfb)), 4) AS pmi
FROM pair WHERE cab >= 5 ORDER BY ta, tb
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM documents LATERAL VIEW EXPLODE(SPLIT(text, ' ')) t AS tok),
td AS (SELECT doc_id, tok,
              CAST(COUNT(*) OVER (PARTITION BY tok) AS DOUBLE) AS df
       FROM tok),
pair AS (SELECT a.tok AS ta, b.tok AS tb, CAST(COUNT(*) AS DOUBLE) AS cab,
                MAX(a.df) AS dfa, MAX(b.df) AS dfb
         FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY a.tok, b.tok)
SELECT ta, tb, ROUND(LN(cab * (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                        / (dfa * dfb)), 4) AS pmi
FROM pair WHERE cab >= 5 ORDER BY ta, tb
""")


def _q160_builder(spark: SparkSession) -> DataFrame:
    # Capstone: the full curation pipeline (quality filter -> near-dup
    # dedup -> deterministic lang-stratified sample -> chunking) as ONE
    # lazy plan. Rows-only (the dedup tier is approximate); stage
    # invariants are tested in tests/test_curation_ops.py.
    from shredder_spark.operators.curation import curate_corpus

    docs = spark.table("documents")
    chunks = curate_corpus(docs, sample_rate_hex={"en": "4"})
    return (chunks.groupBy("lang")
            .agg(F.count("*").alias("n_chunks"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy("lang"))


_q("q160_curation_pipeline", oracle=None, builder=_q160_builder)


# --- batch: bit aggregates, conditional count, arrays batch 4,
# element-wise vector arithmetic (q161-q163).

_q("q161_bit_aggs_count_if",
   oracle="""
SELECT o_orderstatus,
       CAST(BIT_AND(o_orderkey) AS BIGINT) AS ba,
       CAST(BIT_OR(o_orderkey) AS BIGINT) AS bo,
       CAST(BIT_XOR(o_orderkey) AS BIGINT) AS bx,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
   engine_sql="""
SELECT o_orderstatus,
       CAST(BIT_AND(o_orderkey) AS BIGINT) AS ba,
       CAST(BIT_OR(o_orderkey) AS BIGINT) AS bo,
       CAST(BIT_XOR(o_orderkey) AS BIGINT) AS bx,
       CAST(COUNT_IF(o_totalprice > 100000) AS BIGINT) AS n_big
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")

# array_append/prepend/compact (Spark 3.4/3.5 additions).
_q("q162_array_batch4",
   oracle="""
SELECT doc_id,
       ARRAY_TO_STRING(LIST_APPEND(STRING_SPLIT(source, '_'), lang), ',') AS ap,
       ARRAY_TO_STRING(LIST_PREPEND(lang, STRING_SPLIT(source, '_')), ',') AS pp,
       CAST(LEN(LIST_FILTER([lang, NULL, source], x -> x IS NOT NULL))
            AS BIGINT) AS n_compact
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       ARRAY_JOIN(ARRAY_APPEND(SPLIT(source, '_'), lang), ',') AS ap,
       ARRAY_JOIN(ARRAY_PREPEND(SPLIT(source, '_'), lang), ',') AS pp,
       CAST(SIZE(ARRAY_COMPACT(ARRAY(lang, NULL, source))) AS BIGINT) AS n_compact
FROM documents ORDER BY doc_id
""")

# Element-wise vector arithmetic between consecutive embeddings:
# sum vector norm + scaled-difference norm via ZIP_WITH (the building
# blocks of residual/delta encodings).
_q("q163_vector_arithmetic",
   oracle="""
WITH p AS (
  SELECT e1.vec_id AS vec_id,
         [CAST(e1.embedding[i] AS DOUBLE) + CAST(e2.embedding[i] AS DOUBLE)
          FOR i IN RANGE(1, LEN(e1.embedding) + 1)] AS vsum,
         [2.0 * (CAST(e1.embedding[i] AS DOUBLE) - CAST(e2.embedding[i] AS DOUBLE))
          FOR i IN RANGE(1, LEN(e1.embedding) + 1)] AS vdiff
  FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1)
SELECT vec_id,
       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(vsum, x -> x * x))), 4) AS sum_norm,
       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(vdiff, x -> x * x))), 4) AS diff_norm
FROM p ORDER BY vec_id
""",
   engine_sql="""
WITH p AS (
  SELECT e1.vec_id AS vec_id,
         ZIP_WITH(e1.embedding, e2.embedding,
                  (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)) AS vsum,
         ZIP_WITH(e1.embedding, e2.embedding,
                  (x, y) -> 2.0 * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))) AS vdiff
  FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1)
SELECT vec_id,
       ROUND(SQRT(AGGREGATE(vsum, 0D, (s, x) -> s + x * x)), 4) AS sum_norm,
       ROUND(SQRT(AGGREGATE(vdiff, 0D, (s, x) -> s + x * x)), 4) AS diff_norm
FROM p ORDER BY vec_id
""")


# --- batch: map higher-order fns, INLINE, population stats (q164-q166).

# transform_keys/transform_values/map_filter; the oracle reproduces the
# same values through plain arithmetic (the map is built from columns,
# so the semantics are fully determined).
_q("q164_map_higher_order",
   oracle="""
SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS dbl_price,
       CAST(COALESCE(CAST(o_totalprice > 100000 AS INT), 0)
            + CAST(COALESCE(o_custkey > 100000, FALSE) AS INT) AS BIGINT)
         AS n_big,
       'PRICE' AS uk
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       ROUND(ELEMENT_AT(TRANSFORM_VALUES(m, (k, v) -> v * 2), 'price'), 2)
         AS dbl_price,
       CAST(SIZE(MAP_FILTER(m, (k, v) -> v > 100000)) AS BIGINT) AS n_big,
       ELEMENT_AT(MAP_KEYS(TRANSFORM_KEYS(m, (k, v) -> UPPER(k))), 1) AS uk
FROM (SELECT o_orderkey,
             MAP('price', o_totalprice, 'cust', CAST(o_custkey AS DOUBLE)) AS m
      FROM orders) t
ORDER BY o_orderkey
""")

# INLINE over a constructed array<struct> (struct-array explode — the
# q70 posexplode shape through the struct path).
_q("q165_inline_struct_array",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 20)
SELECT doc_id, UNNEST(tk) AS tok,
       CAST(UNNEST(GENERATE_SERIES(1, LEN(tk))) AS BIGINT) AS pos
FROM t ORDER BY doc_id, pos
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 20)
SELECT doc_id, s.tok AS tok, CAST(s.pos AS BIGINT) AS pos
FROM t LATERAL VIEW INLINE(
    TRANSFORM(SEQUENCE(1, SIZE(tk)),
              i -> STRUCT(ELEMENT_AT(tk, i) AS tok, i AS pos))) s AS tok, pos
ORDER BY doc_id, pos
""")

_q("q166_population_stats", """
SELECT l_returnflag,
       ROUND(STDDEV_POP(l_quantity), 4) AS sdp,
       ROUND(VAR_POP(l_quantity), 4) AS vp,
       ROUND(COVAR_POP(l_quantity, l_extendedprice), 2) AS cvp
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")


# --- batch: remaining TPC-H shapes (q167-q173) + fn batches 5 (q174-q176).

def _q167_builder(spark: SparkSession) -> DataFrame:
    # Connected-components dedup clusters (B188): transitive closure
    # over MinHash-LSH near-dup pairs, one summary row per cluster.
    # Iterative min-label propagation is not SQL-expressible -> rows-only.
    from shredder_spark.operators.dedup import (connected_components,
                                                minhash_lsh_pairs)
    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    cc = connected_components(pairs.select("i", "j"))
    return (cc.groupBy("cluster")
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.max("id").cast("long").alias("max_id"))
            .orderBy("cluster"))


_q("q167_cc_dedup_clusters", oracle=None, builder=_q167_builder)

# TPC-H Q2 shape: min-cost supplier per part via correlated scalar
# subquery over a twice-referenced CTE (Catalyst decorrelates + reuses).
# MIN (not AVG) of the per-row quotient is summation-order-independent,
# and the output is scaled to integer 1e-4 units with an explicit
# half-up FLOOR(x*1e4 + 0.5): these quotients land on exact .xxxx5
# decimal boundaries where Spark ROUND (exact-binary HALF_UP) and
# DuckDB ROUND (scaled-float) disagree; FLOOR of the identical IEEE
# expression cannot.
_q("q168_min_cost_supplier",
   oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR(MIN(l_extendedprice / NULLIF(l_quantity, 0)) * 10000 + 0.5)
              AS BIGINT) AS unit_e4
  FROM lineitem GROUP BY l_partkey, l_suppkey)
SELECT p.p_partkey, s.s_suppkey, s.s_name, c.unit_e4
FROM part p
JOIN cost c ON c.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE p.p_size < 10
  AND c.unit_e4 = (SELECT MIN(c2.unit_e4) FROM cost c2
                   WHERE c2.l_partkey = p.p_partkey)
ORDER BY p.p_partkey, s.s_suppkey
""",
   engine_sql="""
-- r13: the correlated MIN subquery re-expanded the whole cost
-- aggregate (2 lineitem scans survived AQE stage reuse;
-- CTE_REEXPANSION_SCAN_r13.json). The per-part minimum is now a MIN
-- window over cost itself — one scan, one (partkey, suppkey)
-- exchange, and the window repartitions only the per-(part, supplier)
-- aggregate, never raw lineitem. Provably identical: the correlated
-- MIN per p_partkey equals the window MIN over that part's cost rows
-- (MIN ignores NULL unit_e4 exactly as the subquery did, and a
-- NULL = NULL comparison drops the row in both forms).
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR(MIN(l_extendedprice / NULLIF(l_quantity, 0)) * 10000 + 0.5)
              AS BIGINT) AS unit_e4
  FROM lineitem GROUP BY l_partkey, l_suppkey),
cm AS (SELECT l_partkey, l_suppkey, unit_e4,
              MIN(unit_e4) OVER (PARTITION BY l_partkey) AS pmin
       FROM cost)
SELECT p.p_partkey, s.s_suppkey, s.s_name, c.unit_e4
FROM part p
JOIN cm c ON c.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE p.p_size < 10 AND c.unit_e4 = c.pmin
ORDER BY p.p_partkey, s.s_suppkey
""")

# TPC-H Q9 shape: profit by supplier nation x order year, 5-way join.
_q("q169_profit_by_nation_year", """
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_name LIKE '%e%'
GROUP BY 1, 2 ORDER BY nation, yr
""")

# TPC-H Q11 shape: parts whose revenue exceeds a global-share scalar
# subquery threshold (above 1.1x the mean part revenue). Revenue sums
# per-row-rounded BIGINTs: each product is the same IEEE double in both
# engines, and an integer SUM is exact and order-independent — a plain
# double SUM differed in the last ulp and flipped ROUND at sf0.1.
_q("q170_important_parts", """
WITH pr AS (SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 0)
                                 AS BIGINT)) AS BIGINT) AS rev
            FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, rev
FROM pr
WHERE rev > (SELECT AVG(rev) * 1.1 FROM pr)
ORDER BY l_partkey
""")

# TPC-H Q12 shape: conditional priority counts over an order-line join.
_q("q171_priority_line_counts", """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY l.l_returnflag ORDER BY l.l_returnflag
""")

# TPC-H Q16 shape: distinct-supplier counts per part attribute with a
# NOT IN exclusion subquery.
_q("q172_supplier_part_counts", """
SELECT p.p_brand, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p.p_brand, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
""")

# TPC-H Q21 shape: suppliers alone-late on multi-supplier finished
# orders (EXISTS + NOT EXISTS double correlation).
_q("q173_waiting_suppliers", """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name ORDER BY numwait DESC, s.s_name
""")

# String batch 5: prefix/suffix/containment predicates + bit/byte
# lengths. DuckDB spells them STARTS_WITH/ENDS_WITH/STRLEN.
_q("q174_string_batch5",
   oracle="""
SELECT p_partkey,
       CAST(STARTS_WITH(p_name, 'b') AS INT) AS sw,
       CAST(ENDS_WITH(p_name, 't') AS INT) AS ew,
       CAST(CONTAINS(p_name, 'widget') AS INT) AS ct,
       CAST(BIT_LENGTH(p_brand) AS BIGINT) AS bl,
       CAST(STRLEN(p_name) AS BIGINT) AS ol
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       CAST(STARTSWITH(p_name, 'b') AS INT) AS sw,
       CAST(ENDSWITH(p_name, 't') AS INT) AS ew,
       CAST(CONTAINS(p_name, 'widget') AS INT) AS ct,
       CAST(BIT_LENGTH(p_brand) AS BIGINT) AS bl,
       CAST(OCTET_LENGTH(p_name) AS BIGINT) AS ol
FROM part ORDER BY p_partkey
""")

# Datetime batch 4: date construction + day/month names.
_q("q175_datetime_batch4",
   oracle="""
SELECT o_orderkey,
       MAKE_DATE(2024, CAST(EXTRACT(MONTH FROM o_orderdate) AS INT), 15) AS md,
       DAYNAME(o_orderdate) AS dn,
       MONTHNAME(o_orderdate) AS mn
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       MAKE_DATE(2024, MONTH(o_orderdate), 15) AS md,
       DATE_FORMAT(o_orderdate, 'EEEE') AS dn,
       DATE_FORMAT(o_orderdate, 'MMMM') AS mn
FROM orders ORDER BY o_orderkey
""")

# Array batch 5: set-difference (distinct semantics -> sorted),
# element removal (order-preserving), zip length.
_q("q176_array_batch5",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 50)
SELECT doc_id,
       -- COALESCE: DuckDB's ARRAY_TO_STRING of an EMPTY list is NULL
       -- where Spark's ARRAY_JOIN is '' (1-token docs hit this)
       COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
         [x FOR x IN tk IF NOT LIST_CONTAINS(['the', 'a', 'of'], x)])), ','),
         '') AS ex,
       COALESCE(ARRAY_TO_STRING([x FOR x IN tk IF x != 'the'], ','), '')
         AS rm,
       CAST(LEN(tk) AS BIGINT) AS nz
FROM t ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 50)
SELECT doc_id,
       ARRAY_JOIN(ARRAY_SORT(ARRAY_EXCEPT(tk, ARRAY('the', 'a', 'of'))), ',') AS ex,
       ARRAY_JOIN(ARRAY_REMOVE(tk, 'the'), ',') AS rm,
       CAST(SIZE(ARRAYS_ZIP(tk, tk)) AS BIGINT) AS nz
FROM t ORDER BY doc_id
""")


# --- batch: hashing/encoding, width_bucket, try-arith 2, URL, str_to_map
# (q177-q181).

# Hash + encoding functions. Spark HEX uppercases A-F, DuckDB doesn't
# -> LOWER both sides; BASE64 needs an explicit BLOB cast in DuckDB.
_q("q177_hash_encoding",
   oracle="""
SELECT p_partkey,
       SHA256(p_name) AS sh,
       MD5(p_name) AS m5,
       TO_BASE64(p_name::BLOB) AS b64,
       LOWER(HEX(p_name)) AS hx
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       SHA2(p_name, 256) AS sh,
       MD5(p_name) AS m5,
       BASE64(CAST(p_name AS BINARY)) AS b64,
       LOWER(HEX(p_name)) AS hx
FROM part ORDER BY p_partkey
""")

# WIDTH_BUCKET equi-width binning; DuckDB lacks it -> CASE+FLOOR oracle
# reproducing the lo/hi/overflow bucket semantics.
_q("q178_width_bucket",
   oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 11
            ELSE CAST(FLOOR(o_totalprice / 50000.0) + 1 AS BIGINT) END AS bkt
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       WIDTH_BUCKET(o_totalprice, 0.0, 500000.0, 10) AS bkt
FROM orders ORDER BY o_orderkey
""")

# try_* batch 2: scalar try-arithmetic + try aggregates on non-
# overflowing data reduce to the plain operators (the oracle).
_q("q179_try_arith2",
   oracle="""
SELECT o_orderstatus,
       CAST(SUM(o_orderkey + 1) AS BIGINT) AS s_add,
       CAST(SUM(o_custkey * 2) AS BIGINT) AS s_mul,
       ROUND(SUM(o_totalprice), 2) AS s_sum,
       ROUND(AVG(o_totalprice), 2) AS s_avg
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
   engine_sql="""
SELECT o_orderstatus,
       CAST(SUM(TRY_ADD(o_orderkey, 1)) AS BIGINT) AS s_add,
       CAST(SUM(TRY_MULTIPLY(o_custkey, 2)) AS BIGINT) AS s_mul,
       ROUND(TRY_SUM(o_totalprice), 2) AS s_sum,
       ROUND(TRY_AVG(o_totalprice), 2) AS s_avg
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")

# PARSE_URL host/path/query against a ground-truth construction the
# oracle rebuilds from the same source columns.
_q("q180_url_parse",
   oracle="""
SELECT doc_id,
       source || '.example.com' AS host,
       '/' || lang AS path,
       'id=' || CAST(doc_id AS STRING) AS q
FROM documents ORDER BY doc_id
""",
   engine_sql="""
WITH u AS (SELECT doc_id,
                  CONCAT('https://', source, '.example.com/', lang,
                         '?id=', CAST(doc_id AS STRING)) AS url
           FROM documents)
SELECT doc_id,
       PARSE_URL(url, 'HOST') AS host,
       PARSE_URL(url, 'PATH') AS path,
       PARSE_URL(url, 'QUERY') AS q
FROM u ORDER BY doc_id
""")

# STR_TO_MAP round-trip: build a k:v string from columns, parse it
# back, extract by key; the oracle reads the columns directly.
_q("q181_str_to_map",
   oracle="""
SELECT doc_id, lang AS lv, source AS sv
FROM documents ORDER BY doc_id
""",
   engine_sql="""
WITH m AS (SELECT doc_id,
                  STR_TO_MAP(CONCAT('lang:', lang, ',src:', source),
                             ',', ':') AS mp
           FROM documents)
SELECT doc_id, mp['lang'] AS lv, mp['src'] AS sv
FROM m ORDER BY doc_id
""")

# ------------------------------------------------- math/func batches 6
# (q182-q186).

# Trigonometric + logarithm family over lineitem measures. Inputs kept
# in safe domains (discount in [0,0.1] for TAN; +1 under LOG2).
_q("q182_trig_math3", """
SELECT l_orderkey, l_linenumber,
       ROUND(SIN(l_quantity), 4)                    AS sn,
       ROUND(COS(l_quantity), 4)                    AS cs,
       ROUND(TAN(l_discount), 4)                    AS tn,
       ROUND(ATAN(l_quantity), 4)                   AS at,
       ROUND(ATAN2(l_quantity, l_extendedprice), 6) AS at2,
       ROUND(DEGREES(l_discount), 4)                AS dg,
       ROUND(RADIANS(l_quantity), 4)                AS rd,
       CAST(SIGN(l_quantity - 25) AS BIGINT)        AS sg,
       CASE WHEN l_extendedprice > 0
            THEN ROUND(LOG10(l_extendedprice), 4) END AS l10,
       ROUND(LOG2(l_quantity + 1), 4)               AS l2,
       ROUND(CBRT(l_extendedprice), 4)              AS cb
FROM lineitem ORDER BY l_orderkey, l_linenumber
""")

# Integer math batch: positive modulo, base conversion, factorial,
# popcount. PMOD exercised on negative inputs (p_partkey - 50).
_q("q183_int_math", """
SELECT p_partkey,
       CAST(((p_partkey - 50) % 7 + 7) % 7 AS BIGINT) AS pm,
       TO_BASE(p_size, 16)                            AS hx,
       CAST(FACTORIAL(p_size % 10) AS BIGINT)         AS fc,
       CAST(BIT_COUNT(p_partkey) AS BIGINT)           AS bc
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       CAST(PMOD(p_partkey - 50, 7) AS BIGINT)        AS pm,
       CONV(CAST(p_size AS STRING), 10, 16)           AS hx,
       CAST(FACTORIAL(p_size % 10) AS BIGINT)         AS fc,
       CAST(BIT_COUNT(p_partkey) AS BIGINT)           AS bc
FROM part ORDER BY p_partkey
""")

# STACK generator: wide one-row aggregate unpivoted to long form.
# Oracle reconstructs via UNION ALL over the same CTE.
_q("q184_stack_long_form",
   oracle="""
WITH agg AS (SELECT AVG(o_totalprice) AS a, MIN(o_totalprice) AS mn,
                    MAX(o_totalprice) AS mx FROM orders)
SELECT 'avg' AS k, ROUND(a, 2) AS v FROM agg
UNION ALL SELECT 'min', ROUND(mn, 2) FROM agg
UNION ALL SELECT 'max', ROUND(mx, 2) FROM agg
ORDER BY k
""",
   engine_sql="""
WITH agg AS (SELECT AVG(o_totalprice) AS a, MIN(o_totalprice) AS mn,
                    MAX(o_totalprice) AS mx FROM orders)
SELECT k, ROUND(v, 2) AS v
FROM (SELECT STACK(3, 'avg', a, 'min', mn, 'max', mx) AS (k, v) FROM agg)
ORDER BY k
""")

# JSON serialization of a struct column; both engines emit compact
# {"k":v} text with identical escaping for these fields.
_q("q185_to_json",
   oracle="""
SELECT c_custkey,
       TO_JSON(STRUCT_PACK(name := c_name, nk := c_nationkey))::VARCHAR AS js
FROM customer ORDER BY c_custkey
""",
   engine_sql="""
SELECT c_custkey,
       TO_JSON(NAMED_STRUCT('name', c_name, 'nk', c_nationkey),
               MAP('ignoreNullFields', 'false')) AS js
FROM customer ORDER BY c_custkey
""")

# Conditional batch 2: IF / NVL / NVL2 / NANVL+ISNAN. The NaN source is
# SQRT of a negative; DuckDB raises on that, so the oracle guards with
# CASE (lazily evaluated) instead.
_q("q186_conditional2",
   oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END AS t,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'none') AS nv,
       CASE WHEN NULLIF(o_orderstatus, 'O') IS NOT NULL
            THEN 'closed' ELSE 'open' END AS nv2,
       CASE WHEN o_totalprice IS NULL THEN NULL
            WHEN o_totalprice >= 200000
            THEN ROUND(SQRT(o_totalprice - 200000), 2)
            ELSE CAST(-1 AS DOUBLE) END AS sq,
       CASE WHEN o_totalprice < 200000 THEN TRUE ELSE FALSE END AS nan
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       IF(o_totalprice > 100000, 'hi', 'lo') AS t,
       NVL(NULLIF(o_orderstatus, 'O'), 'none') AS nv,
       NVL2(NULLIF(o_orderstatus, 'O'), 'closed', 'open') AS nv2,
       ROUND(NANVL(SQRT(o_totalprice - 200000), CAST(-1 AS DOUBLE)), 2) AS sq,
       ISNAN(SQRT(o_totalprice - 200000)) AS nan
FROM orders ORDER BY o_orderkey
""")

# ------------------------------------------------- TPC-H Q6/Q20 +
# LLM-pipeline: contamination check, unigram LM scoring (q187-q191).

# TPC-H Q6 forecasting revenue change: tight filter + single agg —
# the pushdown showcase (all three predicates reach the parquet scan).
_q("q187_tpch_q6_forecast", """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")

# TPC-H Q20 shape (potential part promotion), adapted to our schema:
# lineitem stands in for partsupp as the part-supplier link. Nested
# IN-subqueries with a grouped HAVING threshold.
_q("q188_tpch_q20_promotion", """
WITH eligible AS (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%a%')
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 90)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (SELECT l_suppkey FROM eligible)
  AND s.s_nationkey IN (SELECT n_nationkey FROM nation
                        WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12'))
ORDER BY s.s_suppkey
""")

# Benchmark-contamination check: distinct 5-gram overlap between a
# "benchmark" slice (doc_id % 10 = 0) and candidate docs. The gram
# join is a plain equi-join on the gram string — shuffles on gram,
# broadcastable when the benchmark set is small.
_q("q189_contamination_5gram",
   oracle="""
WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id,
             LIST_DISTINCT([ARRAY_TO_STRING(tk[i:i+4], ' ')
                            FOR i IN RANGE(1, LEN(tk) - 3)]) AS gs
      FROM tok WHERE LEN(tk) >= 5),
bench AS (SELECT DISTINCT UNNEST(gs) AS gram FROM g WHERE doc_id % 10 = 0),
cand AS (SELECT doc_id, UNNEST(gs) AS gram FROM g WHERE doc_id % 10 <> 0)
SELECT c.doc_id, COUNT(*) AS hits
FROM cand c JOIN bench b ON c.gram = b.gram
GROUP BY c.doc_id ORDER BY c.doc_id
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, SPLIT(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id,
             -- total expression (IF, not just the WHERE guard):
             -- InferFiltersFromGenerate evaluates the transform on
             -- guarded-out rows and SLICE has no try_ variant (see
             -- q143 for the full mechanism)
             IF(SIZE(tk) >= 5,
                ARRAY_DISTINCT(TRANSFORM(SEQUENCE(1, SIZE(tk) - 4),
                               i -> ARRAY_JOIN(SLICE(tk, i, 5), ' '))),
                ARRAY()) AS gs
      FROM tok WHERE SIZE(tk) >= 5),
-- one explode pass: the benchmark flag rides along and a per-gram
-- window MAX replaces the bench-distinct + join (gs is ARRAY_DISTINCT
-- per doc, so instance count per (doc, gram) is exactly 1 and SUM==
-- COUNT(*) of the join form); halves the expensive 5-gram string
-- construction, which Spark otherwise recomputes per CTE reference
a AS (SELECT doc_id, doc_id % 10 = 0 AS is_bench, gram
      FROM g LATERAL VIEW EXPLODE(gs) AS gram),
w AS (SELECT doc_id, is_bench,
             MAX(CASE WHEN is_bench THEN 1 ELSE 0 END)
               OVER (PARTITION BY gram) AS in_bench
      FROM a)
SELECT doc_id, COUNT(*) AS hits
FROM w WHERE NOT is_bench AND in_bench = 1
GROUP BY doc_id ORDER BY doc_id
""")

# Unigram language-model quality score: corpus-wide token frequencies
# → per-doc mean negative log-likelihood (low = generic text, high =
# rare tokens). Same two-pass explode shape as TF-IDF (q139).
_q("q190_unigram_logprob",
   oracle="""
WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
             FROM documents),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab)
SELECT tok.doc_id, ROUND(AVG(-LN(vocab.c / tot.n)), 4) AS nll
FROM tok JOIN vocab USING (t) CROSS JOIN tot
GROUP BY tok.doc_id ORDER BY tok.doc_id
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS t
             FROM documents),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab)
SELECT tok.doc_id, ROUND(AVG(-LN(vocab.c / tot.n)), 4) AS nll
FROM tok JOIN vocab USING (t) CROSS JOIN tot
GROUP BY tok.doc_id ORDER BY tok.doc_id
""")

# FIND_IN_SET / ELT list-position functions.
_q("q191_find_in_set_elt",
   oracle="""
SELECT n_nationkey,
       CAST(COALESCE(LIST_POSITION(STRING_SPLIT('NATION_3,NATION_8,NATION_12', ','),
                                   n_name), 0) AS BIGINT) AS fis,
       (['r0','r1','r2','r3','r4'])[n_regionkey + 1] AS e
FROM nation ORDER BY n_nationkey
""",
   engine_sql="""
SELECT n_nationkey,
       CAST(FIND_IN_SET(n_name, 'NATION_3,NATION_8,NATION_12') AS BIGINT) AS fis,
       ELT(n_regionkey + 1, 'r0', 'r1', 'r2', 'r3', 'r4') AS e
FROM nation ORDER BY n_nationkey
""")

# ------------------------------------------------- grouping-id, mask,
# datetime 5, ordered set agg, any_value, json_tuple (q192-q197).

# GROUPING_ID over a rollup; oracle reconstructs the bit-vector from
# individual GROUPING() flags.
_q("q192_grouping_id",
   oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c,
       CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
            AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
""",
   engine_sql="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c,
       CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
""")

# Data masking (PII-style): Spark MASK() defaults (upper→X, lower→x,
# digit→n, other kept); oracle = equivalent regexp chain.
_q("q193_mask",
   oracle="""
SELECT c_custkey,
       REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
         c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
         '[0-9]', 'n', 'g') AS mk
FROM customer ORDER BY c_custkey
""",
   engine_sql="""
SELECT c_custkey, MASK(c_name) AS mk
FROM customer ORDER BY c_custkey
""")

# Datetime batch 5: months_between on month-truncated stamps (exact
# integer on both), date-minus-days, epoch milliseconds.
_q("q194_datetime5",
   oracle="""
SELECT o_orderkey,
       CAST(DATE_DIFF('month', TIMESTAMP '1995-01-01 00:00:00',
                      DATE_TRUNC('month', o_orderdate)) AS BIGINT) AS mb,
       CAST(o_orderdate AS DATE) - 15 AS ds,
       CAST(EPOCH_MS(o_orderdate) AS BIGINT) AS um
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       CAST(MONTHS_BETWEEN(DATE_TRUNC('month', o_orderdate),
                           TIMESTAMP '1995-01-01 00:00:00') AS BIGINT) AS mb,
       DATE_SUB(CAST(o_orderdate AS DATE), 15) AS ds,
       CAST(UNIX_MILLIS(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS um
FROM orders ORDER BY o_orderkey
""")

# Ordered set aggregation: distinct values per group as a sorted
# joined string (set semantics, deterministic rendering).
_q("q195_sorted_collect_set",
   oracle="""
SELECT l_returnflag,
       ARRAY_TO_STRING(LIST(DISTINCT l_linestatus ORDER BY l_linestatus),
                       ',') AS st,
       ARRAY_TO_STRING(LIST(DISTINCT CAST(l_linenumber AS BIGINT)
                            ORDER BY CAST(l_linenumber AS BIGINT)), ',') AS ln
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
   engine_sql="""
SELECT l_returnflag,
       ARRAY_JOIN(SORT_ARRAY(COLLECT_SET(l_linestatus)), ',') AS st,
       ARRAY_JOIN(SORT_ARRAY(COLLECT_SET(CAST(l_linenumber AS BIGINT))),
                  ',') AS ln
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")

# ANY_VALUE on single-valued groups (deterministic by construction:
# n_name is functionally dependent on n_nationkey).
_q("q196_any_value", """
SELECT n_nationkey, ANY_VALUE(n_name) AS nm, COUNT(*) AS c
FROM nation GROUP BY n_nationkey ORDER BY n_nationkey
""")

# JSON_TUPLE lateral view (multi-key JSON field extraction).
_q("q197_json_tuple",
   oracle="""
SELECT event_id, CASE WHEN json_valid(props)
       THEN JSON_EXTRACT_STRING(props, '$.k') END AS k
FROM events ORDER BY event_id
""",
   engine_sql="""
SELECT event_id, k
FROM events LATERAL VIEW JSON_TUPLE(props, 'k') jt AS k
ORDER BY event_id
""")

# ------------------------------------------------- offsets, array edit,
# transition matrix, OOV rate, deterministic sampling (q198-q202).

# LAG/LEAD with explicit offset + default (no NULL branch in output).
_q("q198_lag_lead_offsets", """
SELECT o_orderkey,
       LAG(o_orderstatus, 2, '--') OVER w AS lg2,
       LEAD(o_orderstatus, 2, '++') OVER w AS ld2
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_orderkey
""")

# Array editing: positional insert + out-of-bounds-safe / negative
# element access. Oracle synthesizes insert via slice concatenation.
_q("q199_array_edit",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 100)
SELECT doc_id,
       ARRAY_TO_STRING(tk[1:2] || ['<INS>'] || tk[3:], ',') AS ins,
       tk[500] AS oob,
       tk[-1] AS lst
FROM t ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS tk
           FROM documents WHERE doc_id < 100)
SELECT doc_id,
       ARRAY_JOIN(ARRAY_INSERT(tk, 3, '<INS>'), ',') AS ins,
       TRY_ELEMENT_AT(tk, 500) AS oob,
       ELEMENT_AT(tk, -1) AS lst
FROM t ORDER BY doc_id
""")

# Event-transition matrix (Markov first-order): per-user LAG over
# event time, then count (prev → next) pairs. One window shuffle on
# user_id, one agg shuffle on the pair — both key-partitioned.
_q("q200_transition_matrix", """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events)
SELECT prev_type, event_type, COUNT(*) AS c
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY prev_type, event_type
""")

# Vocabulary pruning + OOV rate: top-64 tokens by corpus frequency
# (ties broken by token), then per-doc fraction of tokens outside the
# vocab. The vocab is tiny → broadcast to the probe side.
_q("q201_vocab_oov",
   oracle="""
WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
             FROM documents),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM freq ORDER BY c DESC, t LIMIT 64)
SELECT tok.doc_id,
       ROUND(AVG(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 4) AS oov
FROM tok LEFT JOIN vocab v ON tok.t = v.t
GROUP BY tok.doc_id ORDER BY tok.doc_id
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS t
             FROM documents),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM freq ORDER BY c DESC, t LIMIT 64)
SELECT tok.doc_id,
       ROUND(AVG(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 4) AS oov
FROM tok LEFT JOIN vocab v ON tok.t = v.t
GROUP BY tok.doc_id ORDER BY tok.doc_id
""")

# Deterministic per-group top-k sampling: hash-ordered ROW_NUMBER
# within language — engine-independent pseudo-random pick (same MD5
# text on both sides).
_q("q202_group_sample",
   oracle="""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY MD5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents)
WHERE rn <= 5 ORDER BY lang, doc_id
""",
   engine_sql="""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY MD5(CAST(doc_id AS STRING)), doc_id) AS rn
  FROM documents)
WHERE rn <= 5 ORDER BY lang, doc_id
""")

# ------------------------------------------------- listagg, time-range
# windows, multi-agg pivot, trim-chars (q203-q206).

# ANSI LISTAGG ... WITHIN GROUP (Spark 4) vs DuckDB ordered STRING_AGG.
_q("q203_listagg",
   oracle="""
SELECT o_orderstatus,
       STRING_AGG(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
         AS pri
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
   engine_sql="""
SELECT o_orderstatus,
       LISTAGG(DISTINCT o_orderpriority, '|')
         WITHIN GROUP (ORDER BY o_orderpriority) AS pri
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")

# Time-based RANGE frame: rolling 30-day spend per customer. RANGE
# includes date peers, so the frame is deterministic without a
# tie-break column.
_q("q204_time_range_window", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW), 2)
         AS spend30
FROM orders ORDER BY o_orderkey
""")

# PIVOT with multiple aggregates per pivot value; oracle spells out the
# conditional aggregates with Spark's generated column names.
_q("q205_pivot_multi_agg",
   oracle="""
SELECT o_orderpriority,
       ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O_s,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)         AS O_c,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F_s,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)         AS F_c,
       ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P_s,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)         AS P_c
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   engine_sql="""
SELECT o_orderpriority,
       ROUND(O_s, 2) AS O_s, O_c, ROUND(F_s, 2) AS F_s, F_c,
       ROUND(P_s, 2) AS P_s, P_c
FROM (SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders)
PIVOT (SUM(o_totalprice) AS s, COUNT(o_totalprice) AS c
       FOR o_orderstatus IN ('O', 'F', 'P'))
ORDER BY o_orderpriority
""")

# Character-class trims: Spark two-arg LTRIM/RTRIM take (trimStr, str);
# DuckDB takes (str, chars) — paired on argument order.
_q("q206_trim_chars",
   oracle="""
SELECT p_partkey,
       TRIM('xx' || p_brand || 'xx', 'x')  AS bt,
       LTRIM('xx' || p_brand, 'x')         AS lt,
       RTRIM(p_brand || 'xx', 'x')         AS rt
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey,
       BTRIM('xx' || p_brand || 'xx', 'x') AS bt,
       LTRIM('x', 'xx' || p_brand)         AS lt,
       RTRIM('x', p_brand || 'xx')         AS rt
FROM part ORDER BY p_partkey
""")

# ------------------------------------------------- multi-quantile,
# bitmap distinct, lateral alias, from_csv, timestamp arithmetic,
# timezone conversion, regexp_instr, printf (q207-q214).

# Multi-quantile in one aggregation pass: Spark PERCENTILE over an
# array of fractions vs DuckDB QUANTILE_CONT over a list; both sides
# round element-wise for float determinism.
_q("q207_multi_quantile",
   oracle="""
SELECT l_returnflag,
       [ROUND(x, 2) FOR x IN
        QUANTILE_CONT(CAST(l_quantity AS DOUBLE), [0.25, 0.5, 0.75])] AS qs
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
   engine_sql="""
SELECT l_returnflag,
       TRANSFORM(PERCENTILE(CAST(l_quantity AS DOUBLE),
                            ARRAY(0.25D, 0.5D, 0.75D)),
                 x -> ROUND(x, 2)) AS qs
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Roaring-bitmap distinct counting (Spark 3.5 bitmap functions): exact
# COUNT(DISTINCT) via mergeable per-bucket bitmaps — the scale path for
# repeated distinct counts (bitmaps union across partitions without
# re-scanning). Oracle is the plain distinct count.
_q("q208_bitmap_distinct",
   oracle="""
SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS u
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
   engine_sql="""
SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS u
FROM (SELECT l_returnflag,
             bitmap_bucket_number(l_partkey) AS b,
             bitmap_count(bitmap_construct_agg(
               bitmap_bit_position(l_partkey))) AS cnt
      FROM lineitem
      GROUP BY l_returnflag, bitmap_bucket_number(l_partkey))
GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Lateral column aliases: later SELECT items reference earlier aliases
# in the same list (Spark 3.4 / DuckDB shared syntax). Integer
# arithmetic only — a float multiplier here lands on .xx5 rounding
# boundaries where Java (HALF_UP) and C (half-even) disagree.
_q("q209_lateral_alias", """
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS whole,
       whole * 9 AS scaled,
       scaled + whole AS total
FROM orders ORDER BY o_orderkey
""")

# CSV-in-column parsing: serialize two part columns to a CSV string and
# parse back with FROM_CSV (schema'd struct). Oracle reads the source
# columns directly — equality proves the round trip.
_q("q210_from_csv",
   oracle="""
SELECT p_partkey, p_brand AS brand, CAST(p_size AS BIGINT) AS sz
FROM part ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey, parsed.brand AS brand, CAST(parsed.sz AS BIGINT) AS sz
FROM (SELECT p_partkey,
             FROM_CSV(CONCAT(p_brand, ',',
                             COALESCE(CAST(p_size AS STRING), '')),
                      'brand STRING, sz INT') AS parsed
      FROM part)
ORDER BY p_partkey
""")

# TIMESTAMPDIFF/TIMESTAMPADD unit arithmetic. All events are after the
# anchor, so Spark's truncate-toward-zero equals the oracle's FLOOR.
_q("q211_timestamp_arith",
   oracle="""
SELECT event_id,
       CAST(FLOOR((EPOCH(ts) - EPOCH(TIMESTAMP '2024-01-01 00:00:00'))
                  / 60) AS BIGINT) AS mins_since,
       ts + INTERVAL 6 HOUR AS ts_plus6h
FROM events ORDER BY event_id
""",
   engine_sql="""
SELECT event_id,
       CAST(TIMESTAMPDIFF(MINUTE, TIMESTAMP '2024-01-01 00:00:00', ts)
            AS BIGINT) AS mins_since,
       TIMESTAMPADD(HOUR, 6, ts) AS ts_plus6h
FROM events ORDER BY event_id
""")

# Timezone conversion: naive-UTC event times to New York wall time.
# January 2024 only — no DST transition inside the data range.
_q("q212_convert_timezone",
   oracle="""
SELECT event_id,
       (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS ts_ny
FROM events ORDER BY event_id
""",
   engine_sql="""
SELECT event_id,
       CONVERT_TIMEZONE('UTC', 'America/New_York', ts) AS ts_ny
FROM events ORDER BY event_id
""")

# REGEXP_INSTR / REGEXP_SUBSTR: 1-based position and text of the first
# double-vowel. Oracle reconstructs the position from the non-greedy
# prefix ((?s) so '.' crosses newlines) and NULLIFs the no-match ''.
_q("q213_regexp_instr_substr",
   oracle="""
SELECT doc_id,
       CAST(CASE WHEN regexp_matches(text, '[aeiou][aeiou]')
            THEN LENGTH(regexp_extract(text, '(?s)^(.*?)[aeiou][aeiou]', 1)) + 1
            ELSE 0 END AS BIGINT) AS pos,
       NULLIF(regexp_extract(text, '[aeiou][aeiou]', 0), '') AS vv
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(REGEXP_INSTR(text, '[aeiou][aeiou]') AS BIGINT) AS pos,
       REGEXP_SUBSTR(text, '[aeiou][aeiou]') AS vv
FROM documents ORDER BY doc_id
""")

# C-style formatting: Spark FORMAT_STRING (Java Formatter) vs DuckDB
# printf — %s/%05d/%x agree across both; %f is deliberately excluded
# (Java rounds HALF_UP, C rounds half-even).
_q("q214_printf_format",
   oracle="""
SELECT o_orderkey,
       printf('%s|%05d|%x', o_orderstatus, o_orderkey,
              CAST(o_custkey AS INT)) AS s
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       IF(o_orderstatus IS NULL OR o_custkey IS NULL, NULL,
          FORMAT_STRING('%s|%05d|%x', o_orderstatus, o_orderkey,
                        CAST(o_custkey AS INT))) AS s
FROM orders ORDER BY o_orderkey
""")

# ------------------------------------------------- training-data packing
# and mixture sampling, month gap-fill, reference timestamp format
# (q215-q218).

# Concat-then-chunk sequence packing: documents are concatenated per
# source in doc_id order and split into 2000-char context windows; a
# doc's bin is its exclusive-prefix fill position. Summarized per
# (source, bin). Single shuffle (window + agg share the source key).
_q("q215_sequence_packing", """
SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM (SELECT source, n_chars,
             CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2000) AS BIGINT) AS bin
      FROM documents)
GROUP BY source, bin ORDER BY source, bin
""")

# Domain-mixture sampling: target weights for named sources (default
# 0.01), per-source keep probability LEAST(1, w*total/n), then a
# deterministic MD5-threshold sample whose 16-bit hex cutoff encodes
# the probability. Engine/oracle differ only in printf spelling.
_q("q216_mixture_sampling",
   oracle="""
WITH tgt AS (SELECT * FROM (VALUES ('src0', 0.40), ('src1', 0.10),
                                   ('src2', 0.05), ('src3', 0.02))
             AS t(source, w)),
stats AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
          FROM documents GROUP BY source),
plan AS (SELECT s.source, s.n,
                LEAST(1.0, CAST(COALESCE(t.w, 0.01) AS DOUBLE)
                           * (SELECT SUM(n) FROM stats) / s.n) AS keep_prob
         FROM stats s LEFT JOIN tgt t ON s.source = t.source)
SELECT p.source, CAST(p.n AS BIGINT) AS n,
       ROUND(p.keep_prob, 4) AS keep_prob,
       CAST(SUM(CASE WHEN SUBSTRING(MD5(CAST(d.doc_id AS STRING)), 1, 4)
                 < printf('%04x', CAST(FLOOR(p.keep_prob * 65536) AS INT))
                 THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM plan p JOIN documents d ON d.source = p.source
GROUP BY p.source, p.n, p.keep_prob ORDER BY p.source
""",
   engine_sql="""
WITH tgt AS (SELECT * FROM (VALUES ('src0', 0.40), ('src1', 0.10),
                                   ('src2', 0.05), ('src3', 0.02))
             AS t(source, w)),
stats AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
          FROM documents GROUP BY source),
plan AS (SELECT s.source, s.n,
                LEAST(1.0, CAST(COALESCE(t.w, 0.01) AS DOUBLE)
                           * (SELECT SUM(n) FROM stats) / s.n) AS keep_prob
         FROM stats s LEFT JOIN tgt t ON s.source = t.source)
SELECT p.source, CAST(p.n AS BIGINT) AS n,
       ROUND(p.keep_prob, 4) AS keep_prob,
       CAST(SUM(CASE WHEN SUBSTRING(MD5(CAST(d.doc_id AS STRING)), 1, 4)
                 < FORMAT_STRING('%04x',
                     CAST(FLOOR(p.keep_prob * 65536) AS INT))
                 THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM plan p JOIN documents d ON d.source = p.source
GROUP BY p.source, p.n, p.keep_prob ORDER BY p.source
""")

# Month-step date sequence + gap-filled monthly order counts; the
# sequence deliberately extends past the data (zeros prove the fill).
_q("q217_month_gap_fill",
   oracle="""
WITH months AS (SELECT CAST(u.m AS DATE) AS m
                FROM UNNEST(generate_series(DATE '1995-01-01',
                     DATE '2001-12-01', INTERVAL 1 MONTH)) u(m)),
agg AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n
        FROM orders GROUP BY 1)
SELECT months.m AS month_start, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN agg ON months.m = agg.m ORDER BY month_start
""",
   engine_sql="""
WITH months AS (SELECT EXPLODE(SEQUENCE(DATE '1995-01-01',
                     DATE '2001-12-01', INTERVAL 1 MONTH)) AS m),
agg AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n
        FROM orders GROUP BY 1)
SELECT months.m AS month_start, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN agg ON months.m = agg.m ORDER BY month_start
""")

# The reference's custom timestamp text format
# yyyy-MM-dd-HH.mm.ss.SSSSSS (ColumnBuilder.go:284-332): format each
# event time into it and parse it back — parsed must equal the
# original to microsecond precision on both engines (SURVEY B42).
_q("q218_ref_ts_format",
   oracle="""
SELECT event_id,
       STRFTIME(ts, '%Y-%m-%d-%H.%M.%S.%f') AS ref_str,
       STRPTIME(STRFTIME(ts, '%Y-%m-%d-%H.%M.%S.%f'),
                '%Y-%m-%d-%H.%M.%S.%f') AS parsed
FROM events ORDER BY event_id
""",
   engine_sql="""
SELECT event_id,
       DATE_FORMAT(ts, 'yyyy-MM-dd-HH.mm.ss.SSSSSS') AS ref_str,
       TO_TIMESTAMP(DATE_FORMAT(ts, 'yyyy-MM-dd-HH.mm.ss.SSSSSS'),
                    'yyyy-MM-dd-HH.mm.ss.SSSSSS') AS parsed
FROM events ORDER BY event_id
""")

# ------------------------------------------------- interval merging,
# VARIANT, MoM growth, ordered event paths (q219-q222).

# Overlapping-interval coalescing (merge [ts, ts+value minutes) spans
# per user): an interval starts a new island when it begins after the
# running max end of everything before it; islands then collapse to
# merged spans. Two windows + one agg, all on the user_id key.
_q("q219_interval_merge", """
WITH iv AS (SELECT user_id, event_id, ts,
                   ts + CAST(FLOOR(value) AS INT) * INTERVAL 1 MINUTE AS te
            FROM events),
flagged AS (SELECT user_id, ts, te,
                   CASE WHEN ts > MAX(te) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM iv),
islands AS (SELECT user_id, ts, te,
                   SUM(new_island) OVER (
                     PARTITION BY user_id ORDER BY ts, te
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island
            FROM flagged)
SELECT user_id, island, MIN(ts) AS span_start, MAX(te) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands GROUP BY user_id, island ORDER BY user_id, island
""")

# Spark 4 VARIANT semi-structured type: PARSE_JSON into a variant,
# typed VARIANT_GET extraction, predicate on the extracted value.
# Oracle extracts the same path from the JSON text directly.
_q("q220_variant_json",
   oracle="""
SELECT event_id, k FROM (
  SELECT event_id, CASE WHEN json_valid(props)
         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events) t
WHERE k >= 50 ORDER BY event_id
""",
   engine_sql="""
SELECT event_id, k
FROM (SELECT event_id,
             CAST(VARIANT_GET(TRY_PARSE_JSON(props), '$.k', 'long')
                  AS BIGINT) AS k
      FROM events)
WHERE k >= 50
ORDER BY event_id
""")

# Month-over-month revenue growth: monthly rollup then LAG deltas and
# percent change over the month series.
_q("q221_mom_growth", """
WITH m AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m,
                  SUM(CAST(o_totalprice AS DOUBLE)) AS rev
           FROM orders GROUP BY 1)
SELECT m AS month_start, ROUND(rev, 2) AS rev,
       ROUND(rev - LAG(rev) OVER (ORDER BY m), 2) AS delta,
       ROUND((rev / LAG(rev) OVER (ORDER BY m) - 1) * 100, 2) AS pct
FROM m ORDER BY month_start
""")

# Ordered event-path extraction (clickstream footprint per user):
# Spark gets deterministic order by sorting collected (ts, event_id,
# type) structs; the oracle's STRING_AGG orders directly.
_q("q222_event_paths",
   oracle="""
SELECT user_id,
       STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id ORDER BY user_id
""",
   engine_sql="""
SELECT user_id,
       ARRAY_JOIN(TRANSFORM(
         ARRAY_SORT(COLLECT_LIST(STRUCT(ts, event_id, event_type))),
         x -> x.event_type), '>') AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id ORDER BY user_id
""")

# ------------------------------------------------- analytics batch:
# time-weighted avg, windowed distinct, JSON validity, map_zip_with,
# number parsing, weighted stats, Luhn, star-except (q223-q230).

# Time-weighted average value per user (TimescaleDB-style TWA): each
# event's value is weighted by the seconds until the user's next
# event. Paired only on the epoch-extraction spelling.
_q("q223_time_weighted_avg",
   oracle="""
WITH x AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
                  EPOCH(ts) AS t0,
                  EPOCH(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) AS t1
           FROM events)
SELECT user_id,
       ROUND(SUM(v * (t1 - t0)) / SUM(t1 - t0), 2) AS twa,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM x WHERE t1 IS NOT NULL
GROUP BY user_id HAVING SUM(t1 - t0) > 0 ORDER BY user_id
""",
   engine_sql="""
WITH x AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 1e6 AS t0,
                  UNIX_MICROS(CAST(LEAD(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
                              AS TIMESTAMP)) / 1e6 AS t1
           FROM events)
SELECT user_id,
       ROUND(SUM(v * (t1 - t0)) / SUM(t1 - t0), 2) AS twa,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM x WHERE t1 IS NOT NULL
GROUP BY user_id HAVING SUM(t1 - t0) > 0 ORDER BY user_id
""")

# Distinct count as a window aggregate. Spark rejects
# COUNT(DISTINCT) OVER; the idiomatic translation is
# SIZE(COLLECT_SET() OVER) — same value, and the partition-wide frame
# means one state per partition key, not per row.
_q("q224_distinct_count_window",
   oracle="""
SELECT o_orderkey, o_custkey,
       CAST(COUNT(DISTINCT o_orderpriority)
            OVER (PARTITION BY o_custkey) AS BIGINT) AS u_prio
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey, o_custkey,
       CAST(SIZE(COLLECT_SET(o_orderpriority)
            OVER (PARTITION BY o_custkey)) AS BIGINT) AS u_prio
FROM orders ORDER BY o_orderkey
""")

# JSON validity probing: intact props parse, brace-truncated props
# don't. Spark 4 TRY_PARSE_JSON returns NULL VARIANT on bad input;
# DuckDB asks json_valid directly.
_q("q225_json_validity",
   oracle="""
SELECT event_id, json_valid(props) AS ok,
       json_valid(SUBSTRING(props, 1, LENGTH(props) - 1)) AS ok_trunc
FROM events ORDER BY event_id
""",
   engine_sql="""
SELECT event_id,
       CASE WHEN props IS NOT NULL
            THEN TRY_PARSE_JSON(props) IS NOT NULL END AS ok,
       CASE WHEN props IS NOT NULL
            THEN TRY_PARSE_JSON(SUBSTRING(props, 1, LENGTH(props) - 1))
                 IS NOT NULL END AS ok_trunc
FROM events ORDER BY event_id
""")

# MAP_ZIP_WITH key-aligned merge of two maps (missing keys surface as
# NULL lambda args). Oracle computes the same merged values from the
# scalar columns the maps were built from.
_q("q226_map_zip_with",
   oracle="""
SELECT o_orderkey,
       ROUND(COALESCE(CAST(o_totalprice AS DOUBLE), 0)
             + COALESCE(CAST(o_custkey AS DOUBLE), 0), 2) AS base_sum,
       ROUND(CAST(o_orderkey AS DOUBLE), 2) AS key_only,
       ROUND(1.5, 2) AS tax_only
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
WITH m AS (SELECT o_orderkey,
                  MAP('base', CAST(o_totalprice AS DOUBLE),
                      'key',  CAST(o_orderkey AS DOUBLE)) AS m1,
                  MAP('base', CAST(o_custkey AS DOUBLE),
                      'tax',  CAST(1.5 AS DOUBLE)) AS m2
           FROM orders),
z AS (SELECT o_orderkey,
             MAP_ZIP_WITH(m1, m2,
               (k, a, b) -> COALESCE(a, 0D) + COALESCE(b, 0D)) AS mz
      FROM m)
SELECT o_orderkey,
       ROUND(ELEMENT_AT(mz, 'base'), 2) AS base_sum,
       ROUND(ELEMENT_AT(mz, 'key'), 2)  AS key_only,
       ROUND(ELEMENT_AT(mz, 'tax'), 2)  AS tax_only
FROM z ORDER BY o_orderkey
""")

# TO_NUMBER / TRY_TO_NUMBER format-string parsing ('9' = optional
# digit); oracle uses plain / TRY_CAST. Non-numeric o_orderpriority
# ('1-URGENT') must come back NULL on both sides.
_q("q227_to_number",
   oracle="""
SELECT o_orderkey, CAST(o_orderkey AS BIGINT) AS parsed,
       TRY_CAST(o_orderpriority AS DOUBLE) IS NULL AS bad_null
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       CAST(TO_NUMBER(CAST(o_orderkey AS STRING), '999999999') AS BIGINT)
         AS parsed,
       TRY_TO_NUMBER(o_orderpriority, '999999999') IS NULL AS bad_null
FROM orders ORDER BY o_orderkey
""")

# Weighted aggregate statistics (price-weighted discount/quantity):
# pure arithmetic, shared text.
_q("q228_weighted_stats", """
SELECT l_returnflag,
       ROUND(SUM(CAST(l_extendedprice AS DOUBLE) * l_discount)
             / SUM(CAST(l_extendedprice AS DOUBLE)), 4) AS w_avg_disc,
       ROUND(SUM(CAST(l_extendedprice AS DOUBLE) * l_quantity)
             / SUM(CAST(l_extendedprice AS DOUBLE)), 2) AS w_avg_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Luhn checksum validation. Spark has LUHN_CHECK built in; the oracle
# re-derives it arithmetically (double every 2nd digit from the
# right, fold >9 to digit sum, total % 10 == 0).
_q("q229_luhn_check",
   oracle="""
WITH d AS (SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS s
           FROM orders WHERE o_orderkey <= 2000),
e AS (SELECT o_orderkey, u.i,
             CAST(s[LENGTH(s) - u.i + 1] AS INT) AS dig
      FROM d, UNNEST(generate_series(1, LENGTH(s))) u(i))
SELECT o_orderkey,
       (SUM(CASE WHEN i % 2 = 0
                 THEN CASE WHEN 2 * dig > 9 THEN 2 * dig - 9
                           ELSE 2 * dig END
                 ELSE dig END) % 10 = 0) AS ok
FROM e GROUP BY o_orderkey ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey, LUHN_CHECK(CAST(o_orderkey AS STRING)) AS ok
FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey
""")

# SELECT * EXCEPT column subtraction + ORDER BY ALL (Spark spells it
# EXCEPT, DuckDB EXCLUDE; ORDER BY ALL is shared Spark 4 / DuckDB
# syntax; c_custkey survives the subtraction so the order is total).
_q("q230_star_except",
   oracle="""
SELECT * EXCLUDE (c_name, c_mktsegment) FROM customer ORDER BY ALL
""",
   engine_sql="""
SELECT * EXCEPT (c_name, c_mktsegment) FROM customer ORDER BY ALL
""")

# ------------------------------------------------- URL codec,
# exact-capacity sketch top-k, histogram sketch, SemDeDup (q231-q234).

# URL_ENCODE/URL_DECODE round-trip. documents.text is verified
# [a-z0-9 ]-only, so form-encoding is exactly space→'+' and the
# oracle can reconstruct it with REPLACE.
_q("q231_url_codec",
   # The oracle models java.net.URLEncoder faithfully over UTF-8
   # BYTES (unreserved [A-Za-z0-9*-._] kept, space → '+', every other
   # byte → %XX uppercase) — a plain REPLACE(text,' ','+') only agrees
   # on ASCII corpora and diverged on accented/CJK degenerate docs.
   oracle="""
WITH h AS (SELECT doc_id, text, HEX(ENCODE(text)) AS hx FROM documents),
b AS (SELECT doc_id, i, SUBSTR(hx, 2*i - 1, 2) AS pair,
             CAST(('0x' || SUBSTR(hx, 2*i - 1, 2)) AS INT) AS byte
      FROM h, UNNEST(GENERATE_SERIES(1, CAST(LENGTH(hx)/2 AS BIGINT)))
        AS u(i)),
e AS (SELECT doc_id,
             STRING_AGG(CASE WHEN byte = 32 THEN '+'
                             WHEN (byte BETWEEN 48 AND 57)
                               OR (byte BETWEEN 65 AND 90)
                               OR (byte BETWEEN 97 AND 122)
                               OR byte IN (42, 45, 46, 95) THEN CHR(byte)
                             ELSE '%' || UPPER(pair) END,
                        '' ORDER BY i) AS enc
      FROM b GROUP BY doc_id)
SELECT h.doc_id, COALESCE(e.enc, '') AS enc, h.text AS rt
FROM h LEFT JOIN e ON e.doc_id = h.doc_id
ORDER BY h.doc_id
""",
   engine_sql="""
SELECT doc_id, URL_ENCODE(text) AS enc,
       URL_DECODE(URL_ENCODE(text)) AS rt
FROM documents ORDER BY doc_id
""")

# APPROX_TOP_K at a capacity far above the corpus vocabulary (31
# distinct tokens): the space-saving sketch is provably exact when
# nothing is ever evicted, so this one hash-matches an exact oracle.
_q("q232_approx_top_k",
   oracle="""
SELECT u.tok AS tok, CAST(COUNT(*) AS BIGINT) AS c
FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) u(tok)
GROUP BY u.tok ORDER BY c DESC, tok
""",
   engine_sql="""
WITH tok AS (SELECT EXPLODE(SPLIT(text, ' ')) AS tok FROM documents),
sk AS (SELECT APPROX_TOP_K(tok, 500, 65536) AS tk FROM tok)
SELECT e.item AS tok, CAST(e.count AS BIGINT) AS c
FROM sk LATERAL VIEW EXPLODE(tk) x AS e
ORDER BY c DESC, tok
""")


def _q233_builder(spark: SparkSession) -> DataFrame:
    # HISTOGRAM_NUMERIC sketch (approximate bin centers — rows-only;
    # invariants pinned in tests/test_llm_ops.py).
    return spark.sql("""
SELECT b.x AS bin_center, b.y AS cnt
FROM (SELECT HISTOGRAM_NUMERIC(CAST(o_totalprice AS DOUBLE), 10) AS h
      FROM orders)
LATERAL VIEW EXPLODE(h) t AS b
ORDER BY bin_center
""")


_q("q233_histogram_numeric", oracle=None, builder=_q233_builder)


def _q234_builder(spark: SparkSession) -> DataFrame:
    # SemDeDup survivors (approximate/cluster-local — rows-only;
    # greedy-equivalence invariants pinned in tests/test_llm_ops.py).
    # r10: the cluster COUNT scales with the corpus, as in the paper
    # (Abbas et al. use 50k clusters for LAION). A fixed k makes the
    # within-cluster pairwise work Σ|c|² ≈ n²/k — ~2e14 FLOPs at
    # sf100 with k=8 (measured: the profile shard ground for an hour).
    # Bounding E[|c|] at ~4096 keeps the quadratic term linear in n;
    # k is unchanged (8) at the driver/test sfs.
    from shredder_spark.operators.similarity import semdedup

    emb = spark.table("embeddings")
    k = max(8, min(4096, emb.count() // 4096 + 1))
    return (semdedup(emb, threshold=0.4, n_clusters=k)
            .orderBy("vec_id"))


_q("q234_semdedup", oracle=None, builder=_q234_builder)

# ------------------------------------------------- provenance,
# outer explode, physical-plan hints, splits, shards (q235-q240).

# Hidden file-provenance metadata column (_metadata.file_name) — the
# lineage primitive for multi-file lakes. Each driver table is exactly
# one parquet file named <table>.parquet, so the oracle reconstructs
# the provenance as that constant (verified equivalent to DuckDB's
# read_parquet(..., filename=true) during the dialect probe).
_q("q235_file_provenance",
   oracle="""
SELECT 'documents.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY 1 ORDER BY file_name
""",
   builder=None)


def _q235_builder(spark: SparkSession) -> DataFrame:
    # Temp views can't expose hidden metadata columns, so read the
    # file scan directly (same sf_dir register_views just used).
    from shredder_spark import catalog

    docs = catalog.load_table(spark, catalog.CURRENT_SF_DIR, "documents")
    return (docs.select(F.col("_metadata.file_name").alias("file_name"))
            .groupBy("file_name").agg(F.count("*").cast("long").alias("n"))
            .orderBy("file_name"))


_REGISTRY["q235_file_provenance"].builder = _q235_builder

# EXPLODE_OUTER generator: rows with a NULL array survive with a NULL
# element (oracle: LEFT JOIN UNNEST).
_q("q236_explode_outer",
   oracle="""
SELECT d.doc_id, u.tok
FROM documents d LEFT JOIN UNNEST(
       CASE WHEN d.doc_id % 7 = 0 THEN NULL
            ELSE STRING_SPLIT(d.text, ' ') END) u(tok) ON TRUE
ORDER BY doc_id, tok NULLS FIRST
""",
   engine_sql="""
SELECT doc_id, tok
FROM (SELECT doc_id,
             EXPLODE_OUTER(CASE WHEN doc_id % 7 = 0 THEN NULL
                                ELSE SPLIT(text, ' ') END) AS tok
      FROM documents)
ORDER BY doc_id, tok NULLS FIRST
""")

# Join-strategy hints (SHUFFLE_HASH on the big probe side, MERGE):
# same rows as the unhinted query — the hint only pins the physical
# strategy (plan shape asserted in tests/test_plans.py).
_q("q237_join_strategy_hints",
   oracle="""
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(CAST(l.l_extendedprice AS DOUBLE)), 2) AS rev
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""",
   engine_sql="""
SELECT /*+ SHUFFLE_HASH(o), MERGE(c) */
       n.n_name, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(CAST(l.l_extendedprice AS DOUBLE)), 2) AS rev
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""")

# DISTRIBUTE BY / SORT BY (Spark physical-layout clauses): content is
# unchanged, so the totally-ordered outer SELECT hash-matches the
# plain oracle.
_q("q238_distribute_sort_by",
   oracle="""
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS p
FROM orders ORDER BY o_custkey, o_orderkey
""",
   engine_sql="""
SELECT o_custkey, o_orderkey, p
FROM (SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS p
      FROM orders DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderdate)
ORDER BY o_custkey, o_orderkey
""")

# Deterministic train/val/test split (~80/10/10 by salted MD5 prefix,
# engine-independent); reports per-split/lang doc and token counts.
_q("q239_train_val_test_split", """
WITH s AS (SELECT doc_id, lang,
                  LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tok,
                  SUBSTRING(MD5(CAST(doc_id AS STRING) || '-split'), 1, 2) AS h
           FROM documents)
SELECT CASE WHEN h < 'cd' THEN 'train'
            WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM s GROUP BY split, lang ORDER BY split, lang
""")

# Output-shard planning: size-balanced round-robin (largest docs
# first, row_number % n_shards) — per-shard token totals prove the
# balance; fully deterministic so the texts are shared.
def _q240_builder(spark: SparkSession) -> DataFrame:
    # Scale tier: the global ROW_NUMBER over all documents becomes the
    # two-phase bucketed rank (operators/scale_windows.py) — no
    # unpartitioned Window anywhere in the plan; equivalence vs the
    # oracle text rides the standard oracle gate.
    from shredder_spark.operators.scale_windows import with_global_rank

    docs = spark.table("documents")
    sized = docs.select(
        "doc_id",
        (F.length("text")
         - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("n_tok"))
    r = with_global_rank(sized, [("n_tok", "desc"), ("doc_id", "asc")],
                         out_col="rn")
    return (r.select(((F.col("rn") - 1) % 8).cast("long").alias("shard"),
                     "n_tok")
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("tokens"))
            .orderBy("shard"))


_q("q240_shard_plan", """
WITH sized AS (SELECT doc_id,
                      LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tok
               FROM documents),
ranked AS (SELECT doc_id, n_tok,
                  ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rn
           FROM sized)
SELECT CAST((rn - 1) % 8 AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM ranked GROUP BY shard ORDER BY shard
""", builder=_q240_builder)

# ------------------------------------------------- XML, constructor
# datetime batch, token-budget prefix selection (q241-q243).

# XML construction + XPath extraction + schema'd FROM_XML parse. The
# XML is built from columns verified XML-safe ([a-z0-9] values), so
# the oracle is the identity reconstruction.
_q("q241_xml_xpath",
   oracle="""
SELECT doc_id, lang AS lang2, CAST(n_chars AS BIGINT) AS n2,
       source AS src2, lang AS lang3
FROM documents ORDER BY doc_id
""",
   engine_sql="""
WITH x AS (SELECT doc_id,
                  CONCAT('<doc><lang>', lang, '</lang><n>',
                         CAST(n_chars AS STRING), '</n><src>', source,
                         '</src></doc>') AS xml
           FROM documents)
SELECT doc_id,
       XPATH_STRING(xml, '/doc/lang') AS lang2,
       CAST(XPATH_LONG(xml, '/doc/n') AS BIGINT) AS n2,
       XPATH_STRING(xml, '/doc/src') AS src2,
       FROM_XML(xml, 'lang STRING, n BIGINT, src STRING').lang AS lang3
FROM x ORDER BY doc_id
""")

# Constructor datetime batch: MAKE_DATE / MAKE_TIMESTAMP rebuild the
# order date (shared syntax); MAKE_INTERVAL shifting is Spark-only and
# pairs with explicit INTERVAL literals.
_q("q242_make_datetime",
   oracle="""
SELECT o_orderkey,
       MAKE_DATE(EXTRACT(YEAR FROM o_orderdate),
                 EXTRACT(MONTH FROM o_orderdate),
                 EXTRACT(DAY FROM o_orderdate)) AS d2,
       MAKE_TIMESTAMP(EXTRACT(YEAR FROM o_orderdate),
                      EXTRACT(MONTH FROM o_orderdate),
                      EXTRACT(DAY FROM o_orderdate),
                      12, 30, CAST(o_orderkey % 60 AS DOUBLE)) AS ts2,
       MAKE_TIMESTAMP(EXTRACT(YEAR FROM o_orderdate),
                      EXTRACT(MONTH FROM o_orderdate),
                      EXTRACT(DAY FROM o_orderdate),
                      12, 30, CAST(o_orderkey % 60 AS DOUBLE))
         + INTERVAL 2 DAY + INTERVAL 3 HOUR AS shifted
FROM orders ORDER BY o_orderkey
""",
   engine_sql="""
SELECT o_orderkey,
       MAKE_DATE(EXTRACT(YEAR FROM o_orderdate),
                 EXTRACT(MONTH FROM o_orderdate),
                 EXTRACT(DAY FROM o_orderdate)) AS d2,
       MAKE_TIMESTAMP(EXTRACT(YEAR FROM o_orderdate),
                      EXTRACT(MONTH FROM o_orderdate),
                      EXTRACT(DAY FROM o_orderdate),
                      12, 30, CAST(o_orderkey % 60 AS DECIMAL(16,6))) AS ts2,
       MAKE_TIMESTAMP(EXTRACT(YEAR FROM o_orderdate),
                      EXTRACT(MONTH FROM o_orderdate),
                      EXTRACT(DAY FROM o_orderdate),
                      12, 30, CAST(o_orderkey % 60 AS DECIMAL(16,6)))
         + MAKE_INTERVAL(0, 0, 0, 2, 3, 0, 0) AS shifted
FROM orders ORDER BY o_orderkey
""")

# Token-budget prefix selection: deterministically (hash-) shuffle the
# corpus, then keep the prefix whose running token total fits a fixed
# training budget — running-sum window, one shuffle.
_q("q243_token_budget_prefix", """
WITH sized AS (SELECT doc_id,
                      LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                        AS n_tok,
                      SUBSTRING(MD5(CAST(doc_id AS STRING) || '-order'),
                                1, 8) AS h
               FROM documents),
run AS (SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sized)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum AS BIGINT) AS cum_tokens
FROM run WHERE cum <= 5000 ORDER BY doc_id
""")

# ------------------------------------------------- ANSI WITHIN GROUP,
# struct-IN subquery, map explode, JSON introspection, regex
# backreferences (q244-q248).

# ANSI ordered-set aggregates — PERCENTILE_CONT / PERCENTILE_DISC
# WITHIN GROUP parse identically in Spark 4 and DuckDB.
_q("q244_within_group_percentiles", """
SELECT l_returnflag,
       ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_quantity), 2)
         AS p25,
       ROUND(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_quantity), 2)
         AS p75,
       ROUND(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_quantity), 2)
         AS p50d
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Multi-column (struct) IN subquery — Spark compiles the tuple
# membership test to a semi-join; DuckDB lacks row-IN so the oracle
# spells it as correlated EXISTS.
_q("q245_tuple_in_subquery",
   oracle="""
SELECT l.l_orderkey, l.l_linenumber
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM lineitem h
              WHERE h.l_quantity > 49
                AND h.l_partkey = l.l_partkey
                AND h.l_suppkey = l.l_suppkey)
ORDER BY l_orderkey, l_linenumber
""",
   engine_sql="""
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE (l_partkey, l_suppkey) IN
      (SELECT l_partkey, l_suppkey FROM lineitem WHERE l_quantity > 49)
ORDER BY l_orderkey, l_linenumber
""")

# Map explode to key/value rows (oracle: the map reconstructed as a
# two-branch UNION ALL).
_q("q246_map_explode",
   oracle="""
SELECT o_orderkey, 'pr' AS k, o_orderpriority AS v FROM orders
UNION ALL
SELECT o_orderkey, 'st' AS k, o_orderstatus AS v FROM orders
ORDER BY o_orderkey, k
""",
   engine_sql="""
SELECT o_orderkey, k, v
FROM (SELECT o_orderkey,
             MAP('st', o_orderstatus, 'pr', o_orderpriority) AS m
      FROM orders)
LATERAL VIEW EXPLODE(m) t AS k, v
ORDER BY o_orderkey, k
""")

# JSON introspection: array length and object-key listing over JSON
# serialized from real columns (key order = construction order on
# both engines).
_q("q247_json_introspection",
   oracle="""
SELECT doc_id,
       CAST(json_array_length(to_json(string_split(text, ' '))) AS BIGINT)
         AS alen,
       array_to_string(json_keys(to_json(struct_pack(a := doc_id,
                                                     z := lang))), ',')
         AS ks
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(JSON_ARRAY_LENGTH(TO_JSON(SPLIT(text, ' '))) AS BIGINT) AS alen,
       ARRAY_JOIN(JSON_OBJECT_KEYS(TO_JSON(NAMED_STRUCT('a', doc_id,
                                                        'z', lang))), ',')
         AS ks
FROM documents ORDER BY doc_id
""")

# Regexp replacement with capture-group backreferences (Spark $n,
# DuckDB \n): swap the first two tokens of each document.
_q("q248_regexp_backrefs",
   oracle="""
SELECT doc_id,
       regexp_replace(SUBSTRING(text, 1, 30), '^(\\w+) (\\w+)', '\\2 \\1')
         AS swapped
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       REGEXP_REPLACE(SUBSTRING(text, 1, 30), '^(\\\\w+) (\\\\w+)', '$2 $1')
         AS swapped
FROM documents ORDER BY doc_id
""")

# ------------------------------------------------- bigram LM, MAD
# outliers, PageRank (q249-q251).

# Bigram language-model quality score (add-1 smoothed, corpus-trained;
# the conditional upgrade of q190's unigram LM): per-doc mean
# -ln( (c(w1,w2)+1) / (c(w1)+V) ) over consecutive token pairs.
_q("q249_bigram_lm_score",
   oracle="""
WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
pairs AS (SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM toks, UNNEST(generate_series(1, LEN(t) - 1)) u(i)),
cnt2 AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2
         FROM pairs GROUP BY w1, w2),
cnt1 AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM pairs GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT w1) AS DOUBLE) AS vs FROM pairs)
SELECT p.doc_id,
       ROUND(AVG(-LN((c.c2 + 1.0) / (c1.c1 + v.vs))), 4) AS nll,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM pairs p
JOIN cnt2 c ON p.w1 = c.w1 AND p.w2 = c.w2
JOIN cnt1 c1 ON p.w1 = c1.w1
CROSS JOIN v
GROUP BY p.doc_id ORDER BY p.doc_id
""",
   engine_sql="""
WITH toks AS (SELECT doc_id, SPLIT(text, ' ') AS t FROM documents),
big AS (SELECT doc_id,
               -- total expression: TRY_ELEMENT_AT(t, 0) STILL throws
               -- INVALID_INDEX_OF_ZERO on the descending SEQUENCE(1,0)
               -- (try_ only suppresses out-of-bounds, not index zero),
               -- so the guard must be the IF itself (see q143)
               IF(SIZE(t) >= 2,
                  TRANSFORM(SEQUENCE(1, SIZE(t) - 1),
                            i -> STRUCT(ELEMENT_AT(t, i) AS w1,
                                        ELEMENT_AT(t, i + 1) AS w2)),
                  ARRAY()) AS bs
        FROM toks WHERE SIZE(t) >= 2),
-- r13: the r12 form read `pairs` once for the final join and
-- re-expanded the explode subtree under each of cnt2 / cnt1 / v (CTE
-- expansion + per-branch inferred filters = 4 scans + 4 explodes, and
-- the full instance relation crossed an exchange into the final
-- join). Everything now routes through per-doc bigram counts `dcnt`:
-- cnt2 = SUM(k) is exact (integer-valued doubles), cnt1/v derive from
-- cnt2, and AVG over instances = SUM(k*s)/SUM(k) (weighted mean over
-- per-(doc,bigram) groups of a constant s — ROUND(,4)-stable, oracle
-- hash-gated). Written so every branch's explode subtree
-- canonicalizes identically (explicit pair not-null filter; the
-- `c1 IS NOT NULL` guard — c1 is never null — keeps the v branch on
-- the cnt1 subtree instead of collapsing to its own distinct-w1
-- scan): the AQE stage cache then reuses one scan + explode + dcnt
-- exchange for all four branches, and the stats side above it ships
-- distinct-bigram counts, never instances. sf10 A/B: 2.41x
-- (Q249_AB_r13.json); final plan 4 scans -> 1 (plans/r13/).
pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
          FROM big LATERAL VIEW EXPLODE(bs) x AS b
          WHERE b.w1 IS NOT NULL AND b.w2 IS NOT NULL),
dcnt AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS DOUBLE) AS k
         FROM pairs GROUP BY doc_id, w1, w2),
cnt2 AS (SELECT w1, w2, SUM(k) AS c2 FROM dcnt GROUP BY w1, w2),
cnt1 AS (SELECT w1, SUM(c2) AS c1 FROM cnt2 GROUP BY w1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM cnt1
      WHERE c1 IS NOT NULL),
sc AS (SELECT c.w1, c.w2, -LN((c.c2 + 1.0) / (c1.c1 + v.vs)) AS s
       FROM cnt2 c JOIN cnt1 c1 ON c1.w1 = c.w1 CROSS JOIN v)
SELECT /*+ BROADCAST(sc) */ d.doc_id,
       ROUND(SUM(d.k * sc.s) / SUM(d.k), 4) AS nll,
       CAST(SUM(d.k) AS BIGINT) AS n_bigrams
FROM dcnt d JOIN sc ON sc.w1 = d.w1 AND sc.w2 = d.w2
GROUP BY d.doc_id ORDER BY d.doc_id
""")

# MAD (median-absolute-deviation) robust outlier detection — the
# robust-statistics sibling of the z-score (q150) and IQR (q151)
# fences. Fence 1.2·1.4826·MAD is tuned non-empty on the uniform
# synthetic data at every SF.
def _q250_builder(spark: SparkSession) -> DataFrame:
    # r10: both exact medians (price, then MAD over deviations)
    # via the distributed rank tier — o_totalprice is ~near-unique,
    # so Spark's exact PERCENTILE would merge a ~150 M-entry
    # value→count map in one reducer at sf100, twice. Same
    # interpolation semantics; oracle text unchanged.
    from shredder_spark.operators.scale_windows import exact_percentiles

    o = spark.table("orders").select("o_orderkey", "o_totalprice")
    (m,) = exact_percentiles(o, "o_totalprice", [0.5])
    dev = o.select("o_orderkey", "o_totalprice",
                   F.abs(F.col("o_totalprice") - F.lit(m)).alias("d"))
    (mad,) = exact_percentiles(dev, "d", [0.5])
    return (dev.filter(F.col("d") > 1.2 * 1.4826 * mad)
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("price"),
                    F.round(F.col("d") / F.lit(mad), 4).alias("mad_ratio"))
            .orderBy("o_orderkey"))


_q("q250_mad_outliers",
   oracle="""
WITH med AS (SELECT QUANTILE_CONT(o_totalprice, 0.5) AS m FROM orders),
dev AS (SELECT o.o_orderkey, o.o_totalprice,
               ABS(o.o_totalprice - med.m) AS d
        FROM orders o CROSS JOIN med),
mad AS (SELECT QUANTILE_CONT(d, 0.5) AS mad FROM dev)
SELECT dev.o_orderkey, ROUND(dev.o_totalprice, 2) AS price,
       ROUND(dev.d / mad.mad, 4) AS mad_ratio
FROM dev CROSS JOIN mad
WHERE dev.d > 1.2 * 1.4826 * mad.mad
ORDER BY o_orderkey
""",
   builder=_q250_builder)


def _q251_builder(spark: SparkSession) -> DataFrame:
    # PageRank over the corpus token-adjacency graph (iterative — not
    # SQL-expressible; numpy power-iteration equivalence pinned in
    # tests/test_llm_ops.py). Deterministic: fixed 10 iterations.
    from shredder_spark.operators.graph import pagerank, token_adjacency_edges

    edges = token_adjacency_edges(spark.table("documents"))
    pr = pagerank(edges, iters=10)
    return pr.select(F.col("id").alias("token"),
                     F.round("rank", 6).alias("rank")).orderBy("token")


_q("q251_pagerank_tokens", oracle=None, builder=_q251_builder)

# ------------------------------------------------- CDC snapshot,
# collations, IDENTIFIER, LIKE quantifiers, IS DISTINCT FROM, named
# function arguments (q252-q257).

# CDC apply / SCD1 snapshot with tombstones: the newest event per key
# wins, keys whose newest event is a tombstone ('error') disappear.
# CAST(ts AS TIMESTAMP) truncates DuckDB's nanos to Spark's micros so
# both engines break ties identically (q113 convention).
_q("q252_cdc_snapshot", """
SELECT user_id, last_type, last_value FROM (
  SELECT user_id, event_type AS last_type,
         ROUND(CAST(value AS DOUBLE), 2) AS last_value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 AND last_type <> 'error'
ORDER BY user_id
""")

# Spark 4 collation framework: UTF8_LCASE makes the comparison
# case-insensitive at the expression level; the oracle folds case
# explicitly.
_q("q253_collation",
   oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_en
FROM documents
WHERE LOWER(lang) = 'en'
GROUP BY source ORDER BY source
""",
   engine_sql="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_en
FROM documents
WHERE lang COLLATE UTF8_LCASE = 'EN'
GROUP BY source ORDER BY source
""")

# IDENTIFIER() clause — late-bound object names from strings (the
# safe dynamic-SQL primitive); the oracle binds statically.
_q("q254_identifier_clause",
   oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY lang ORDER BY lang
""",
   engine_sql="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
FROM IDENTIFIER('documents') GROUP BY lang ORDER BY lang
""")

# LIKE quantifiers (ALL / ANY) and ILIKE. ILIKE is shared syntax;
# the quantified forms expand to AND/OR chains in the oracle.
_q("q255_like_quantifiers",
   oracle="""
SELECT p_partkey FROM part
WHERE (p_name LIKE '%a%' AND p_name LIKE '%e%')
   OR (p_type LIKE '%BRASS%' OR p_type LIKE '%COPPER%')
   OR p_name ILIKE '%GrEeN%'
ORDER BY p_partkey
""",
   engine_sql="""
SELECT p_partkey FROM part
WHERE p_name LIKE ALL ('%a%', '%e%')
   OR p_type LIKE ANY ('%BRASS%', '%COPPER%')
   OR p_name ILIKE '%GrEeN%'
ORDER BY p_partkey
""")

# IS DISTINCT FROM null-safe comparison — shared ANSI syntax; NULLIF
# manufactures NULLs on both sides of the comparison.
_q("q256_is_distinct_from", """
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O') IS DISTINCT FROM
         NULLIF(o_orderpriority, '1-URGENT') AS d1,
       NULLIF(o_orderstatus, 'F') IS NOT DISTINCT FROM
         CAST(NULL AS STRING) AS d2
FROM orders ORDER BY o_orderkey
""")

# Named function arguments (Spark 4): MASK with keyword-selected
# replacement chars; oracle rebuilds with a regexp chain.
_q("q257_named_args",
   oracle="""
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[A-Z]', '#', 'g'), '[a-z]', '_', 'g'), '[0-9]', '9', 'g')
         AS masked
FROM customer ORDER BY c_custkey
""",
   engine_sql="""
SELECT c_custkey,
       MASK(c_name, upperChar => '#', lowerChar => '_', digitChar => '9')
         AS masked
FROM customer ORDER BY c_custkey
""")

# ------------------------------------------------- recursive graph
# traversal (q258).

# Bounded BFS over the token-adjacency graph with a RECURSIVE CTE
# (UNION ALL — Spark 4's recursion doesn't dedup yet; the MIN(lvl)
# fold makes the path multiplicity irrelevant): minimum hop count
# from 'table' to every token within 3 hops.
_q("q258_recursive_bfs",
   oracle="""
WITH RECURSIVE edges AS (
  SELECT DISTINCT t[u.i] AS src, t[u.i + 1] AS dst
  FROM (SELECT STRING_SPLIT(text, ' ') AS t FROM documents) s,
       UNNEST(generate_series(1, LEN(t) - 1)) u(i)
  WHERE t[u.i] <> t[u.i + 1]
),
reach (tok, lvl) AS (
  SELECT 'table' AS tok, 0 AS lvl
  UNION ALL
  SELECT e.dst, r.lvl + 1
  FROM reach r JOIN edges e ON e.src = r.tok
  WHERE r.lvl < 3
)
SELECT tok, CAST(MIN(lvl) AS BIGINT) AS depth
FROM reach GROUP BY tok ORDER BY depth, tok
""",
   engine_sql="""
WITH RECURSIVE edges AS (
  -- total expression (IF, not a filter guard): 1-token docs exist at
  -- sf1 and the descending SEQUENCE(1, 0) drives TRY_ELEMENT_AT(t, 0)
  -- into INVALID_INDEX_OF_ZERO even behind a WHERE (see q143)
  SELECT DISTINCT b.src, b.dst FROM (
    SELECT EXPLODE(IF(SIZE(t) >= 2,
             TRANSFORM(SEQUENCE(1, SIZE(t) - 1),
               i -> STRUCT(ELEMENT_AT(t, i) AS src,
                           ELEMENT_AT(t, i + 1) AS dst)),
             ARRAY())) AS b
    FROM (SELECT SPLIT(text, ' ') AS t FROM documents) s) x
  WHERE b.src <> b.dst
),
reach (tok, lvl) AS (
  SELECT 'table' AS tok, 0 AS lvl
  UNION ALL
  SELECT e.dst, r.lvl + 1
  FROM reach r JOIN edges e ON e.src = r.tok
  WHERE r.lvl < 3
)
SELECT tok, CAST(MIN(lvl) AS BIGINT) AS depth
FROM reach GROUP BY tok ORDER BY depth, tok
""")

# ------------------------------------------------- explicit semi/anti
# join syntax, vocabulary coverage curve (q259-q260).

# First-class SEMI / ANTI join syntax (Spark: LEFT SEMI / LEFT ANTI;
# DuckDB: SEMI / ANTI) — the EXISTS-free spelling of q09/q10.
_q("q259_semi_anti_syntax",
   oracle="""
SELECT c.c_custkey, 'has_big_order' AS tag
FROM customer c SEMI JOIN (SELECT * FROM orders
                           WHERE o_totalprice > 100000) o
  ON c.c_custkey = o.o_custkey
UNION ALL
SELECT c.c_custkey, 'no_order' AS tag
FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
ORDER BY c_custkey, tag
""",
   engine_sql="""
SELECT c.c_custkey, 'has_big_order' AS tag
FROM customer c LEFT SEMI JOIN (SELECT * FROM orders
                                WHERE o_totalprice > 100000) o
  ON c.c_custkey = o.o_custkey
UNION ALL
SELECT c.c_custkey, 'no_order' AS tag
FROM customer c LEFT ANTI JOIN orders o ON c.c_custkey = o.o_custkey
ORDER BY c_custkey, tag
""")

# Vocabulary coverage curve: tokens ranked by frequency, cumulative
# share of the corpus — the "how big a vocab covers X% of tokens"
# planning metric. One explode + one agg + one window.
def _q260_builder(spark: SparkSession) -> DataFrame:
    # Scale tier: token TYPES grow ~n^beta (Heaps), so the global
    # rank + running share over the vocabulary is itself unbounded at
    # 100 TB. One combined two-phase pass (bucketed rank AND running
    # sum, operators/scale_windows.py) replaces both global windows;
    # the corpus total is a scalar aggregate. Count sums are integer-
    # valued doubles < 2^53, so bucketed addition order is exact.
    from shredder_spark.operators.scale_windows import (
        with_global_rank_and_running_sum,
    )

    tf = (spark.table("documents")
          .select(F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("tok")
          .agg(F.count(F.lit(1)).cast("double").alias("c")))
    total = tf.agg(F.sum("c")).collect()[0][0]
    r = with_global_rank_and_running_sum(
        tf, [("c", "desc"), ("tok", "asc")], F.col("c"),
        rank_col="vocab_rank", sum_col="_cum")
    return (r.select("vocab_rank", "tok",
                     F.round(F.col("_cum") / F.lit(total), 4)
                     .alias("cum_share"))
            .orderBy("vocab_rank"))


_q("q260_vocab_coverage",
   oracle="""
WITH tf AS (SELECT u.tok, CAST(COUNT(*) AS DOUBLE) AS c
            FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) u(tok)
            GROUP BY u.tok),
tot AS (SELECT SUM(c) AS t FROM tf)
SELECT ROW_NUMBER() OVER (ORDER BY tf.c DESC, tf.tok) AS vocab_rank,
       tf.tok,
       ROUND(SUM(tf.c) OVER (ORDER BY tf.c DESC, tf.tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / tot.t, 4) AS cum_share
FROM tf CROSS JOIN tot ORDER BY vocab_rank
""",
   engine_sql="""
WITH tf AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
            FROM documents LATERAL VIEW EXPLODE(SPLIT(text, ' ')) x AS tok
            GROUP BY tok),
tot AS (SELECT SUM(c) AS t FROM tf)
SELECT ROW_NUMBER() OVER (ORDER BY tf.c DESC, tf.tok) AS vocab_rank,
       tf.tok,
       ROUND(SUM(tf.c) OVER (ORDER BY tf.c DESC, tf.tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / tot.t, 4) AS cum_share
FROM tf CROSS JOIN tot ORDER BY vocab_rank
""", builder=_q260_builder)

# ------------------------------------------------- seeded sampling,
# leave-one-out stats, hierarchical shares (q261-q263).


def _q261_builder(spark: SparkSession) -> DataFrame:
    # Seeded deterministic sampling via hash thresholding. `.sample(seed=)`
    # is only repeatable for a fixed partition layout (the seed feeds a
    # per-partition XORShift stream), which a re-plan or AQE can change;
    # xxhash64(key, seed) depends on row content alone, so the same 20%
    # slice comes back on any cluster size — the property a 100 TB
    # pipeline actually needs for a reproducible holdout. Rows-only:
    # DuckDB has no xxhash64. Determinism/fraction bounds pinned in
    # tests/test_llm_ops.py.
    return (spark.table("documents")
            .where((F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(100)) < 20))
            .select("doc_id", "lang").orderBy("doc_id"))


_q("q261_seeded_sample", oracle=None, builder=_q261_builder)

# Leave-one-out group statistics: each order's price vs the mean of
# the OTHER orders of its customer — (sum-x)/(n-1) via window
# aggregates, the standard target-encoding/LOO trick.
_q("q262_loo_stats", """
WITH o AS (SELECT o_orderkey, o_custkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT o_orderkey, o_custkey,
       CASE WHEN (COUNT(*) OVER w) > 1
            THEN ROUND(CAST((SUM(cents) OVER w) - cents AS DOUBLE)
                       / ((COUNT(*) OVER w) - 1)) / 100.0
       END AS loo_mean,
       ROUND(CAST(cents AS DOUBLE)
             - CAST(SUM(cents) OVER w AS DOUBLE) / (COUNT(*) OVER w)
             + 0.0) / 100.0 AS dev_from_mean
FROM o
WINDOW w AS (PARTITION BY o_custkey)
ORDER BY o_orderkey
""")

# Hierarchical share-of-parent: nation revenue as a share of its
# region and of the world — two empty-frame windows at different
# grains over one aggregate.
_q("q263_share_of_parent", """
WITH rev AS (
  SELECT n.n_regionkey, n.n_name,
         SUM(CAST(o.o_totalprice AS DOUBLE)) AS nation_rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name)
SELECT n_regionkey, n_name, ROUND(nation_rev, 2) AS rev,
       ROUND(nation_rev / SUM(nation_rev)
             OVER (PARTITION BY n_regionkey), 4) AS share_of_region,
       ROUND(nation_rev / SUM(nation_rev) OVER (), 4) AS share_of_world
FROM rev ORDER BY n_regionkey, n_name
""")

# ------------------------------------------------- stratified sampling,
# datetime batch 6, cogroup merge, unpivot API, SQL UDFs (q264-q268).

# Exact stratified sample: top-3 docs per language ordered by a
# content hash both engines share (md5 of the key), so the "random"
# sample is identical across engines, partition layouts, and cluster
# sizes — the scalable alternative to sampleBy's partition-dependent
# Bernoulli draw. Shared text: ROW_NUMBER + md5 parse identically.
_q("q264_stratified_sample", """
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
           AS rk
  FROM documents)
SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3 ORDER BY lang, rk
""")

# Datetime batch 6: next_day / last_day / add_months / months_between /
# day name. DuckDB lacks next_day and months_between; the oracle
# emulates next-Friday with dayofweek arithmetic (DuckDB Sunday=0,
# Friday=5; strictly-after semantics like Spark's) and month-truncated
# months_between with datediff('month'), exact because both ends are
# month starts.
_q("q265_datetime_batch6", """
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
           FROM orders WHERE o_orderkey <= 500)
SELECT o_orderkey,
       CAST(d + INTERVAL (((5 - dayofweek(d) + 6) % 7) + 1) DAY AS DATE)
         AS next_fri,
       last_day(d) AS eom,
       CAST(d + INTERVAL 2 MONTH AS DATE) AS plus2m,
       CAST(datediff('month', DATE '1995-01-01', date_trunc('month', d))
            AS BIGINT) AS months_since,
       dayname(d) AS dname
FROM o ORDER BY o_orderkey
""", engine_sql="""
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
           FROM orders WHERE o_orderkey <= 500)
SELECT o_orderkey,
       next_day(d, 'Friday') AS next_fri,
       last_day(d) AS eom,
       add_months(d, 2) AS plus2m,
       CAST(months_between(date_trunc('month', d), DATE '1995-01-01')
            AS BIGINT) AS months_since,
       date_format(d, 'EEEE') AS dname
FROM o ORDER BY o_orderkey
""")


def _q266_builder(spark: SparkSession) -> DataFrame:
    # Cogrouped applyInPandas: per-nation customer rollup merged with
    # the per-nation supplier rollup in one grouped-map pass (pyspark
    # GroupedData.cogroup). Key union semantics — a nation present on
    # only one side still surfaces, zeros on the other — which SQL
    # spells as a FULL OUTER JOIN of the two aggregates. The cogroup
    # key is the BOUNDED nationkey domain (25 values), so the Python
    # path runs 25 grouped-map invocations with real per-group work
    # (thousands of rows each) — the group count is set by the key
    # domain, not the row count, so invocation overhead stays O(25) at
    # any data scale. (Per-high-cardinality-key merges belong on the
    # relational tier — q06/q08 — not on cogroup.) Integer-cents
    # arithmetic keeps the pandas path bit-identical to the oracle.
    import pandas as pd

    cust = spark.table("customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"))
    supp = spark.table("supplier").select(
        "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"))

    def merge(key, c_pdf: pd.DataFrame, s_pdf: pd.DataFrame) -> pd.DataFrame:
        (k,) = key
        nc, ns = len(c_pdf), len(s_pdf)
        cb = int(c_pdf["cents"].sum()) if nc else 0
        sb = int(s_pdf["cents"].sum()) if ns else 0
        return pd.DataFrame({"nationkey": [k],
                             "n_cust": [nc], "n_supp": [ns],
                             "cust_bal": [cb / 100.0],
                             "supp_bal": [sb / 100.0]})

    out = (cust.groupBy("c_nationkey")
           .cogroup(supp.groupBy("s_nationkey"))
           .applyInPandas(
               merge,
               "nationkey long, n_cust long, n_supp long, "
               "cust_bal double, supp_bal double"))
    return out.orderBy("nationkey")


_q("q266_cogroup_merge", """
WITH ca AS (SELECT c_nationkey AS k, COUNT(*) AS n,
                   SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS cents
            FROM customer GROUP BY c_nationkey),
     sa AS (SELECT s_nationkey AS k, COUNT(*) AS n,
                   SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS cents
            FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(ca.k, sa.k) AS nationkey,
       CAST(COALESCE(ca.n, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(sa.n, 0) AS BIGINT) AS n_supp,
       CAST(COALESCE(ca.cents, 0) AS DOUBLE) / 100.0 AS cust_bal,
       CAST(COALESCE(sa.cents, 0) AS DOUBLE) / 100.0 AS supp_bal
FROM ca FULL OUTER JOIN sa ON ca.k IS NOT DISTINCT FROM sa.k
ORDER BY nationkey
""", builder=_q266_builder)


def _q267_builder(spark: SparkSession) -> DataFrame:
    # DataFrame unpivot/melt API (q132 covers the SQL UNPIVOT clause;
    # this is the programmatic tier). Oracle spells it as UNION ALL —
    # the portable relational reading of melt.
    wide = (spark.table("orders").groupBy("o_orderpriority")
            .agg(F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price")))
    return (wide.unpivot("o_orderpriority", ["avg_price", "max_price"],
                         "metric", "val")
            .orderBy("o_orderpriority", "metric"))


_q("q267_unpivot_api", """
WITH w AS (SELECT o_orderpriority,
                  ROUND(AVG(CAST(o_totalprice AS DOUBLE)), 2) AS avg_price,
                  ROUND(MAX(CAST(o_totalprice AS DOUBLE)), 2) AS max_price
           FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, 'avg_price' AS metric, avg_price AS val FROM w
UNION ALL
SELECT o_orderpriority, 'max_price' AS metric, max_price AS val FROM w
ORDER BY o_orderpriority, metric
""", builder=_q267_builder)


def _q268_builder(spark: SparkSession) -> DataFrame:
    # SQL-defined scalar UDFs (CREATE FUNCTION ... RETURN expr,
    # Spark 4): the body inlines into the Catalyst plan — whole-stage
    # codegen, pushdown, no Python round-trip — so "UDF" here costs
    # nothing at 100 TB. Oracle inlines the same expressions.
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
                   p DOUBLE, d DOUBLE) RETURNS DOUBLE
                 RETURN p * (1 - d)""")
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_band(
                   p DOUBLE) RETURNS STRING
                 RETURN CASE WHEN p < 1000 THEN 'low'
                             WHEN p < 10000 THEN 'mid'
                             ELSE 'high' END""")
    return spark.sql("""
SELECT price_band(l_extendedprice) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(disc_price(CAST(l_extendedprice AS DOUBLE),
                            CAST(l_discount AS DOUBLE))), 2) AS revenue
FROM lineitem GROUP BY band ORDER BY band
""")


_q("q268_sql_udf", """
SELECT CASE WHEN l_extendedprice < 1000 THEN 'low'
            WHEN l_extendedprice < 10000 THEN 'mid'
            ELSE 'high' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(CAST(l_extendedprice AS DOUBLE)
                 * (1 - CAST(l_discount AS DOUBLE))), 2) AS revenue
FROM lineitem
GROUP BY band ORDER BY band
""", builder=_q268_builder)

# ------------------------------------------------- tokenizer / payload
# batch: BPE merge step, opaque binary payloads, order-preserving
# dedup, hyperbolic math, parameterized SQL (q269-q274).

# One BPE merge step: the most frequent adjacent character pair across
# the corpus vocabulary — the core counting kernel of byte-pair-
# encoding tokenizer training, as one declarative pass (explode words
# → explode in-word positions → pair counts). Ties break on pair text
# so the top-20 cut is deterministic.
_q("q269_bpe_merge_step",
   oracle="""
WITH words AS (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text), ' ')) AS w
               FROM documents),
     w2 AS (SELECT w FROM words WHERE LENGTH(w) >= 2),
     pairs AS (SELECT SUBSTRING(w, CAST(i AS INT), 2) AS pair
               FROM w2, UNNEST(GENERATE_SERIES(1, LENGTH(w) - 1)) AS g(i))
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
""",
   engine_sql="""
WITH words AS (SELECT EXPLODE(SPLIT(LOWER(text), ' ')) AS w FROM documents),
     w2 AS (SELECT w FROM words WHERE LENGTH(w) >= 2),
     pairs AS (SELECT SUBSTRING(w, i, 2) AS pair
               -- total: empty-string tokens make SEQUENCE(1, -1)
               -- descend and emit phantom i<=0 rows (see q143)
               FROM w2 LATERAL VIEW EXPLODE(
                    IF(LENGTH(w) >= 2, SEQUENCE(1, LENGTH(w) - 1),
                       ARRAY())) t AS i)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
""")


def _q270_builder(spark: SparkSession) -> DataFrame:
    # Multimodal tier, oracle-gated edge: document text re-encoded as
    # an opaque BinaryType payload (the same plumbing
    # operators/multimodal.py uses for image/audio bytes), then typed
    # metadata extracted from the bytes — size, checksum, ASCII probe.
    # The binary column exists in the plan for real (encode→md5 runs
    # on bytes), while the oracle recomputes the same facts from text.
    docs = spark.table("documents")
    payload = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"),
                          F.length("text").alias("n_chars"))
    return (payload.select(
                "doc_id",
                F.octet_length("payload").cast("bigint").alias("n_bytes"),
                F.md5("payload").alias("checksum"),
                (F.octet_length("payload") == F.col("n_chars")).alias("is_ascii"))
            .orderBy("doc_id"))


_q("q270_binary_payload_meta",
   oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       MD5(text) AS checksum,
       OCTET_LENGTH(ENCODE(text)) = LENGTH(text) AS is_ascii
FROM documents ORDER BY doc_id
""",
   builder=_q270_builder)

# Order-preserving intra-document token dedup (repetition removal that
# keeps first occurrences — array_distinct's documented order). The
# oracle reconstructs "first occurrence" explicitly: positions via
# GENERATE_SERIES, MIN(pos) per token, STRING_AGG ordered by it.
_q("q271_ordered_token_dedup",
   oracle="""
WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' ') AS toks
           FROM documents),
     pos AS (SELECT doc_id, toks[CAST(i AS INT)] AS tok, i
             FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS g(i)),
     firsts AS (SELECT doc_id, tok, MIN(i) AS first_pos
                FROM pos GROUP BY doc_id, tok)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique,
       STRING_AGG(tok, ' ' ORDER BY first_pos) AS dedup_text
FROM firsts GROUP BY doc_id ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       CAST(SIZE(ARRAY_DISTINCT(SPLIT(text, ' '))) AS BIGINT) AS n_unique,
       ARRAY_JOIN(ARRAY_DISTINCT(SPLIT(text, ' ')), ' ') AS dedup_text
FROM documents ORDER BY doc_id
""")

# Hyperbolic + inverse-hyperbolic math. DuckDB lacks asinh and its
# sinh/cosh availability varies by version, so the oracle computes
# every function from EXP/LN closed forms; ROUND(,2) absorbs the
# last-ulp formula-vs-native difference.
_q("q272_hyperbolic_math",
   oracle="""
WITH t AS (SELECT o_orderkey,
                  CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       ROUND((EXP(x) - EXP(-x)) / 2, 2) + 0 AS sinh_x,
       ROUND((EXP(x) + EXP(-x)) / 2, 2) + 0 AS cosh_x,
       ROUND((EXP(2*x) - 1) / (EXP(2*x) + 1), 2) + 0 AS tanh_x,
       ROUND(LN(x + SQRT(x*x + 1)), 2) + 0 AS asinh_x
FROM t ORDER BY o_orderkey
""",
   engine_sql="""
WITH t AS (SELECT o_orderkey,
                  CAST(o_totalprice AS DOUBLE) / 100000.0 AS x
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       ROUND(SINH(x), 2) + 0 AS sinh_x,
       ROUND(COSH(x), 2) + 0 AS cosh_x,
       ROUND(TANH(x), 2) + 0 AS tanh_x,
       ROUND(ASINH(x), 2) + 0 AS asinh_x
FROM t ORDER BY o_orderkey
""")


def _q273_builder(spark: SparkSession) -> DataFrame:
    # Named-parameter SQL binding (spark.sql(..., args={...})): the
    # literals arrive as parameter markers, not string-spliced SQL —
    # same plan as constants (pushdown intact), injection-safe. The
    # oracle inlines the same constants.
    return spark.sql(
        """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
           FROM orders
           WHERE o_totalprice > :lo AND o_orderpriority = :prio
           ORDER BY o_orderkey""",
        args={"lo": 150000.0, "prio": "1-URGENT"})


_q("q273_parameterized_sql", """
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderpriority = '1-URGENT'
ORDER BY o_orderkey
""", builder=_q273_builder)


def _q274_builder(spark: SparkSession) -> DataFrame:
    # EXECUTE IMMEDIATE (Spark 4): dynamic SQL with positional USING
    # binds — the late-bound counterpart of q273's named args.
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n "
        " FROM orders WHERE o_totalprice > ? "
        " GROUP BY o_orderpriority ORDER BY o_orderpriority' "
        "USING 300000.0D")


_q("q274_execute_immediate", """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_totalprice > 300000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
""", builder=_q274_builder)

# ------------------------------------------------- sampling / stats /
# entity-resolution batch (q275-q281).

# Weighted sampling without replacement, A-Res (Efraimidis-Spirakis):
# key = ln(u)/w with u a deterministic md5-derived uniform — both
# engines derive the SAME u from the same hash, so the top-k selection
# is engine- and partition-independent (the distributed analogue of a
# seeded weighted shuffle). Selection only in the output; key floats
# never surface.
_q("q275_weighted_sample_ares",
   oracle="""
WITH w AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS wt,
                  (CAST(('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                        AS UBIGINT) + 1) / 4294967296.0 AS u
           FROM orders),
     k AS (SELECT o_orderkey, wt, LN(u) / wt AS k FROM w WHERE wt > 0),
     r AS (SELECT o_orderkey, wt,
                  ROW_NUMBER() OVER (ORDER BY k DESC, o_orderkey) AS rn
           FROM k)
SELECT o_orderkey, ROUND(wt, 2) AS wt FROM r WHERE rn <= 100
ORDER BY o_orderkey
""",
   engine_sql="""
WITH w AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS wt,
                  (CAST(CONV(SUBSTRING(MD5(CAST(o_orderkey AS STRING)), 1, 8),
                             16, 10) AS DOUBLE) + 1) / 4294967296.0 AS u
           FROM orders),
     k AS (SELECT o_orderkey, wt, LN(u) / wt AS k FROM w WHERE wt > 0),
     -- pure top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject
     -- (per-partition heaps, no single-task global sort/window)
     top AS (SELECT o_orderkey, wt FROM k
             ORDER BY k DESC, o_orderkey LIMIT 100)
SELECT o_orderkey, ROUND(wt, 2) AS wt FROM top
ORDER BY o_orderkey
""")

# Chi-square independence statistic over the full lang x source
# contingency grid (absent cells contribute their expectation) — the
# classic corpus-drift / dependence probe, one declarative pass.
_q("q276_chi_square_contingency", """
WITH l AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS rt
           FROM documents GROUP BY lang),
     s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS ct
           FROM documents GROUP BY source),
     o AS (SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS o
           FROM documents GROUP BY lang, source),
     n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
     grid AS (SELECT l.lang, s.source, l.rt, s.ct, n.n
              FROM l CROSS JOIN s CROSS JOIN n)
SELECT ROUND(SUM(POWER(COALESCE(o.o, 0) - g.rt * g.ct / g.n, 2)
                 / (g.rt * g.ct / g.n)), 2) AS chi2,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM grid g LEFT JOIN o ON g.lang = o.lang AND g.source = o.source
""")

# Shannon entropy of the token distribution per language — corpus
# diversity scoring (a collapsed vocabulary shows up as low H).
_q("q277_token_entropy",
   oracle="""
WITH tok AS (SELECT lang, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' ')) AS t
             FROM documents),
     c AS (SELECT lang, t, CAST(COUNT(*) AS DOUBLE) AS c
           FROM tok GROUP BY lang, t),
     tot AS (SELECT lang, SUM(c) AS n FROM c GROUP BY lang)
SELECT c.lang, CAST(tot.n AS BIGINT) AS n_toks,
       ROUND(-SUM((c.c / tot.n) * LN(c.c / tot.n)), 2) AS h
FROM c JOIN tot ON c.lang = tot.lang
GROUP BY c.lang, tot.n ORDER BY c.lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS t FROM documents),
     c AS (SELECT lang, t, CAST(COUNT(*) AS DOUBLE) AS c
           FROM tok GROUP BY lang, t),
     tot AS (SELECT lang, SUM(c) AS n FROM c GROUP BY lang)
SELECT c.lang, CAST(tot.n AS BIGINT) AS n_toks,
       ROUND(-SUM((c.c / tot.n) * LN(c.c / tot.n)), 2) AS h
FROM c JOIN tot ON c.lang = tot.lang
GROUP BY c.lang, tot.n ORDER BY c.lang
""")

# Benford first-significant-digit audit of order totals: observed share
# per leading digit vs the log10(1+1/d) expectation. FLOOR before the
# int cast — double->int casts truncate in Spark but round in DuckDB
# (SURVEY B45), FLOOR makes both exact.
_q("q278_benford_digits",
   oracle="""
WITH d AS (SELECT SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                            AS VARCHAR), 1, 1) AS digit
           FROM orders WHERE o_totalprice >= 1),
     c AS (SELECT digit, CAST(COUNT(*) AS DOUBLE) AS c FROM d GROUP BY digit),
     n AS (SELECT SUM(c) AS n FROM c)
SELECT digit, CAST(c.c AS BIGINT) AS n_obs,
       ROUND(c.c / n.n, 4) AS share,
       ROUND(LOG10(1 + 1.0 / CAST(digit AS INT)), 4) AS benford
FROM c CROSS JOIN n ORDER BY digit
""",
   engine_sql="""
WITH d AS (SELECT SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                            AS STRING), 1, 1) AS digit
           FROM orders WHERE o_totalprice >= 1),
     c AS (SELECT digit, CAST(COUNT(*) AS DOUBLE) AS c FROM d GROUP BY digit),
     n AS (SELECT SUM(c) AS n FROM c)
SELECT digit, CAST(c.c AS BIGINT) AS n_obs,
       ROUND(c.c / n.n, 4) AS share,
       ROUND(LOG10(1 + 1.0 / CAST(digit AS INT)), 4) AS benford
FROM c CROSS JOIN n ORDER BY digit
""")

# Entity-resolution tier: edit-distance near-matches over part names,
# blocked on (first word, length band) — the classic record-linkage
# shape (block → compare → threshold). SCALE-CORRECT SHAPE (round 7):
# compare DISTINCT names and carry id multiplicities. The original
# id-pair output was a 100 TB non-starter discovered by the sf1
# sweep: id-pair fanout is multiplicative in duplicate counts (part
# has only 64 distinct names, so id pairs grow O((N/64)²) ≈ 3×10⁸
# rows at sf1 and the run wedged for 30+ minutes), while name pairs
# stay O(distinct²) regardless of table size. n_id_pairs preserves
# the record-level resolution count; a consumer re-expands a name
# pair to its id pairs by joining back on name. LEVENSHTEIN agrees
# across engines.
_q("q279_edit_distance_blocking", """
WITH n AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS cnt,
                  SPLIT_PART(p_name, ' ', 1) AS blk, LENGTH(p_name) AS ln
           FROM part GROUP BY p_name)
SELECT a.name AS i_name, b.name AS j_name,
       CAST(LEVENSHTEIN(a.name, b.name) AS BIGINT) AS dist,
       a.cnt * b.cnt AS n_id_pairs
FROM n a JOIN n b
  ON a.blk = b.blk AND a.name < b.name
 AND b.ln BETWEEN a.ln - 2 AND a.ln + 2
WHERE LEVENSHTEIN(a.name, b.name) <= 10
ORDER BY i_name, j_name
""")

# Per-dimension min-max scaling of the embedding matrix (feature
# normalization before ANN / training): posexplode to (dim, value),
# per-dim extrema, scaled stats per dim prove the rescale landed on
# [0,1] with the same means in both engines.
_q("q280_embedding_minmax_scale",
   oracle="""
WITH e AS (SELECT vec_id, i - 1 AS dim,
                  CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)),
     mm AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM e GROUP BY dim)
SELECT e.dim, ROUND(mm.lo, 4) AS lo, ROUND(mm.hi, 4) AS hi,
       ROUND(AVG((e.v - mm.lo) / (mm.hi - mm.lo)), 4) AS scaled_mean
FROM e JOIN mm ON e.dim = mm.dim
GROUP BY e.dim, mm.lo, mm.hi ORDER BY e.dim
""",
   engine_sql="""
WITH e AS (SELECT vec_id, dim, CAST(v AS DOUBLE) AS v
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS dim, v),
     mm AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM e GROUP BY dim)
SELECT e.dim, ROUND(mm.lo, 4) AS lo, ROUND(mm.hi, 4) AS hi,
       ROUND(AVG((e.v - mm.lo) / (mm.hi - mm.lo)), 4) AS scaled_mean
FROM e JOIN mm ON e.dim = mm.dim
GROUP BY e.dim, mm.lo, mm.hi ORDER BY e.dim
""")

# As-of join with a tolerance horizon (kdb aj / TimescaleDB semantics):
# each purchase finds the latest signup of the same user no older than
# 7 days — outside the horizon yields NULL, distinguishing "stale
# match" from "no match". Correlated-subquery text is portable;
# Catalyst decorrelates it to an aggregate+join.
_q("q281_asof_tolerance", """
SELECT p.event_id, p.user_id,
       (SELECT MAX(s.ts) FROM events s
        WHERE s.user_id = p.user_id AND s.event_type = 'signup'
          AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY) AS last_signup
FROM events p WHERE p.event_type = 'purchase'
ORDER BY p.event_id
""")

# ------------------------------------------------- time-series /
# graph / basket batch (q282-q287).

# OHLC downsampling to 15-minute bars (financial resample): open/close
# via bidirectional ROW_NUMBER (portable — DuckDB's arg_max can't take
# a composite key), high/low/count as plain aggregates. Paired only on
# the epoch spelling.
_q("q282_ohlc_bars",
   oracle="""
WITH b AS (SELECT CAST(FLOOR(EPOCH(ts) / 900) AS BIGINT) AS bucket,
                  EPOCH(ts) AS sec, event_id, CAST(value AS DOUBLE) AS v
           FROM events),
     r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY sec, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY sec DESC, event_id DESC) AS rn_d
           FROM b)
SELECT bucket,
       ROUND(MAX(CASE WHEN rn_a = 1 THEN v END), 2) AS open,
       ROUND(MAX(v), 2) AS high, ROUND(MIN(v), 2) AS low,
       ROUND(MAX(CASE WHEN rn_d = 1 THEN v END), 2) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY bucket ORDER BY bucket
""",
   engine_sql="""
WITH b AS (SELECT CAST(FLOOR(UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 9e8)
                       AS BIGINT) AS bucket,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 1e6 AS sec,
                  event_id, CAST(value AS DOUBLE) AS v
           FROM events),
     r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY sec, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY sec DESC, event_id DESC) AS rn_d
           FROM b)
SELECT bucket,
       ROUND(MAX(CASE WHEN rn_a = 1 THEN v END), 2) AS open,
       ROUND(MAX(v), 2) AS high, ROUND(MIN(v), 2) AS low,
       ROUND(MAX(CASE WHEN rn_d = 1 THEN v END), 2) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY bucket ORDER BY bucket
""")

# Linear interpolation of a sparse series (TimescaleDB interpolate):
# 'error' events are treated as gaps; each gap takes
# prev + (next-prev) * (t-t_prev)/(t_next-t_prev) from the bracketing
# non-gap readings per user. Boundary gaps (no bracket) stay NULL.
_q("q283_linear_interpolation",
   oracle="""
WITH e AS (SELECT event_id, user_id, EPOCH(ts) AS sec,
                  CASE WHEN event_type = 'error' THEN NULL
                       ELSE CAST(value AS DOUBLE) END AS v
           FROM events),
     w AS (SELECT *,
             LAST_VALUE(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN sec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps,
             FIRST_VALUE(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN sec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ns
           FROM e)
SELECT event_id, user_id,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                    pv + (nv - pv) * (sec - ps) / (ns - ps)
             END, 2) AS v_filled,
       v IS NULL AS was_gap
FROM w ORDER BY event_id
""",
   engine_sql="""
WITH e AS (SELECT event_id, user_id,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 1e6 AS sec,
                  CASE WHEN event_type = 'error' THEN NULL
                       ELSE CAST(value AS DOUBLE) END AS v
           FROM events),
     w AS (SELECT *,
             LAST_VALUE(v) IGNORE NULLS OVER
               (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN sec END) IGNORE NULLS
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps,
             FIRST_VALUE(v) IGNORE NULLS OVER
               (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN sec END) IGNORE NULLS
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ns
           FROM e)
SELECT event_id, user_id,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                    pv + (nv - pv) * (sec - ps) / (ns - ps)
             END, 2) AS v_filled,
       v IS NULL AS was_gap
FROM w ORDER BY event_id
""")

# Triangle counting over the part co-purchase graph (bounded block):
# distinct same-order part pairs as edges, triangles via the canonical
# a<b<c double join — the clustering-coefficient numerator.
_q("q284_triangle_count", """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey <= 500),
     e AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey)
SELECT CAST(COUNT(*) AS BIGINT) AS triangles
FROM e e1 JOIN e e2 ON e1.d = e2.s
          JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
""")

# Market-basket pair mining (association rules over co-purchases):
# support, per-item counts, and lift for part pairs in the same order;
# min-support floor, top 20 by lift with a total tiebreak.
_q("q285_market_basket_lift", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey <= 1000),
     n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM li),
     item AS (SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS c
              FROM li GROUP BY l_partkey),
     pair AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                     CAST(COUNT(*) AS DOUBLE) AS cp
              FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey)
SELECT pa, pb, CAST(cp AS BIGINT) AS support,
       ROUND(n.n * cp / (ia.c * ib.c), 2) AS lift
FROM pair JOIN item ia ON pair.pa = ia.l_partkey
          JOIN item ib ON pair.pb = ib.l_partkey
          CROSS JOIN n
WHERE cp >= 2
ORDER BY lift DESC, pa, pb LIMIT 20
""")

# Run-length encoding of per-user event-type streams (gaps-and-islands
# over VALUES equality instead of time gaps — compresses repeated
# states; complements q219's interval coalescing).
_q("q286_run_length_encoding",
   oracle="""
WITH o AS (SELECT user_id, event_type, EPOCH(ts) AS sec, event_id
           FROM events),
     r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY sec, event_id) AS rnt
           FROM o)
SELECT user_id, event_type,
       CAST(rn - rnt AS BIGINT) AS grp_off,
       CAST(COUNT(*) AS BIGINT) AS run_len,
       CAST(MIN(rn) AS BIGINT) AS run_start
FROM r GROUP BY user_id, event_type, rn - rnt
ORDER BY user_id, run_start
""",
   engine_sql="""
WITH o AS (SELECT user_id, event_type,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS sec, event_id
           FROM events),
     r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY sec, event_id) AS rnt
           FROM o)
SELECT user_id, event_type,
       CAST(rn - rnt AS BIGINT) AS grp_off,
       CAST(COUNT(*) AS BIGINT) AS run_len,
       CAST(MIN(rn) AS BIGINT) AS run_start
FROM r GROUP BY user_id, event_type, rn - rnt
ORDER BY user_id, run_start
""")

# Rolling median over the trailing 5 readings per user — exact
# percentile as a WINDOW aggregate (the frame makes it a sliding
# sketchless median, the robust analogue of a moving average).
# Medians are taken over integer cents and REPORTED in cents: even-
# count frames interpolate to n+0.5, exact in a double, so no rounding
# step exists for the engines' interpolation orders to disagree on
# (ROUND over a double median flips at .005 boundaries — observed).
_q("q287_rolling_median",
   oracle="""
WITH o AS (SELECT event_id, user_id, EPOCH(ts) AS sec,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events)
SELECT event_id, user_id,
       QUANTILE_CONT(c, 0.5) OVER
         (PARTITION BY user_id ORDER BY sec, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5_cents
FROM o ORDER BY event_id
""",
   engine_sql="""
WITH o AS (SELECT event_id, user_id,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS sec,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events)
SELECT event_id, user_id,
       PERCENTILE(c, 0.5) OVER
         (PARTITION BY user_id ORDER BY sec, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5_cents
FROM o ORDER BY event_id
""")

# ------------------------------------------------- behavioral scoring
# batch (q288-q291).

# RFM customer segmentation: recency (days since last order, against
# the corpus max date), frequency, monetary, each cut into quintiles
# with a custkey tiebreak so NTILE boundaries agree everywhere.
_q("q288_rfm_quintiles", """
WITH base AS (SELECT o_custkey,
                     MAX(o_orderdate) AS last_o,
                     CAST(COUNT(*) AS DOUBLE) AS f,
                     -- ROUND to exact cents: the raw double SUM
                     -- carries per-engine summation-order jitter that
                     -- reorders NTILE ties at sf1 (cent-valued inputs
                     -- make the rounded sum engine-invariant)
                     ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS m
              FROM orders GROUP BY o_custkey),
     mx AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
     r AS (SELECT o_custkey,
                  CAST(DATEDIFF('day', base.last_o, mx.d0) AS DOUBLE) AS rec,
                  f, m
           FROM base CROSS JOIN mx)
SELECT o_custkey,
       CAST(NTILE(5) OVER (ORDER BY rec DESC, o_custkey) AS BIGINT) AS r_q,
       CAST(NTILE(5) OVER (ORDER BY f, o_custkey) AS BIGINT) AS f_q,
       CAST(NTILE(5) OVER (ORDER BY m, o_custkey) AS BIGINT) AS m_q
FROM r ORDER BY o_custkey
""",
   engine_sql="""
WITH base AS (SELECT o_custkey,
                     MAX(o_orderdate) AS last_o,
                     CAST(COUNT(*) AS DOUBLE) AS f,
                     -- ROUND to exact cents: the raw double SUM
                     -- carries per-engine summation-order jitter that
                     -- reorders NTILE ties at sf1 (cent-valued inputs
                     -- make the rounded sum engine-invariant)
                     ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS m
              FROM orders GROUP BY o_custkey),
     mx AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
     r AS (SELECT o_custkey,
                  CAST(DATEDIFF(CAST(mx.d0 AS DATE),
                                CAST(base.last_o AS DATE)) AS DOUBLE) AS rec,
                  f, m
           FROM base CROSS JOIN mx)
SELECT o_custkey,
       CAST(NTILE(5) OVER (ORDER BY rec DESC, o_custkey) AS BIGINT) AS r_q,
       CAST(NTILE(5) OVER (ORDER BY f, o_custkey) AS BIGINT) AS f_q,
       CAST(NTILE(5) OVER (ORDER BY m, o_custkey) AS BIGINT) AS m_q
FROM r ORDER BY o_custkey
""")

# Sequence-pattern matching over per-user event paths (the
# windowFunnel/sequenceMatch family as regex over an ordered initials
# string): signup-then-later-purchase, and a 2+ consecutive-error run.
_q("q289_sequence_pattern",
   oracle="""
WITH p AS (SELECT user_id,
                  STRING_AGG(SUBSTRING(event_type, 1, 1), ''
                             ORDER BY ts, event_id) AS path
           FROM events GROUP BY user_id)
SELECT user_id, CAST(LENGTH(path) AS BIGINT) AS n,
       REGEXP_MATCHES(path, 's.*p') AS signup_then_purchase,
       REGEXP_MATCHES(path, 'ee+') AS error_burst
FROM p ORDER BY user_id
""",
   engine_sql="""
WITH p AS (SELECT user_id,
                  ARRAY_JOIN(TRANSFORM(
                    ARRAY_SORT(COLLECT_LIST(STRUCT(ts, event_id,
                      SUBSTRING(event_type, 1, 1) AS c))),
                    x -> x.c), '') AS path
           FROM events GROUP BY user_id)
SELECT user_id, CAST(LENGTH(path) AS BIGINT) AS n,
       path RLIKE 's.*p' AS signup_then_purchase,
       path RLIKE 'ee+' AS error_burst
FROM p ORDER BY user_id
""")

# EWMA smoothing over the trailing 10 readings (decay 1/2). All
# arithmetic exact in doubles — integer cents × 2^-k products and
# their sums have exact binary representations — so numerator and
# denominator are emitted unrounded and must match bit-for-bit.
_q("q290_ewma",
   oracle="""
WITH o AS (SELECT event_id, user_id, EPOCH(ts) AS sec,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events),
     r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id) AS rn
           FROM o)
SELECT a.event_id, a.user_id,
       SUM(b.c * POWER(0.5, a.rn - b.rn)) AS ewma_num,
       SUM(POWER(0.5, a.rn - b.rn)) AS ewma_den
FROM r a JOIN r b
  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
GROUP BY a.event_id, a.user_id
ORDER BY a.event_id
""",
   engine_sql="""
WITH o AS (SELECT event_id, user_id,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS sec,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events),
     r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id) AS rn
           FROM o)
SELECT a.event_id, a.user_id,
       SUM(b.c * POWER(0.5, a.rn - b.rn)) AS ewma_num,
       SUM(POWER(0.5, a.rn - b.rn)) AS ewma_den
FROM r a JOIN r b
  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
GROUP BY a.event_id, a.user_id
ORDER BY a.event_id
""")

# Group-statistic imputation (ML prep): 'error' readings are gaps,
# filled with the user's median over non-gap readings (integer cents →
# exact interpolation, as q287).
_q("q291_median_imputation",
   oracle="""
WITH e AS (SELECT event_id, user_id,
                  CASE WHEN event_type = 'error' THEN NULL
                       ELSE CAST(ROUND(value * 100) AS BIGINT) END AS c
           FROM events),
     med AS (SELECT user_id, QUANTILE_CONT(c, 0.5) AS m
             FROM e WHERE c IS NOT NULL GROUP BY user_id)
SELECT e.event_id, e.user_id,
       COALESCE(CAST(e.c AS DOUBLE), med.m) AS c_filled,
       e.c IS NULL AS was_imputed
FROM e LEFT JOIN med ON e.user_id = med.user_id
ORDER BY e.event_id
""",
   engine_sql="""
WITH e AS (SELECT event_id, user_id,
                  CASE WHEN event_type = 'error' THEN NULL
                       ELSE CAST(ROUND(value * 100) AS BIGINT) END AS c
           FROM events),
     med AS (SELECT user_id, PERCENTILE(c, 0.5) AS m
             FROM e WHERE c IS NOT NULL GROUP BY user_id)
SELECT e.event_id, e.user_id,
       COALESCE(CAST(e.c AS DOUBLE), med.m) AS c_filled,
       e.c IS NULL AS was_imputed
FROM e LEFT JOIN med ON e.user_id = med.user_id
ORDER BY e.event_id
""")

# ------------------------------------------------- SQL scripting
# (q292): Spark 4 BEGIN/DECLARE/WHILE control flow, data-driven.


def _q292_builder(spark: SparkSession) -> DataFrame:
    # Iterative threshold search as a SQL SCRIPT: double the price
    # threshold until at most 100 orders exceed it. The loop reads the
    # data each iteration (genuine data-driven control flow on the
    # engine — not driver-side Python). The oracle computes the same
    # fixpoint in closed form over a candidate series.
    return spark.sql("""
BEGIN
  DECLARE t DOUBLE DEFAULT 1000.0;
  WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) > 100 DO
    SET t = t * 2;
  END WHILE;
  SELECT t AS threshold,
         CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice > t)
              AS BIGINT) AS n_above;
END
""")


_q("q292_sql_scripting_threshold", """
WITH ks AS (SELECT UNNEST(GENERATE_SERIES(0, 40)) AS k),
     c AS (SELECT k,
                  (SELECT COUNT(*) FROM orders
                   WHERE o_totalprice > 1000.0 * POWER(2, k)) AS n
           FROM ks),
     pick AS (SELECT MIN(k) AS k FROM c WHERE n <= 100)
SELECT 1000.0 * POWER(2, pick.k) AS threshold,
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_totalprice > 1000.0 * POWER(2, pick.k)) AS BIGINT)
         AS n_above
FROM pick
""", builder=_q292_builder)

# ------------------------------------------------- distribution
# analytics batch (q293-q296).

# Winsorization at the 5th/95th percentile per return flag (outlier
# clipping for ML prep). DISCRETE percentiles over integer cents: the
# clip bounds are actual data values, so every clipped sum is exact
# BIGINT arithmetic — continuous interpolation at p=0.05·(n-1) was
# observed to differ in the last ulp between engines.
_q("q293_winsorize",
   oracle="""
WITH c AS (SELECT l_returnflag AS f,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
     p AS (SELECT f, QUANTILE_DISC(c, 0.05) AS lo,
                  QUANTILE_DISC(c, 0.95) AS hi
           FROM c GROUP BY f)
SELECT c.f, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c.c < p.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN c.c > p.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       CAST(SUM(CASE WHEN c.c < p.lo THEN p.lo
                     WHEN c.c > p.hi THEN p.hi
                     ELSE c.c END) AS BIGINT) AS wsum_cents
FROM c JOIN p ON c.f = p.f
GROUP BY c.f ORDER BY c.f
""",
   engine_sql="""
WITH c AS (SELECT l_returnflag AS f,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
     p AS (SELECT f,
                  PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY c) AS lo,
                  PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY c) AS hi
           FROM c GROUP BY f)
SELECT c.f, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c.c < p.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN c.c > p.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       CAST(SUM(CASE WHEN c.c < p.lo THEN p.lo
                     WHEN c.c > p.hi THEN p.hi
                     ELSE c.c END) AS BIGINT) AS wsum_cents
FROM c JOIN p ON c.f = p.f
GROUP BY c.f ORDER BY c.f
""")

# Log-odds vocabulary drift between the English and German slices
# (Monroe et al's "Fightin' Words" shape with add-1 smoothing): which
# tokens over-index in each sub-corpus. Ordering is over the ROUNDED
# score (+token tiebreak) so last-ulp LN differences can't reorder the
# cut.
_q("q294_log_odds_drift",
   oracle="""
WITH tok AS (SELECT lang, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' ')) AS t
             FROM documents WHERE lang IN ('en', 'de')),
     c AS (SELECT t,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c1,
                  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c2
           FROM tok GROUP BY t),
     tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,
                    CAST(COUNT(*) AS DOUBLE) AS v FROM c)
SELECT t AS tok,
       ROUND(LN((c1 + 1) / (tot.n1 + tot.v))
             - LN((c2 + 1) / (tot.n2 + tot.v)), 2) AS delta
FROM c CROSS JOIN tot
ORDER BY ABS(ROUND(LN((c1 + 1) / (tot.n1 + tot.v))
                   - LN((c2 + 1) / (tot.n2 + tot.v)), 2)) DESC, tok
LIMIT 15
""",
   engine_sql="""
WITH tok AS (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS t
             FROM documents WHERE lang IN ('en', 'de')),
     c AS (SELECT t,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c1,
                  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c2
           FROM tok GROUP BY t),
     tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,
                    CAST(COUNT(*) AS DOUBLE) AS v FROM c)
SELECT t AS tok,
       ROUND(LN((c1 + 1) / (tot.n1 + tot.v))
             - LN((c2 + 1) / (tot.n2 + tot.v)), 2) AS delta
FROM c CROSS JOIN tot
ORDER BY ABS(ROUND(LN((c1 + 1) / (tot.n1 + tot.v))
                   - LN((c2 + 1) / (tot.n2 + tot.v)), 2)) DESC, tok
LIMIT 15
""")

# Two-sample Kolmogorov-Smirnov statistic between the value
# distributions of click vs view events: D = sup|F1 - F2| via the
# pooled sort. The default aggregate-window frame (RANGE to current
# row) is peer-inclusive in both engines, which is exactly the
# tie-correct ECDF.
_q("q295_ks_statistic",
   oracle="""
WITH s AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2
           FROM events WHERE event_type IN ('click', 'view')),
     n AS (SELECT CAST(SUM(g1) AS DOUBLE) AS n1,
                  CAST(SUM(g2) AS DOUBLE) AS n2 FROM s),
     e AS (SELECT c,
                  SUM(g1) OVER (ORDER BY c) AS f1,
                  SUM(g2) OVER (ORDER BY c) AS f2
           FROM s)
SELECT ROUND(MAX(ABS(f1 / n.n1 - f2 / n.n2)), 4) AS ks_d,
       CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2
FROM e CROSS JOIN n GROUP BY n.n1, n.n2
""",
   engine_sql="""
WITH s AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2
           FROM events WHERE event_type IN ('click', 'view')),
     -- ECDF steps only move at distinct values: aggregate per cents
     -- value FIRST (map-side combine, bounded by the value domain,
     -- not the row count), then the cumulative window runs over that
     -- tiny aggregate instead of every raw event row. The oracle's
     -- peer-inclusive RANGE frame gives identical f1/f2 per value.
     d AS (SELECT c, SUM(g1) AS d1, SUM(g2) AS d2 FROM s GROUP BY c),
     n AS (SELECT CAST(SUM(d1) AS DOUBLE) AS n1,
                  CAST(SUM(d2) AS DOUBLE) AS n2 FROM d),
     e AS (SELECT c,
                  SUM(d1) OVER (ORDER BY c) AS f1,
                  SUM(d2) OVER (ORDER BY c) AS f2
           FROM d)
SELECT ROUND(MAX(ABS(f1 / n.n1 - f2 / n.n2)), 4) AS ks_d,
       CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2
FROM e CROSS JOIN n GROUP BY n.n1, n.n2
""")

# Gini concentration coefficient of order totals per priority class
# (inequality audit): sorted-rank formula over integer cents with
# DECIMAL(38) partial sums — Σ rank·x exceeds 2^53 long before it
# troubles a decimal.
_q("q296_gini", """
WITH c AS (SELECT o_orderpriority AS p,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
                  o_orderkey
           FROM orders WHERE o_totalprice IS NOT NULL),
     r AS (SELECT p, x,
                  ROW_NUMBER() OVER (PARTITION BY p
                                     ORDER BY x, o_orderkey) AS i,
                  COUNT(*) OVER (PARTITION BY p) AS n
           FROM c),
     s AS (SELECT p, n,
                  SUM(CAST(i AS DECIMAL(38, 0)) * x) AS ixsum,
                  SUM(CAST(x AS DECIMAL(38, 0))) AS xsum
           FROM r GROUP BY p, n)
SELECT p, CAST(n AS BIGINT) AS n,
       ROUND(2.0 * CAST(ixsum AS DOUBLE)
             / (n * CAST(xsum AS DOUBLE))
             - (n + 1.0) / n, 4) AS gini
FROM s ORDER BY p
""")

# ------------------------------------------------- sketch algebra /
# text segmentation / codec batch (q297-q301).


def _q297_builder(spark: SparkSession) -> DataFrame:
    # Theta sketches: mergeable distinct sketches CLOSED under set
    # algebra — union, intersection, and A-NOT-B estimates from
    # per-slice sketches with no rescan (HLL unions only). Customers
    # with orders vs customers in the table: intersection/difference
    # answered sketch-side. Approximate → rows-only; accuracy pinned
    # in tests/test_scale_semantics.py.
    return spark.sql("""
WITH a AS (SELECT theta_sketch_agg(c_custkey) AS sk FROM customer),
     b AS (SELECT theta_sketch_agg(o_custkey) AS sk FROM orders)
SELECT CAST(theta_sketch_estimate(theta_union(a.sk, b.sk)) AS BIGINT)
         AS est_union,
       CAST(theta_sketch_estimate(theta_intersection(a.sk, b.sk))
            AS BIGINT) AS est_both,
       CAST(theta_sketch_estimate(theta_difference(a.sk, b.sk))
            AS BIGINT) AS est_no_orders
FROM a CROSS JOIN b
""")


_q("q297_theta_sketch_algebra", oracle=None, builder=_q297_builder)


def _q298_builder(spark: SparkSession) -> DataFrame:
    # KLL quantile sketches: mergeable percentile state — per-flag
    # sketches combine via kll_merge_agg_double into corpus quantiles
    # without re-reading rows (the distributed-quantile primitive; an
    # exact percentile would reshuffle raw values). Approximate →
    # rows-only; rank-error bound pinned in tests.
    return spark.sql("""
WITH per_flag AS (
  SELECT l_returnflag,
         kll_sketch_agg_double(CAST(l_extendedprice AS DOUBLE)) AS sk
  FROM lineitem GROUP BY l_returnflag),
     merged AS (SELECT kll_merge_agg_double(sk) AS sk FROM per_flag)
SELECT ROUND(kll_sketch_get_quantile_double(sk, 0.5), 2) AS p50_est,
       ROUND(kll_sketch_get_quantile_double(sk, 0.95), 2) AS p95_est,
       CAST(kll_sketch_get_n_double(sk) AS BIGINT) AS n
FROM merged
""")


_q("q298_kll_quantile_sketch", oracle=None, builder=_q298_builder)

# Locale-aware sentence segmentation (`sentences`): text with an
# injected boundary splits into two word lists. The oracle rebuilds
# the same segmentation from the known split offsets (the corpus has
# no intrinsic punctuation).
_q("q299_sentence_segmentation",
   oracle="""
WITH base AS (SELECT doc_id, SUBSTRING(text, 1, 40) AS s1,
                     LTRIM(SUBSTRING(text, 42)) AS r
              FROM documents WHERE LENGTH(text) >= 60),
     t AS (SELECT doc_id, s1,
                  UPPER(SUBSTRING(r, 1, 1)) || SUBSTRING(r, 2) AS s2
           FROM base),
     w AS (SELECT doc_id,
                  LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(s1, ' '),
                              x -> x <> '') AS w1,
                  LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(s2, ' '),
                              x -> x <> '') AS w2
           FROM t)
SELECT doc_id, 2 AS n_sent,
       ARRAY_TO_STRING(w1, ' ') AS sent1,
       ARRAY_TO_STRING(w2, ' ') AS sent2
FROM w ORDER BY doc_id
""",
   engine_sql="""
WITH base AS (SELECT doc_id, SUBSTRING(text, 1, 40) AS s1,
                     LTRIM(SUBSTRING(text, 42)) AS r
              FROM documents WHERE LENGTH(text) >= 60),
     t AS (SELECT doc_id,
                  SENTENCES(CONCAT(s1, '. ', UPPER(SUBSTRING(r, 1, 1)),
                                   SUBSTRING(r, 2))) AS s
           FROM base)
SELECT doc_id, CAST(SIZE(s) AS INT) AS n_sent,
       ARRAY_JOIN(ELEMENT_AT(s, 1), ' ') AS sent1,
       ARRAY_JOIN(ELEMENT_AT(s, 2), ' ') AS sent2
FROM t ORDER BY doc_id
""")

# Binary codec batch 2: base64/hex decode and to_binary round-trips
# (raw-bytes plumbing for payload columns).
_q("q300_binary_codecs",
   oracle="""
SELECT doc_id,
       HEX(FROM_BASE64(TO_BASE64(ENCODE(SUBSTRING(text, 1, 12)))))
         AS hex_rt,
       HEX(FROM_HEX(HEX(ENCODE(SUBSTRING(text, 1, 12))))) AS hex_rt2,
       CAST(OCTET_LENGTH(FROM_HEX(MD5(text))) AS BIGINT) AS md5_bytes
FROM documents ORDER BY doc_id
""",
   engine_sql="""
SELECT doc_id,
       HEX(UNBASE64(BASE64(ENCODE(SUBSTRING(text, 1, 12), 'UTF-8'))))
         AS hex_rt,
       HEX(UNHEX(HEX(ENCODE(SUBSTRING(text, 1, 12), 'UTF-8')))) AS hex_rt2,
       CAST(OCTET_LENGTH(TO_BINARY(MD5(text), 'hex')) AS BIGINT)
         AS md5_bytes
FROM documents ORDER BY doc_id
""")

# Linear-regression aggregate completions (q133 covered slope/
# intercept/r2/count): the moment aggregates regr_avgx/avgy/sxx/syy/
# sxy agree closed-form across engines. The S-moments reach ~1e13,
# where a double's ulp exceeds 2-decimal rounding — summation-order
# differences between the engines would flip ROUND(,2), so S-moments
# round to the nearest thousand (ulp/granularity ratio ~1e-6).
_q("q301_regr_moments", """
SELECT o_orderpriority,
       ROUND(REGR_AVGX(CAST(o_totalprice AS DOUBLE),
                       CAST(o_custkey AS DOUBLE)), 2) AS avgx,
       ROUND(REGR_AVGY(CAST(o_totalprice AS DOUBLE),
                       CAST(o_custkey AS DOUBLE)), 2) AS avgy,
       ROUND(REGR_SXX(CAST(o_totalprice AS DOUBLE),
                      CAST(o_custkey AS DOUBLE)), -3) AS sxx,
       ROUND(REGR_SYY(CAST(o_totalprice AS DOUBLE),
                      CAST(o_custkey AS DOUBLE)), -3) AS syy,
       ROUND(REGR_SXY(CAST(o_totalprice AS DOUBLE),
                      CAST(o_custkey AS DOUBLE)), -3) AS sxy
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

# ------------------------------------------------- breadth batch
# (q302-q307): bitmaps, math 4, maps 3, datetime 7, arrays 6,
# conditionals 3.


def _q302_builder(spark: SparkSession) -> DataFrame:
    # Audience-overlap via roaring-bitmap AND/OR aggregation: exact
    # mergeable set intersection counts (the segment-overlap primitive
    # — distinct-exact, unlike sketches, and still shuffle-friendly
    # because bitmaps union associatively). Buckets per
    # bitmap_bucket_number; overlap = sum of per-bucket AND counts.
    return spark.sql("""
WITH bm AS (SELECT o_orderpriority AS p,
                   bitmap_bucket_number(o_custkey) AS b,
                   bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS m
            FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            GROUP BY o_orderpriority, bitmap_bucket_number(o_custkey)),
     per_b AS (SELECT b,
                      CASE WHEN COUNT(*) = 2
                           THEN bitmap_count(bitmap_and_agg(m))
                           ELSE 0 END AS cb,
                      bitmap_count(bitmap_or_agg(m)) AS co
               FROM bm GROUP BY b)
SELECT CAST(SUM(cb) AS BIGINT) AS n_both,
       CAST(SUM(co) AS BIGINT) AS n_either
FROM per_b
""")


_q("q302_bitmap_overlap", """
WITH u AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'
             AND o_custkey IS NOT NULL),
     l AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '5-LOW'
             AND o_custkey IS NOT NULL)
SELECT CAST((SELECT COUNT(*) FROM u WHERE o_custkey IN
             (SELECT o_custkey FROM l)) AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM u UNION
                                   SELECT o_custkey FROM l) t) AS BIGINT)
         AS n_either
""", builder=_q302_builder)

# Math batch 4: hypot, cot, log1p, expm1, signum — closed-form oracle
# (DuckDB lacks hypot/log1p/expm1).
_q("q303_math_batch4",
   oracle="""
WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) / 100000.0 AS x,
                  CAST(o_custkey AS DOUBLE) / 1000.0 AS y
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       ROUND(SQRT(x * x + y * y), 2) AS hyp,
       CASE WHEN SIN(x) <> 0
            THEN ROUND(COS(x) / SIN(x), 2) + 0 END AS cot_x,
       ROUND(LN(1 + x), 4) AS l1p,
       ROUND(EXP(x) - 1, 4) AS em1,
       CASE WHEN x IS NULL THEN NULL
            WHEN x > 0 THEN 1.0 WHEN x < 0 THEN -1.0 ELSE 0.0 END AS sgn
FROM t ORDER BY o_orderkey
""",
   engine_sql="""
WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) / 100000.0 AS x,
                  CAST(o_custkey AS DOUBLE) / 1000.0 AS y
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       ROUND(HYPOT(x, y), 2) AS hyp,
       CASE WHEN SIN(x) <> 0
            THEN ROUND(COT(x), 2) + 0 END AS cot_x,
       ROUND(LOG1P(x), 4) AS l1p,
       ROUND(EXPM1(x), 4) AS em1,
       SIGNUM(x) AS sgn
FROM t ORDER BY o_orderkey
""")

# Map batch 3: map_entries / map_from_entries / map_contains_key —
# entry-list round-trip; oracle reconstructs from the scalar columns.
_q("q304_map_entries",
   oracle="""
SELECT c_custkey,
       CONCAT_WS(',', 'n=' || c_name, 's=' || c_mktsegment)
         AS entries_str,
       TRUE AS has_n, FALSE AS has_x
FROM customer ORDER BY c_custkey
""",
   engine_sql="""
WITH m AS (SELECT c_custkey,
                  MAP_FROM_ENTRIES(ARRAY(
                    STRUCT('n' AS key, c_name AS value),
                    STRUCT('s' AS key, c_mktsegment AS value))) AS mp
           FROM customer)
SELECT c_custkey,
       ARRAY_JOIN(TRANSFORM(MAP_ENTRIES(mp),
                            e -> CONCAT(e.key, '=', e.value)), ',')
         AS entries_str,
       MAP_CONTAINS_KEY(mp, 'n') AS has_n,
       MAP_CONTAINS_KEY(mp, 'x') AS has_x
FROM m ORDER BY c_custkey
""")

# Datetime batch 7: unix_date / date_from_unix_date / unix_seconds /
# from_unixtime / dateadd / date_part.
_q("q305_datetime_batch7",
   oracle="""
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       CAST(d - DATE '1970-01-01' AS BIGINT) AS epoch_days,
       d AS d_rt,
       CAST(EPOCH(CAST(d AS TIMESTAMP)) AS BIGINT) AS epoch_s,
       STRFTIME(CAST(d AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str,
       d + 45 AS plus45,
       CAST(DATE_PART('quarter', d) AS BIGINT) AS qtr
FROM o ORDER BY o_orderkey
""",
   engine_sql="""
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       CAST(UNIX_DATE(d) AS BIGINT) AS epoch_days,
       DATE_FROM_UNIX_DATE(UNIX_DATE(d)) AS d_rt,
       CAST(UNIX_SECONDS(CAST(d AS TIMESTAMP)) AS BIGINT) AS epoch_s,
       FROM_UNIXTIME(UNIX_SECONDS(CAST(d AS TIMESTAMP))) AS ts_str,
       CAST(DATEADD(DAY, 45, d) AS DATE) AS plus45,
       CAST(DATE_PART('QUARTER', d) AS BIGINT) AS qtr
FROM o ORDER BY o_orderkey
""")

# Arrays batch 6 + outer generators: arrays_overlap, array_size/
# cardinality, posexplode_outer on possibly-empty arrays.
_q("q306_arrays_batch6",
   oracle="""
WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' ') AS toks
           FROM documents WHERE doc_id <= 50),
     probe AS (SELECT ['table', 'join', 'query'] AS kw)
SELECT t.doc_id,
       LEN(LIST_INTERSECT(toks, probe.kw)) > 0 AS hits_kw,
       CAST(LEN(toks) AS BIGINT) AS n_toks
FROM t CROSS JOIN probe ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text, ' ') AS toks
           FROM documents WHERE doc_id <= 50),
     probe AS (SELECT ARRAY('table', 'join', 'query') AS kw)
SELECT t.doc_id,
       ARRAYS_OVERLAP(toks, probe.kw) AS hits_kw,
       CAST(CARDINALITY(toks) AS BIGINT) AS n_toks
FROM t CROSS JOIN probe ORDER BY doc_id
""")


def _q306b_builder(spark: SparkSession) -> DataFrame:
    # posexplode_outer: rows with empty arrays survive with NULL
    # (pos, tok) — the generator analogue of a left join.
    return spark.sql("""
WITH t AS (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN ARRAY()
                       ELSE SPLIT(SUBSTRING(text, 1, 30), ' ') END AS toks
           FROM documents WHERE doc_id <= 50)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
FROM t LATERAL VIEW OUTER POSEXPLODE(toks) x AS pos, tok
ORDER BY doc_id, pos
""")


_q("q307_posexplode_outer",
   oracle="""
WITH t AS (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN []
                       ELSE REGEXP_SPLIT_TO_ARRAY(SUBSTRING(text, 1, 30),
                                                  ' ') END AS toks
           FROM documents WHERE doc_id <= 50),
     e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                  toks[CAST(i AS INT)] AS tok
           FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS g(i)
           WHERE LEN(toks) > 0)
SELECT doc_id, pos, tok FROM e
UNION ALL
SELECT doc_id, NULL AS pos, NULL AS tok FROM t WHERE LEN(toks) = 0
ORDER BY doc_id, pos
""",
   builder=_q306b_builder)

# Conditional batch 3: equal_null, ifnull, nullifzero, zeroifnull.
_q("q308_conditional_batch3",
   oracle="""
WITH t AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 5 = 0 THEN NULL
                       ELSE o_custkey END AS a,
                  o_custkey AS b
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       (a IS NOT DISTINCT FROM b) AS eqn,
       COALESCE(a, -1) AS ifn,
       CASE WHEN a % 2 = 0 THEN NULL ELSE a % 2 END AS nz,
       CASE WHEN a IS NULL THEN 0 ELSE a END AS zn
FROM t ORDER BY o_orderkey
""",
   engine_sql="""
WITH t AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 5 = 0 THEN NULL
                       ELSE o_custkey END AS a,
                  o_custkey AS b
           FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey,
       EQUAL_NULL(a, b) AS eqn,
       IFNULL(a, -1) AS ifn,
       NULLIFZERO(a % 2) AS nz,
       ZEROIFNULL(a) AS zn
FROM t ORDER BY o_orderkey
""")

# ------------------------------------------------- sparse similarity /
# incremental maintenance (q309-q310).

# Document-document cosine similarity WITHOUT embeddings: TF-IDF
# sparse vectors meet in an inverted-index self-join on shared terms
# (the classic sparse similarity join — pairs exist only where terms
# co-occur, never n²). Bounded block for the oracle tier; the same
# plan shape scales by pruning high-DF terms first.
_q("q309_tfidf_cosine_pairs",
   oracle="""
WITH tok AS (SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' '))
                          AS t
                   FROM documents WHERE doc_id <= 60) s
             GROUP BY doc_id, t),
     n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
           WHERE doc_id <= 60),
     df AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tok GROUP BY t),
     w AS (SELECT tok.doc_id, tok.t,
                  tf * LN(n.n / df.df) AS w
           FROM tok JOIN df ON tok.t = df.t CROSS JOIN n),
     nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nv FROM w GROUP BY doc_id),
     dots AS (SELECT a.doc_id AS i, b.doc_id AS j, SUM(a.w * b.w) AS dot
              FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
SELECT i, j, ROUND(dot / (na.nv * nb.nv), 3) AS cosine
FROM dots JOIN nrm na ON dots.i = na.doc_id
          JOIN nrm nb ON dots.j = nb.doc_id
WHERE dot / (na.nv * nb.nv) >= 0.5
ORDER BY i, j
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS t
                   FROM documents WHERE doc_id <= 60) s
             GROUP BY doc_id, t),
     n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
           WHERE doc_id <= 60),
     df AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tok GROUP BY t),
     w AS (SELECT tok.doc_id, tok.t,
                  tf * LN(n.n / df.df) AS w
           FROM tok JOIN df ON tok.t = df.t CROSS JOIN n),
     nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nv FROM w GROUP BY doc_id),
     dots AS (SELECT a.doc_id AS i, b.doc_id AS j, SUM(a.w * b.w) AS dot
              FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
SELECT i, j, ROUND(dot / (na.nv * nb.nv), 3) AS cosine
FROM dots JOIN nrm na ON dots.i = na.doc_id
          JOIN nrm nb ON dots.j = nb.doc_id
WHERE dot / (na.nv * nb.nv) >= 0.5
ORDER BY i, j
""")


def _q310_builder(spark: SparkSession) -> DataFrame:
    # Incremental aggregate maintenance: a "yesterday" rollup merges
    # with today's delta via partial-state algebra (counts/sums add,
    # min/max fold, avg re-derives from sums) — no rescan of the base.
    # The oracle aggregates the full table directly; equality IS the
    # correctness of the merge algebra.
    from shredder_spark.operators.incremental import merge_rollups

    orders = spark.table("orders")
    base = orders.filter(F.col("o_orderkey") % 10 != 0)
    delta = orders.filter(F.col("o_orderkey") % 10 == 0)

    def rollup(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("cents"),
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"))

    merged = merge_rollups(rollup(base), rollup(delta),
                           keys=["o_orderpriority"],
                           add_cols=["n", "cents"],
                           min_cols=["first_d"], max_cols=["last_d"])
    return (merged.select(
                "o_orderpriority", "n",
                (F.col("cents") / 100.0).alias("total"),
                "first_d", "last_d",
                F.round(F.col("cents") / 100.0 / F.col("n"), 2).alias("avg_p"))
            .orderBy("o_orderpriority"))


_q("q310_incremental_rollup_merge", """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total,
       MIN(o_orderdate) AS first_d,
       MAX(o_orderdate) AS last_d,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*), 2) AS avg_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""", builder=_q310_builder)

# ------------------------------------------------- evaluation-
# methodology batch (q311-q313).

# Cohen's kappa between two "labelers" (deterministic proxies derived
# from independent columns): chance-corrected agreement, the
# inter-annotator staple for label-quality audits.
_q("q311_cohens_kappa", """
WITH l AS (SELECT CASE WHEN LENGTH(text) % 2 = 0 THEN 'even'
                       ELSE 'odd' END AS r1,
                  CASE WHEN doc_id % 2 = 0 THEN 'even'
                       ELSE 'odd' END AS r2
           FROM documents),
     c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS agree,
                  CAST(SUM(CASE WHEN r1 = 'even' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS a_even,
                  CAST(SUM(CASE WHEN r2 = 'even' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS b_even
           FROM l)
SELECT ROUND(agree / n, 4) AS po,
       ROUND((a_even * b_even + (n - a_even) * (n - b_even)) / (n * n), 4)
         AS pe,
       ROUND((agree / n - (a_even * b_even + (n - a_even) * (n - b_even))
              / (n * n))
             / (1 - (a_even * b_even + (n - a_even) * (n - b_even))
                / (n * n)), 4) AS kappa
FROM c
""")

# Bootstrap confidence interval with DETERMINISTIC resamples: replicate
# b=0..49 draws each doc with a weight derived from md5(doc_id, b) —
# both engines materialize identical resamples, so the percentile CI
# is engine-exact (the honest distributed substitute for rng-based
# bootstrap: reproducible across runs, partitions, engines).
_q("q312_bootstrap_ci",
   oracle="""
WITH b AS (SELECT UNNEST(GENERATE_SERIES(0, 49)) AS b),
     draw AS (SELECT b.b, d.n_chars,
                     CAST(('0x' || SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)
                           || ':' || CAST(b.b AS VARCHAR)), 1, 4))
                          AS UBIGINT) % 3 AS w
              FROM documents d CROSS JOIN b),
     means AS (SELECT b, SUM(w * CAST(n_chars AS DOUBLE)) / SUM(w) AS m
               FROM draw GROUP BY b HAVING SUM(w) > 0)
SELECT ROUND(QUANTILE_CONT(m, 0.05), 2) AS ci_lo,
       ROUND(QUANTILE_CONT(m, 0.5), 2) AS ci_mid,
       ROUND(QUANTILE_CONT(m, 0.95), 2) AS ci_hi,
       CAST(COUNT(*) AS BIGINT) AS n_boot
FROM means
""",
   engine_sql="""
WITH b AS (SELECT EXPLODE(SEQUENCE(0, 49)) AS b),
     draw AS (SELECT b.b, d.n_chars,
                     CAST(CONV(SUBSTRING(MD5(CONCAT(
                            CAST(d.doc_id AS STRING), ':',
                            CAST(b.b AS STRING))), 1, 4), 16, 10)
                          AS BIGINT) % 3 AS w
              FROM documents d CROSS JOIN b),
     means AS (SELECT b, SUM(w * CAST(n_chars AS DOUBLE)) / SUM(w) AS m
               FROM draw GROUP BY b HAVING SUM(w) > 0)
SELECT ROUND(PERCENTILE(m, 0.05), 2) AS ci_lo,
       ROUND(PERCENTILE(m, 0.5), 2) AS ci_mid,
       ROUND(PERCENTILE(m, 0.95), 2) AS ci_hi,
       CAST(COUNT(*) AS BIGINT) AS n_boot
FROM means
""")

# Quantile normalization of a per-group metric onto the global
# distribution (batch-effect removal): each value maps to the global
# value at its within-group rank fraction. Rank→index arithmetic is
# integer, the lookup is an equi-join — no per-row percentile calls.
_q("q313_quantile_normalization", """
WITH v AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x
           FROM documents),
     g AS (SELECT x AS gx,
                  ROW_NUMBER() OVER (ORDER BY x, doc_id) AS grn
           FROM v),
     n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
     l AS (SELECT doc_id, lang, x,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY x, doc_id) AS lrn,
                  COUNT(*) OVER (PARTITION BY lang) AS ln
           FROM v)
SELECT l.doc_id, l.lang, l.x,
       g.gx AS x_norm
FROM l CROSS JOIN n
JOIN g ON g.grn = CASE WHEN l.ln = 1 THEN 1
                       ELSE CAST(ROUND((l.lrn - 1.0) * (n.n - 1)
                                       / (l.ln - 1)) AS BIGINT) + 1 END
ORDER BY l.doc_id
""")

# ------------------------------------------------- containment dedup /
# grouped regression (q314-q316).

# Exact substring-containment dedup (bounded block): docs whose whole
# text occurs inside another doc. Blocked on shared first token so the
# pair space is the block join; INSTR/STRPOS does the containment
# test. The tier quadratic-in-block, like the q42 oracle tier.
_q("q314_containment_dedup",
   oracle="""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id <= 200),
     tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM base),
     exc AS (SELECT doc_id + 100000 AS doc_id,
                    ARRAY_TO_STRING(
                      t[1 : CAST(FLOOR(LEN(t) * 2.0 / 3) AS BIGINT)],
                      ' ') AS text
             FROM tok WHERE LEN(t) >= 3),
     d AS (SELECT doc_id, text,
                  SPLIT_PART(text, ' ', 1) AS t0, LENGTH(text) AS ln
           FROM (SELECT * FROM base UNION ALL SELECT * FROM exc))
SELECT a.doc_id AS contained, b.doc_id AS container
FROM d a JOIN d b
  ON a.t0 = b.t0 AND a.doc_id <> b.doc_id AND a.ln < b.ln
WHERE STRPOS(b.text, a.text) > 0
ORDER BY contained, container
""",
   engine_sql="""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id <= 200),
     tok AS (SELECT doc_id, SPLIT(text, ' ') AS t FROM base),
     exc AS (SELECT doc_id + 100000 AS doc_id,
                    ARRAY_JOIN(
                      SLICE(t, 1,
                            CAST(FLOOR(SIZE(t) * 2.0 / 3) AS BIGINT)),
                      ' ') AS text
             FROM tok WHERE SIZE(t) >= 3),
     d AS (SELECT doc_id, text,
                  SPLIT_PART(text, ' ', 1) AS t0, LENGTH(text) AS ln
           FROM (SELECT * FROM base UNION ALL SELECT * FROM exc))
SELECT a.doc_id AS contained, b.doc_id AS container
FROM d a JOIN d b
  ON a.t0 = b.t0 AND a.doc_id <> b.doc_id AND a.ln < b.ln
WHERE INSTR(b.text, a.text) > 0
ORDER BY contained, container
""")

# Asymmetric Jaccard CONTAINMENT |A∩B|/|A| (how much of doc A lives in
# doc B — catches quote/expansion relationships symmetric Jaccard
# misses). Bounded block; token-set arithmetic as q42.
_q("q315_jaccard_containment",
   oracle="""
WITH t AS (SELECT doc_id,
                  LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, ' ')) AS tok
           FROM documents WHERE doc_id <= 100)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(CAST(LEN(LIST_INTERSECT(a.tok, b.tok)) AS DOUBLE)
             / LEN(a.tok), 3) AS containment
FROM t a JOIN t b ON a.doc_id <> b.doc_id
WHERE CAST(LEN(LIST_INTERSECT(a.tok, b.tok)) AS DOUBLE)
      / LEN(a.tok) >= 0.9
ORDER BY i, j
""",
   engine_sql="""
WITH t AS (SELECT doc_id,
                  ARRAY_DISTINCT(SPLIT(text, ' ')) AS tok
           FROM documents WHERE doc_id <= 100)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(CAST(SIZE(ARRAY_INTERSECT(a.tok, b.tok)) AS DOUBLE)
             / SIZE(a.tok), 3) AS containment
FROM t a JOIN t b ON a.doc_id <> b.doc_id
WHERE CAST(SIZE(ARRAY_INTERSECT(a.tok, b.tok)) AS DOUBLE)
      / SIZE(a.tok) >= 0.9
ORDER BY i, j
""")

# Per-group linear fit applied back to rows (prediction + residual):
# regr_slope/intercept per priority, joined to score every order —
# the grouped-model-scoring shape (fit once per group, score all rows,
# no per-row model calls).
_q("q316_group_regression_residuals", """
WITH fit AS (SELECT o_orderpriority AS p,
                    REGR_SLOPE(CAST(o_totalprice AS DOUBLE),
                               CAST(o_custkey AS DOUBLE)) AS b,
                    REGR_INTERCEPT(CAST(o_totalprice AS DOUBLE),
                                   CAST(o_custkey AS DOUBLE)) AS a
             FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderkey,
       ROUND(fit.a + fit.b * o.o_custkey, 2) AS pred,
       ROUND(CAST(o.o_totalprice AS DOUBLE)
             - (fit.a + fit.b * o.o_custkey), 2) AS resid
FROM orders o JOIN fit ON o.o_orderpriority = fit.p
WHERE o.o_orderkey <= 2000
ORDER BY o.o_orderkey
""")

# ------------------------------------------------- data-quality drift
# (q317): null/metric drift between two corpus snapshots.

# Snapshot drift monitor: profile "last week" vs "this week" (modulo
# split proxies) and flag per-column null-rate and mean shifts — the
# one-pass guardrail that runs before a training-data refresh ships.
_q("q317_drift_monitor", """
WITH snap AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'base'
                          ELSE 'cand' END AS snap,
                     CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE n_chars END AS n_chars,
                     CASE WHEN doc_id % 11 = 0 THEN NULL
                          ELSE lang END AS lang
              FROM documents),
     prof AS (SELECT snap,
                     CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(COUNT(n_chars) AS DOUBLE) AS nn_chars,
                     CAST(COUNT(lang) AS DOUBLE) AS nn_lang,
                     AVG(CAST(n_chars AS DOUBLE)) AS mean_chars
              FROM snap GROUP BY snap),
     b AS (SELECT * FROM prof WHERE snap = 'base'),
     c AS (SELECT * FROM prof WHERE snap = 'cand')
SELECT ROUND(1 - b.nn_chars / b.n, 4) AS null_rate_base,
       ROUND(1 - c.nn_chars / c.n, 4) AS null_rate_cand,
       ROUND(ABS((1 - c.nn_chars / c.n) - (1 - b.nn_chars / b.n)), 4)
         AS null_drift,
       ROUND(ABS(c.mean_chars - b.mean_chars) / b.mean_chars, 4)
         AS mean_drift,
       ABS((1 - c.nn_chars / c.n) - (1 - b.nn_chars / b.n)) > 0.05
         AS null_alarm,
       ABS(c.mean_chars - b.mean_chars) / b.mean_chars > 0.1
         AS mean_alarm
FROM b CROSS JOIN c
""")

# ------------------------------------------------- weighted median
# (q318): neither engine ships weighted percentiles — the running-
# weight formulation is the portable (and distributed) answer.

# Weighted median order price per priority, weight = line count: sort
# by value, take the first value whose running weight crosses half the
# total. Integer weights → exact threshold comparisons everywhere.
_q("q318_weighted_median", """
WITH w AS (SELECT o.o_orderpriority AS p,
                  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v,
                  CAST(COUNT(*) AS BIGINT) AS wt
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           GROUP BY o.o_orderpriority, o.o_orderkey, o.o_totalprice),
     r AS (SELECT p, v, wt,
                  SUM(wt) OVER (PARTITION BY p
                                ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cw,
                  SUM(wt) OVER (PARTITION BY p) AS tw
           FROM w),
     pick AS (SELECT p, v,
                     ROW_NUMBER() OVER (PARTITION BY p ORDER BY v) AS rn
              FROM r WHERE cw * 2 >= tw)
SELECT p, CAST(v AS DOUBLE) / 100.0 AS wmedian
FROM pick WHERE rn = 1 ORDER BY p
""")

# ------------------------------------------------- spatial join /
# variant introspection (q319-q320).

# Spatial proximity join, the scale pattern: deterministic lat/lon per
# customer, a cheap bounding-box equi/band prefilter prunes the pair
# space, exact haversine verifies survivors — prune-then-verify, the
# same shape every real geo join compiles to (and no geo extension
# needed: pure math both engines).
_q("q319_haversine_join", """
WITH pts AS (SELECT c_custkey AS id,
                    (CAST(c_custkey * 7919 % 1000 AS DOUBLE) / 1000.0 - 0.5)
                      * 2 AS lat,
                    (CAST(c_custkey * 104729 % 1000 AS DOUBLE) / 1000.0)
                      * 2 AS lon
             FROM customer WHERE c_custkey <= 400),
     cand AS (SELECT a.id AS i, b.id AS j,
                     a.lat AS la, a.lon AS oa, b.lat AS lb, b.lon AS ob
              FROM pts a JOIN pts b
                ON a.id < b.id
               AND CAST(FLOOR(a.lat * 10) AS BIGINT)
                   BETWEEN CAST(FLOOR(b.lat * 10) AS BIGINT) - 1
                       AND CAST(FLOOR(b.lat * 10) AS BIGINT) + 1
               AND ABS(a.lon - b.lon) < 0.2),
     d AS (SELECT i, j,
                  2 * 6371.0 * ASIN(SQRT(
                    POWER(SIN(RADIANS(lb - la) / 2), 2)
                    + COS(RADIANS(la)) * COS(RADIANS(lb))
                      * POWER(SIN(RADIANS(ob - oa) / 2), 2))) AS km
           FROM cand)
SELECT i, j, ROUND(km, 1) AS km
FROM d WHERE km <= 10
ORDER BY i, j
""")

# VARIANT deep introspection (extends q220): explode a variant array
# into typed elements and recover the value schema — the
# semi-structured pipeline's schema-discovery step.
_q("q320_variant_explode",
   oracle="""
WITH t AS (SELECT event_id, props FROM events
           WHERE event_id <= 200 AND json_valid(props)),
     e AS (SELECT t.event_id,
                  CAST(k.k AS VARCHAR) AS vkey,
                  json_extract_string(t.props, '$.' || k.k) AS vval
           FROM t, UNNEST(json_keys(t.props)) AS k(k))
SELECT event_id, vkey, vval FROM e ORDER BY event_id, vkey
""",
   engine_sql="""
WITH t AS (SELECT event_id, TRY_PARSE_JSON(props) AS v
           FROM events
           WHERE event_id <= 200 AND TRY_PARSE_JSON(props) IS NOT NULL)
SELECT event_id, key AS vkey,
       VARIANT_GET(value, '$', 'string') AS vval
FROM t, LATERAL VARIANT_EXPLODE(v)
ORDER BY event_id, vkey
""")

# ------------------------------------------------- final coverage pair
# (q321-q322): grouped top-k sketch, boolean aggregates.

# APPROX_TOP_K per group: at this cardinality the sketch is exact on
# COUNTS, but tied counts at the k boundary make the chosen ITEMS
# arbitrary — so the declared output is the tie-insensitive count
# multiset per group (any valid top-5 has the same counts).
_q("q321_grouped_top_terms",
   oracle="""
WITH tok AS (SELECT lang, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' ')) AS t
             FROM documents),
     c AS (SELECT lang, t, COUNT(*) AS n FROM tok GROUP BY lang, t),
     r AS (SELECT lang, n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, t) AS rk
           FROM c)
SELECT lang, CAST(SUM(n) AS BIGINT) AS top5_total,
       CAST(MAX(n) AS BIGINT) AS top1_n, CAST(MIN(n) AS BIGINT) AS top5_n
FROM r WHERE rk <= 5 GROUP BY lang ORDER BY lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS t FROM documents),
     sk AS (SELECT lang, APPROX_TOP_K(t, 5, 4096) AS tk
            FROM tok GROUP BY lang),
     e AS (SELECT lang, x.count AS n
           FROM sk LATERAL VIEW EXPLODE(tk) v AS x)
SELECT lang, CAST(SUM(n) AS BIGINT) AS top5_total,
       CAST(MAX(n) AS BIGINT) AS top1_n, CAST(MIN(n) AS BIGINT) AS top5_n
FROM e GROUP BY lang ORDER BY lang
""")

# Boolean aggregates EVERY / ANY / SOME (ANSI spellings of
# bool_and/bool_or; q67 covered the bool_* spellings).
_q("q322_boolean_aggregates",
   oracle="""
SELECT o_orderpriority,
       BOOL_AND(o_totalprice > 1000) AS all_over_1k,
       BOOL_OR(o_totalprice > 400000) AS any_over_400k,
       BOOL_OR(o_orderstatus = 'P') AS some_pending
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   engine_sql="""
SELECT o_orderpriority,
       EVERY(o_totalprice > 1000) AS all_over_1k,
       ANY(o_totalprice > 400000) AS any_over_400k,
       SOME(o_orderstatus = 'P') AS some_pending
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

# ------------------------------------------------- warehouse / search /
# contrastive batch (q323-q326).

# Effective-dated dimension lookup (completes q154's SCD2 build): each
# purchase resolves the user's validity interval containing its
# timestamp — the BETWEEN join every temporal warehouse runs. Interval
# grain from q154's construction; far-future sentinel closes the last
# row.
_q("q323_scd2_lookup", """
WITH dim AS (SELECT user_id, ts AS valid_from,
                    COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                             TIMESTAMP '2099-12-31 00:00:00') AS valid_to,
                    event_id AS version_id
             FROM events WHERE event_type = 'signup'),
     facts AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, d.version_id
FROM facts f JOIN dim d
  ON f.user_id = d.user_id
 AND f.ts >= d.valid_from AND f.ts < d.valid_to
ORDER BY f.event_id
""")

# Conjunctive term search (docs containing ALL query terms): inverted-
# index semi-join counting distinct matched terms — the AND-query
# shape; no per-doc rescans, no LIKE chains.
_q("q324_conjunctive_search",
   oracle="""
WITH q AS (SELECT UNNEST(['table', 'join', 'scan']) AS term),
     hit AS (SELECT d.doc_id, q.term
             FROM (SELECT doc_id,
                          UNNEST(LIST_DISTINCT(
                            REGEXP_SPLIT_TO_ARRAY(text, ' '))) AS t
                   FROM documents) d
             JOIN q ON d.t = q.term)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms
FROM hit GROUP BY doc_id HAVING COUNT(*) = 3
ORDER BY doc_id
""",
   engine_sql="""
WITH q AS (SELECT EXPLODE(ARRAY('table', 'join', 'scan')) AS term),
     hit AS (SELECT d.doc_id, q.term
             FROM (SELECT doc_id,
                          EXPLODE(ARRAY_DISTINCT(SPLIT(text, ' '))) AS t
                   FROM documents) d
             JOIN q ON d.t = q.term)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms
FROM hit GROUP BY doc_id HAVING COUNT(*) = 3
ORDER BY doc_id
""")

# Phrase search ("table value" as ADJACENT tokens): positional
# inverted index — explode with ordinality, self-join on doc and
# pos+1 — the bigram-position shape n-word phrases generalize to.
_q("q325_phrase_search",
   oracle="""
WITH p AS (SELECT doc_id, toks[CAST(i AS INT)] AS t, i
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' ') AS toks
                 FROM documents) d,
                UNNEST(GENERATE_SERIES(1, LEN(toks))) AS g(i))
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
WHERE a.t = 'table' AND b.t = 'value'
GROUP BY a.doc_id ORDER BY a.doc_id
""",
   engine_sql="""
WITH p AS (SELECT doc_id, t, pos
           FROM (SELECT doc_id, SPLIT(text, ' ') AS toks FROM documents)
           LATERAL VIEW POSEXPLODE(toks) x AS pos, t)
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.t = 'table' AND b.t = 'value'
GROUP BY a.doc_id ORDER BY a.doc_id
""")

# Deterministic negative sampling for contrastive pairs: each anchor
# doc draws its 2 cross-language "negatives" by md5(anchor, candidate)
# rank — reproducible across engines/partitions (no rand()), the
# training-pair generator for embedding models.
_q("q326_negative_sampling", """
WITH d AS (SELECT doc_id, lang FROM documents WHERE doc_id <= 80),
     pairs AS (SELECT a.doc_id AS anchor, b.doc_id AS neg,
                      MD5(CONCAT(CAST(a.doc_id AS STRING), ':',
                                 CAST(b.doc_id AS STRING))) AS h
               FROM d a JOIN d b ON a.lang <> b.lang),
     r AS (SELECT anchor, neg,
                  ROW_NUMBER() OVER (PARTITION BY anchor
                                     ORDER BY h, neg) AS rk
           FROM pairs)
SELECT anchor, neg FROM r WHERE rk <= 2 ORDER BY anchor, neg
""")

# ------------------------------------------------- robust stats /
# integrity batch (q327-q329).

# Theil-Sen robust slope (median of pairwise slopes, bounded block):
# the outlier-immune regression estimate; DISC median picks an actual
# slope value so both engines select the same element.
_q("q327_theil_sen",
   oracle="""
WITH pts AS (SELECT CAST(c_custkey AS DOUBLE) AS x,
                    CAST(c_acctbal AS DOUBLE) AS y
             FROM customer WHERE c_custkey <= 200),
     slopes AS (SELECT (b.y - a.y) / (b.x - a.x) AS s
                FROM pts a JOIN pts b ON a.x < b.x)
SELECT ROUND(QUANTILE_DISC(s, 0.5), 4) AS theil_sen_slope,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM slopes
""",
   engine_sql="""
WITH pts AS (SELECT CAST(c_custkey AS DOUBLE) AS x,
                    CAST(c_acctbal AS DOUBLE) AS y
             FROM customer WHERE c_custkey <= 200),
     slopes AS (SELECT (b.y - a.y) / (b.x - a.x) AS s
                FROM pts a JOIN pts b ON a.x < b.x)
SELECT ROUND(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY s), 4)
         AS theil_sen_slope,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM slopes
""")

# Mann-Whitney U rank-sum test between click and view values: average
# ranks over integer cents (ties → .5 ranks, exact in doubles) — the
# nonparametric complement of q295's KS distance.
_q("q328_mann_whitney_u",
   oracle="""
WITH s AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
                  event_type AS g
           FROM events WHERE event_type IN ('click', 'view')),
     r AS (SELECT g, c,
                  RANK() OVER (ORDER BY c) AS rk,
                  COUNT(*) OVER (PARTITION BY c) AS ties
           FROM s),
     avg_r AS (SELECT g, rk + (ties - 1) / 2.0 AS ar FROM r),
     agg AS (SELECT CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                         AS DOUBLE) AS n1,
                    CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                         AS DOUBLE) AS n2,
                    SUM(CASE WHEN g = 'click' THEN ar ELSE 0 END) AS r1
             FROM avg_r)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       r1 - n1 * (n1 + 1) / 2 AS u1,
       ROUND((r1 - n1 * (n1 + 1) / 2) / (n1 * n2), 4) AS auc
FROM agg
""",
   engine_sql="""
WITH s AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
                  event_type AS g
           FROM events WHERE event_type IN ('click', 'view')),
     -- average ranks are constant within a tie group: aggregate per
     -- cents value FIRST (bounded by the value domain), then derive
     -- RANK = rows-before + 1 and the tie-averaged rank from the
     -- per-value counts — the cumulative window never sees raw rows.
     d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                       AS BIGINT) AS cnt1
           FROM s GROUP BY c),
     r AS (SELECT c, cnt, cnt1,
                  SUM(cnt) OVER (ORDER BY c) - cnt + 1 AS rk
           FROM d),
     agg AS (SELECT CAST(SUM(cnt1) AS DOUBLE) AS n1,
                    CAST(SUM(cnt - cnt1) AS DOUBLE) AS n2,
                    SUM(cnt1 * (rk + (cnt - 1) / 2.0)) AS r1
             FROM r)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       r1 - n1 * (n1 + 1) / 2 AS u1,
       ROUND((r1 - n1 * (n1 + 1) / 2) / (n1 * n2), 4) AS auc
FROM agg
""")

# Orderless table checksum: per-row md5 folded with modular addition —
# partition- and order-independent, so replicas/engines compare one
# number to verify a copy (the distributed analogue of a file md5).
_q("q329_table_checksum",
   oracle="""
WITH h AS (SELECT CAST(('0x' || SUBSTRING(MD5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    o_orderstatus), 1, 15)) AS UBIGINT) AS v
           FROM orders)
SELECT CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM h
""",
   engine_sql="""
WITH h AS (SELECT CAST(CONV(SUBSTRING(MD5(CONCAT(
                    CAST(o_orderkey AS STRING), '|',
                    CAST(o_custkey AS STRING), '|',
                    o_orderstatus)), 1, 15), 16, 10) AS BIGINT) AS v
           FROM orders)
SELECT CAST(SUM(CAST(v AS DECIMAL(38, 0))) % 2305843009213693951
            AS BIGINT) AS checksum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM h
""")

# ------------------------------------------------- time-series
# diagnostics batch (q330-q331).

# Lag-k autocorrelation of each user's reading series (ACF at k=1,2):
# rn-offset self-joins over integer cents; the Pearson numerator/
# denominator stay in exact integer-derived arithmetic until the final
# rounded division.
_q("q330_autocorrelation", """
WITH o AS (SELECT user_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
     m AS (SELECT user_id, AVG(CAST(c AS DOUBLE)) AS mu,
                  CAST(COUNT(*) AS DOUBLE) AS n
           FROM o GROUP BY user_id),
     j1 AS (SELECT a.user_id,
                   SUM((a.c - m.mu) * (b.c - m.mu)) AS num
            FROM o a JOIN o b ON a.user_id = b.user_id
                             AND b.rn = a.rn + 1
                     JOIN m ON a.user_id = m.user_id
            GROUP BY a.user_id),
     v AS (SELECT o.user_id, SUM((o.c - m.mu) * (o.c - m.mu)) AS den
           FROM o JOIN m ON o.user_id = m.user_id
           GROUP BY o.user_id)
SELECT v.user_id, ROUND(j1.num / v.den, 4) AS acf1
FROM v JOIN j1 ON v.user_id = j1.user_id
WHERE v.den > 0
ORDER BY v.user_id
""")

# Seasonal-naive backtest: forecast each reading with the user's value
# 24h earlier (nearest strictly-before reading at lag >= 1 day via the
# as-of shape), score MAPE/bias per user — the forecasting-evaluation
# loop as one declarative pass.
_q("q331_seasonal_naive_backtest",
   oracle="""
WITH o AS (SELECT user_id, event_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c, ts
           FROM events),
     m AS (SELECT a.user_id, a.event_id, a.c,
                  (SELECT MAX(b.ts) FROM events b
                   WHERE b.user_id = a.user_id
                     AND b.ts <= a.ts - INTERVAL 1 DAY) AS base_ts
           FROM o a),
     f AS (SELECT m.user_id, m.event_id, m.c,
                  CAST(ROUND(b.value * 100) AS BIGINT) AS pred
           FROM m JOIN events b
             ON b.user_id = m.user_id AND b.ts = m.base_ts)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(ABS(c - pred)) AS DOUBLE) / SUM(c), 4) AS wape,
       CAST(SUM(c - pred) AS BIGINT) AS bias_total_cents
FROM f WHERE c > 0
GROUP BY user_id ORDER BY user_id
""",
   engine_sql="""
WITH o AS (SELECT user_id, event_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  -- ts is TIMESTAMP_NTZ; UTC session makes the LTZ
                  -- cast a pure reinterpretation for epoch micros
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS us
           FROM events),
     -- the oracle's correlated MAX subquery is quadratic per user
     -- (Spark rewrites it into a per-user theta join); the identical
     -- "latest event at least 1 day older" is a RANGE frame with a
     -- constant offset over the per-user ordered window — one
     -- partitioned window pass + one equi-join back, linear in
     -- events. RANGE x PRECEDING is value <= current - x, exactly
     -- the oracle's ts <= a.ts - INTERVAL 1 DAY (86400e6 micros).
     m AS (SELECT user_id, event_id, c, us,
                  MAX(us) OVER (PARTITION BY user_id ORDER BY us
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                AND 86400000000 PRECEDING) AS base_us
           FROM o),
     f AS (SELECT m.user_id, m.event_id, m.c, b.c AS pred
           FROM m JOIN o b
             ON b.user_id = m.user_id AND b.us = m.base_us)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(ABS(c - pred)) AS DOUBLE) / SUM(c), 4) AS wape,
       CAST(SUM(c - pred) AS BIGINT) AS bias_total_cents
FROM f WHERE c > 0
GROUP BY user_id ORDER BY user_id
""")

# ------------------------------------------------- pareto / keyset
# pagination (q332-q333).

# Pareto concentration: the smallest customer count whose revenue
# reaches 80% of each segment's total — running share over a desc
# sort, integer cents exact until the final threshold pick.
_q("q332_pareto_8020", """
WITH r AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY c.c_mktsegment, o.o_custkey),
     w AS (SELECT seg, o_custkey, cents,
                  SUM(cents) OVER (PARTITION BY seg
                                   ORDER BY cents DESC, o_custkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run,
                  SUM(cents) OVER (PARTITION BY seg) AS tot,
                  COUNT(*) OVER (PARTITION BY seg) AS n_cust
           FROM r),
     hit AS (SELECT seg, n_cust,
                    MIN(CASE WHEN run * 5 >= tot * 4
                             THEN rn END) AS n_for_80
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY cents DESC, o_custkey) AS rn
                   FROM w) t
             GROUP BY seg, n_cust)
SELECT seg, CAST(n_cust AS BIGINT) AS n_cust,
       CAST(n_for_80 AS BIGINT) AS n_for_80,
       ROUND(CAST(n_for_80 AS DOUBLE) / n_cust, 4) AS share_of_customers
FROM hit ORDER BY seg
""")

# Keyset ("seek") pagination: page 3 of the (o_orderdate, o_orderkey)
# ordering fetched by row-value comparison against page 2's last key —
# O(page) work at any depth, where OFFSET pays O(depth). Row-value
# (tuple) comparison parses in both engines.
_q("q333_keyset_pagination", """
WITH page2_last AS (
  SELECT o_orderdate AS d, o_orderkey AS k
  FROM orders ORDER BY o_orderdate, o_orderkey
  LIMIT 1 OFFSET 39)
SELECT o.o_orderkey, o.o_orderdate
FROM orders o CROSS JOIN page2_last p
WHERE (o.o_orderdate, o.o_orderkey) > (p.d, p.k)
ORDER BY o.o_orderdate, o.o_orderkey
LIMIT 20
""")

# ------------------------------------------------- named windows /
# pandas UDAF (q334-q335).

# Named WINDOW clause: one spec declared once, shared by four
# functions — parses identically in both engines.
_q("q334_named_window", """
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       ROUND(SUM(CAST(o_totalprice AS DOUBLE)) OVER w, 2) AS run_sum,
       ROUND(MIN(CAST(o_totalprice AS DOUBLE)) OVER w, 2) AS run_min,
       ROUND(MAX(CAST(o_totalprice AS DOUBLE)) OVER w, 2) AS run_max
FROM orders
WHERE o_custkey <= 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
""")


def _q335_builder(spark: SparkSession) -> DataFrame:
    # Pandas grouped-aggregate UDAF (Arrow-batched, the B50 family's
    # aggregation flavor): per-priority geometric mean of order
    # totals. The UDAF computes exp(mean(log x)) in numpy; the oracle
    # spells the same thing in SQL.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: this build's signature inference rejects
    # the Series->float annotation form
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    # geometric mean is defined over positive values (matches the
    # oracle's WHERE; log of a 0/negative total would poison the mean)
    orders = spark.table("orders").filter(F.col("o_totalprice") > 0)
    return (orders.groupBy("o_orderpriority")
            .agg(F.round(geo_mean(F.col("o_totalprice").cast("double")), 2)
                 .alias("gm"))
            .orderBy("o_orderpriority"))


_q("q335_pandas_udaf_geomean", """
SELECT o_orderpriority,
       ROUND(EXP(AVG(LN(CAST(o_totalprice AS DOUBLE)))), 2) AS gm
FROM orders WHERE o_totalprice > 0
GROUP BY o_orderpriority ORDER BY o_orderpriority
""", builder=_q335_builder)

# ------------------------------------------------- probabilistic
# linkage / survival batch (q336-q337).

# Fellegi-Sunter record-linkage scoring: candidate pairs (blocked on
# nation) score field agreements with log2(m/u) weights and
# disagreements with log2((1-m)/(1-u)) — the probabilistic-linkage
# standard. Constant m/u priors keep the arithmetic deterministic;
# pairs above threshold are "links".
_q("q336_fellegi_sunter", """
WITH c AS (SELECT c_custkey AS id, c_nationkey AS nat,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal,
                  c_mktsegment AS seg
           FROM customer WHERE c_custkey <= 300),
     pairs AS (SELECT a.id AS i, b.id AS j,
                      CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg,
                      CASE WHEN ABS(a.bal - b.bal) <= 10000
                           THEN 1 ELSE 0 END AS g_bal,
                      CASE WHEN a.id % 7 = b.id % 7 THEN 1 ELSE 0 END
                        AS g_key
               FROM c a JOIN c b ON a.nat = b.nat AND a.id < b.id),
     scored AS (SELECT i, j,
                       (CASE WHEN g_seg = 1 THEN LN(0.9 / 0.2)
                             ELSE LN(0.1 / 0.8) END
                        + CASE WHEN g_bal = 1 THEN LN(0.8 / 0.1)
                               ELSE LN(0.2 / 0.9) END
                        + CASE WHEN g_key = 1 THEN LN(0.95 / 0.14)
                               ELSE LN(0.05 / 0.86) END) / LN(2)
                         AS w
                FROM pairs)
SELECT i, j, ROUND(w, 2) AS weight
FROM scored WHERE w > 2
ORDER BY i, j
""")

# Kaplan-Meier survival estimate of "time to first error" per user
# (users with no error are right-censored at their last event): the
# product-limit estimator as exp(sum(ln(1 - d/n))) over event times —
# the declarative spelling of the survival curve.
_q("q337_kaplan_meier",
   oracle="""
WITH life AS (SELECT user_id,
                     MIN(ts) AS t0,
                     MIN(CASE WHEN event_type = 'error' THEN ts END)
                       AS t_err,
                     MAX(ts) AS t_last
              FROM events GROUP BY user_id),
     obs AS (SELECT user_id,
                    CAST(CEIL((EPOCH(COALESCE(t_err, t_last))
                      - EPOCH(t0)) / 86400.0) AS BIGINT) AS t_days,
                    CASE WHEN t_err IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM life),
     by_t AS (SELECT t_days, CAST(SUM(ev) AS DOUBLE) AS d,
                     CAST(COUNT(*) AS DOUBLE) AS c
              FROM obs GROUP BY t_days),
     risk AS (SELECT t_days, d,
                     SUM(c) OVER (ORDER BY t_days DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
              FROM by_t),
     km AS (SELECT t_days, d, n_at_risk,
                   EXP(SUM(LN(GREATEST(1 - d / n_at_risk, 1e-300))) OVER
                       (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) AS s
            FROM risk WHERE d > 0)
SELECT CAST(t_days AS BIGINT) AS t_days,
       CAST(d AS BIGINT) AS d_events,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       ROUND(s, 4) AS survival
FROM km ORDER BY t_days
""",
   engine_sql="""
WITH life AS (SELECT user_id,
                     MIN(ts) AS t0,
                     MIN(CASE WHEN event_type = 'error' THEN ts END)
                       AS t_err,
                     MAX(ts) AS t_last
              FROM events GROUP BY user_id),
     obs AS (SELECT user_id,
                    CAST(CEIL((UNIX_MICROS(CAST(
                        COALESCE(t_err, t_last) AS TIMESTAMP))
                      - UNIX_MICROS(CAST(t0 AS TIMESTAMP)))
                      / 86400000000.0) AS BIGINT) AS t_days,
                    CASE WHEN t_err IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM life),
     by_t AS (SELECT t_days, CAST(SUM(ev) AS DOUBLE) AS d,
                     CAST(COUNT(*) AS DOUBLE) AS c
              FROM obs GROUP BY t_days),
     risk AS (SELECT t_days, d,
                     SUM(c) OVER (ORDER BY t_days DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
              FROM by_t),
     km AS (SELECT t_days, d, n_at_risk,
                   EXP(SUM(LN(GREATEST(1 - d / n_at_risk, 1e-300))) OVER
                       (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) AS s
            FROM risk WHERE d > 0)
SELECT CAST(t_days AS BIGINT) AS t_days,
       CAST(d AS BIGINT) AS d_events,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       ROUND(s, 4) AS survival
FROM km ORDER BY t_days
""")

# ------------------------------------------------- divergence /
# sampling / calibration batch (q338-q340).

# Jensen-Shannon divergence between the en/de token distributions —
# the symmetric, bounded corpus-drift measure (complements q294's
# per-token log-odds with one corpus-level number).
_q("q338_jensen_shannon",
   oracle="""
WITH tok AS (SELECT lang, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' ')) AS t
             FROM documents WHERE lang IN ('en', 'de')),
     c AS (SELECT t,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c1,
                  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c2
           FROM tok GROUP BY t),
     n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM c),
     p AS (SELECT c1 / n.n1 AS p, c2 / n.n2 AS q FROM c CROSS JOIN n),
     terms AS (SELECT
                 CASE WHEN p > 0 THEN p * LN(2 * p / (p + q)) ELSE 0 END
                   AS kp,
                 CASE WHEN q > 0 THEN q * LN(2 * q / (p + q)) ELSE 0 END
                   AS kq
               FROM p)
SELECT ROUND((SUM(kp) + SUM(kq)) / (2 * LN(2)), 3) AS js_bits
FROM terms
""",
   engine_sql="""
WITH tok AS (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS t
             FROM documents WHERE lang IN ('en', 'de')),
     c AS (SELECT t,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c1,
                  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS c2
           FROM tok GROUP BY t),
     n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM c),
     p AS (SELECT c1 / n.n1 AS p, c2 / n.n2 AS q FROM c CROSS JOIN n),
     terms AS (SELECT
                 CASE WHEN p > 0 THEN p * LN(2 * p / (p + q)) ELSE 0 END
                   AS kp,
                 CASE WHEN q > 0 THEN q * LN(2 * q / (p + q)) ELSE 0 END
                   AS kq
               FROM p)
SELECT ROUND((SUM(kp) + SUM(kq)) / (2 * LN(2)), 3) AS js_bits
FROM terms
""")

# Gumbel-max weighted sampling WITH replacement semantics (softmax
# draw): key = ln(w) - ln(-ln(u)) over the shared md5 uniform — the
# complement of q275's without-replacement A-Res; per-draw argmax is
# deterministic because both engines derive the same u. The uniform is
# (hash + 0.5) / 2^32 so u ∈ (0, 1) strictly: at u = 1 exactly,
# LN(-LN(u)) is -inf in DuckDB but NULL in Spark (divergent winners).
_q("q339_gumbel_topk",
   oracle="""
WITH d AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS draw),
     u AS (SELECT d.draw, o.o_orderkey,
                  CAST(o.o_totalprice AS DOUBLE) AS w,
                  (CAST(('0x' || SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)
                        || '#' || CAST(d.draw AS VARCHAR)), 1, 8))
                       AS UBIGINT) + 0.5) / 4294967296.0 AS un
           FROM orders o CROSS JOIN d
           WHERE o.o_orderkey <= 2000 AND o.o_totalprice > 0),
     k AS (SELECT draw, o_orderkey, w,
                  LN(w) - LN(-LN(un)) AS gkey
           FROM u),
     r AS (SELECT draw, o_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY draw
                                     ORDER BY gkey DESC, o_orderkey) AS rn
           FROM k)
SELECT draw, o_orderkey AS winner FROM r WHERE rn = 1 ORDER BY draw
""",
   engine_sql="""
WITH d AS (SELECT EXPLODE(SEQUENCE(0, 9)) AS draw),
     u AS (SELECT d.draw, o.o_orderkey,
                  CAST(o.o_totalprice AS DOUBLE) AS w,
                  (CAST(CONV(SUBSTRING(MD5(CONCAT(
                        CAST(o.o_orderkey AS STRING), '#',
                        CAST(d.draw AS STRING))), 1, 8), 16, 10)
                       AS DOUBLE) + 0.5) / 4294967296.0 AS un
           FROM orders o CROSS JOIN d
           WHERE o.o_orderkey <= 2000 AND o.o_totalprice > 0),
     k AS (SELECT draw, o_orderkey, w,
                  LN(w) - LN(-LN(un)) AS gkey
           FROM u),
     r AS (SELECT draw, o_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY draw
                                     ORDER BY gkey DESC, o_orderkey) AS rn
           FROM k)
SELECT draw, o_orderkey AS winner FROM r WHERE rn = 1 ORDER BY draw
""")

# Calibration / reliability bins: deterministic pseudo-scores vs
# realized outcomes, binned into deciles — avg predicted probability
# against observed rate per bin (the reliability-diagram table).
_q("q340_calibration_bins",
   oracle="""
WITH s AS (SELECT o_orderkey,
                  CAST(('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)),
                        1, 4)) AS UBIGINT) / 65536.0 AS score,
                  CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
           FROM orders),
     b AS (SELECT CAST(FLOOR(score * 10) AS BIGINT) AS bin, score, y
           FROM s)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(score), 4) AS avg_pred,
       ROUND(AVG(CAST(y AS DOUBLE)), 4) AS obs_rate
FROM b GROUP BY bin ORDER BY bin
""",
   engine_sql="""
WITH s AS (SELECT o_orderkey,
                  CAST(CONV(SUBSTRING(MD5(CAST(o_orderkey AS STRING)),
                       1, 4), 16, 10) AS DOUBLE) / 65536.0 AS score,
                  CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
           FROM orders),
     b AS (SELECT CAST(FLOOR(score * 10) AS BIGINT) AS bin, score, y
           FROM s)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(score), 4) AS avg_pred,
       ROUND(AVG(CAST(y AS DOUBLE)), 4) AS obs_rate
FROM b GROUP BY bin ORDER BY bin
""")

# ------------------------------------------------- seasonality / AB
# testing / gains batch (q341-q343).

# Weekday seasonality index: per-day-of-week mean deviation from the
# overall mean (additive seasonal effects). DOW origins differ between
# engines, so both sides pin ISO weekday via arithmetic from a known
# Monday epoch.
_q("q341_weekday_seasonality",
   oracle="""
WITH e AS (SELECT CAST(FLOOR((EPOCH(ts) / 86400 + 4) % 7) AS BIGINT)
             AS dow,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events),
     g AS (SELECT AVG(CAST(c AS DOUBLE)) AS mu FROM e)
SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(CAST(c AS DOUBLE)) / 100, 2) AS dow_mean,
       ROUND((AVG(CAST(c AS DOUBLE)) - g.mu) / 100, 2) AS seasonal_idx
FROM e CROSS JOIN g
GROUP BY dow, g.mu ORDER BY dow
""",
   engine_sql="""
WITH e AS (SELECT CAST(FLOOR((UNIX_SECONDS(CAST(ts AS TIMESTAMP))
                              / 86400 + 4) % 7) AS BIGINT) AS dow,
                  CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events),
     g AS (SELECT AVG(CAST(c AS DOUBLE)) AS mu FROM e)
SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(CAST(c AS DOUBLE)) / 100, 2) AS dow_mean,
       ROUND((AVG(CAST(c AS DOUBLE)) - g.mu) / 100, 2) AS seasonal_idx
FROM e CROSS JOIN g
GROUP BY dow, g.mu ORDER BY dow
""")

# Two-proportion z-test (A/B evaluation): high-value-order rate in
# URGENT vs LOW priority with the pooled-variance z statistic — the
# ship/no-ship arithmetic as one pass.
_q("q342_two_proportion_ztest", """
WITH g AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a'
                       ELSE 'b' END AS grp,
                  CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS y
           FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
     s AS (SELECT CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS na,
                  CAST(SUM(CASE WHEN grp = 'a' THEN y ELSE 0 END)
                       AS DOUBLE) AS xa,
                  CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS nb,
                  CAST(SUM(CASE WHEN grp = 'b' THEN y ELSE 0 END)
                       AS DOUBLE) AS xb
           FROM g)
SELECT ROUND(xa / na, 4) AS rate_a, ROUND(xb / nb, 4) AS rate_b,
       ROUND((xa / na - xb / nb)
             / SQRT(((xa + xb) / (na + nb))
                    * (1 - (xa + xb) / (na + nb))
                    * (1 / na + 1 / nb)), 3) AS z
FROM s
""")

# Cumulative gains per decile (model discrimination — complements
# q340's calibration): rank all rows by pseudo-score desc, report the
# cumulative share of positives captured by each decile.
_q("q343_cumulative_gains",
   oracle="""
WITH s AS (SELECT o_orderkey,
                  CAST(('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)),
                        1, 4)) AS UBIGINT) AS score,
                  CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
           FROM orders),
     r AS (SELECT y, NTILE(10) OVER (ORDER BY score DESC, o_orderkey)
             AS decile FROM s),
     d AS (SELECT decile, CAST(SUM(y) AS DOUBLE) AS pos,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM r GROUP BY decile),
     t AS (SELECT SUM(pos) AS tot FROM d)
SELECT CAST(decile AS BIGINT) AS decile, n,
       ROUND(SUM(pos) OVER (ORDER BY decile
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) / t.tot, 4) AS cum_capture
FROM d CROSS JOIN t ORDER BY decile
""",
   engine_sql="""
WITH s AS (SELECT o_orderkey,
                  CAST(CONV(SUBSTRING(MD5(CAST(o_orderkey AS STRING)),
                       1, 4), 16, 10) AS BIGINT) AS score,
                  CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
           FROM orders),
     r AS (SELECT y, NTILE(10) OVER (ORDER BY score DESC, o_orderkey)
             AS decile FROM s),
     d AS (SELECT decile, CAST(SUM(y) AS DOUBLE) AS pos,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM r GROUP BY decile),
     t AS (SELECT SUM(pos) AS tot FROM d)
SELECT CAST(decile AS BIGINT) AS decile, n,
       ROUND(SUM(pos) OVER (ORDER BY decile
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) / t.tot, 4) AS cum_capture
FROM d CROSS JOIN t ORDER BY decile
""")

# ------------------------------------------------- histogram overlap /
# dwell times (q344-q345).

# Histogram intersection between the en/de doc-length distributions:
# 20 equal-width bins, similarity = sum of min(p, q) — the cheap
# distribution-overlap score (1 = identical, 0 = disjoint).
_q("q344_histogram_intersection", """
WITH b AS (SELECT lang,
                  CAST(LEAST(FLOOR(n_chars / 25.0), 19) AS BIGINT) AS bin
           FROM documents WHERE lang IN ('en', 'de')),
     c AS (SELECT bin,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS ce,
                  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS cd
           FROM b GROUP BY bin),
     n AS (SELECT SUM(ce) AS ne, SUM(cd) AS nd FROM c)
SELECT ROUND(SUM(LEAST(c.ce / n.ne, c.cd / n.nd)), 4) AS overlap,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM c CROSS JOIN n
""")

# Time-in-state: total dwell seconds per (user, event_type), where a
# state lasts until the user's next event — the telemetry "how long in
# each mode" rollup (q223's span machinery aggregated by state).
_q("q345_time_in_state",
   oracle="""
WITH x AS (SELECT user_id, event_type,
                  EPOCH(ts) AS t0,
                  EPOCH(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) AS t1
           FROM events)
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CAST(ROUND((t1 - t0) * 1000000) AS BIGINT)) AS BIGINT)
         AS dwell_micros
FROM x WHERE t1 IS NOT NULL
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""",
   engine_sql="""
WITH x AS (SELECT user_id, event_type,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 1e6 AS t0,
                  UNIX_MICROS(CAST(LEAD(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
                              AS TIMESTAMP)) / 1e6 AS t1
           FROM events)
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CAST(ROUND((t1 - t0) * 1000000) AS BIGINT)) AS BIGINT)
         AS dwell_micros
FROM x WHERE t1 IS NOT NULL
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""")

# ------------------------------------------------- proportion
# inference / behavioral similarity (q346-q348).

# Wilson score interval for per-priority high-value rates — the
# small-n-safe proportion CI (normal-approximation intervals misbehave
# near 0/1); z = 1.96 fixed.
_q("q346_wilson_interval", """
WITH s AS (SELECT o_orderpriority AS p,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CASE WHEN o_totalprice > 300000
                                THEN 1 ELSE 0 END) AS DOUBLE) AS x
           FROM orders GROUP BY o_orderpriority)
SELECT p, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       ROUND(x / n, 4) AS rate,
       ROUND((x / n + 1.96 * 1.96 / (2 * n)
              - 1.96 * SQRT((x / n) * (1 - x / n) / n
                            + 1.96 * 1.96 / (4 * n * n)))
             / (1 + 1.96 * 1.96 / n), 4) AS wilson_lo,
       ROUND((x / n + 1.96 * 1.96 / (2 * n)
              + 1.96 * SQRT((x / n) * (1 - x / n) / n
                            + 1.96 * 1.96 / (4 * n * n)))
             / (1 + 1.96 * 1.96 / n), 4) AS wilson_hi
FROM s ORDER BY p
""")

# Empirical-Bayes rate shrinkage: per-customer return rates pulled
# toward the corpus prior Beta(a,b) fit by moments — small-sample
# customers shrink hard, heavy customers keep their rate (the
# smoothed-rate ranking every leaderboard needs).
_q("q347_eb_rate_shrinkage", """
WITH per AS (SELECT o_custkey,
                    CAST(COUNT(*) AS DOUBLE) AS n,
                    CAST(SUM(CASE WHEN o_orderstatus = 'F'
                                  THEN 1 ELSE 0 END) AS DOUBLE) AS x
             FROM orders GROUP BY o_custkey),
     prior AS (SELECT AVG(x / n) AS mu,
                      VAR_SAMP(x / n) AS v
               FROM per WHERE n >= 3),
     ab AS (SELECT mu, GREATEST(v, 1e-6) AS v,
                   mu * (mu * (1 - mu) / GREATEST(v, 1e-6) - 1) AS a,
                   (1 - mu) * (mu * (1 - mu) / GREATEST(v, 1e-6) - 1) AS b
            FROM prior)
SELECT per.o_custkey,
       CAST(per.n AS BIGINT) AS n,
       ROUND(per.x / per.n, 4) AS raw_rate,
       ROUND((per.x + ab.a) / (per.n + ab.a + ab.b), 4) AS shrunk_rate
FROM per CROSS JOIN ab
ORDER BY per.o_custkey
""")

# Behavioral similarity via edit distance over event-path strings
# (bounded block): users whose ordered action sequences nearly match —
# q279's record-linkage machinery applied to sequences.
_q("q348_path_edit_distance",
   oracle="""
WITH p AS (SELECT user_id,
                  STRING_AGG(SUBSTRING(event_type, 1, 1), ''
                             ORDER BY ts, event_id) AS path
           FROM events WHERE user_id <= 60 GROUP BY user_id)
SELECT a.user_id AS i, b.user_id AS j,
       CAST(LEVENSHTEIN(a.path, b.path) AS BIGINT) AS dist
FROM p a JOIN p b ON a.user_id < b.user_id
WHERE LEVENSHTEIN(a.path, b.path) <= 40
ORDER BY i, j
""",
   engine_sql="""
WITH p AS (SELECT user_id,
                  ARRAY_JOIN(TRANSFORM(
                    ARRAY_SORT(COLLECT_LIST(STRUCT(ts, event_id,
                      SUBSTRING(event_type, 1, 1) AS c))),
                    x -> x.c), '') AS path
           FROM events WHERE user_id <= 60 GROUP BY user_id)
SELECT a.user_id AS i, b.user_id AS j,
       CAST(LEVENSHTEIN(a.path, b.path) AS BIGINT) AS dist
FROM p a JOIN p b ON a.user_id < b.user_id
WHERE LEVENSHTEIN(a.path, b.path) <= 40
ORDER BY i, j
""")

# ------------------------------------------------- ops audit batch
# (q349-q350).

# Backlog aging report: open orders bucketed by days outstanding
# relative to the corpus max date — the operations staple.
_q("q349_backlog_aging",
   oracle="""
WITH mx AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
     open_o AS (SELECT DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                CAST(mx.d0 AS DATE)) AS age
                FROM orders o CROSS JOIN mx
                WHERE o.o_orderstatus = 'O')
SELECT CASE WHEN age <= 30 THEN '0-30'
            WHEN age <= 90 THEN '31-90'
            WHEN age <= 365 THEN '91-365'
            ELSE '365+' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM open_o GROUP BY 1 ORDER BY bucket
""",
   engine_sql="""
WITH mx AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
     open_o AS (SELECT DATEDIFF(CAST(mx.d0 AS DATE),
                                CAST(o.o_orderdate AS DATE)) AS age
                FROM orders o CROSS JOIN mx
                WHERE o.o_orderstatus = 'O')
SELECT CASE WHEN age <= 30 THEN '0-30'
            WHEN age <= 90 THEN '31-90'
            WHEN age <= 365 THEN '91-365'
            ELSE '365+' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM open_o GROUP BY 1 ORDER BY bucket
""")

# Duplicate-transaction audit: same customer, same amount (to the
# cent), order dates within 7 days — the double-charge detector; the
# band self-join never goes n² (equi on custkey+amount first).
_q("q350_duplicate_payment_audit",
   oracle="""
WITH o AS (SELECT o_orderkey, o_custkey,
                  CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS band,
                  CAST(o_orderdate AS DATE) AS d
           FROM orders)
SELECT a.o_orderkey AS k1, b.o_orderkey AS k2, a.o_custkey,
       a.band,
       CAST(DATEDIFF('day', a.d, b.d) AS BIGINT) AS gap_days
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band
 AND a.o_orderkey < b.o_orderkey
 AND DATEDIFF('day', a.d, b.d) BETWEEN -365 AND 365
ORDER BY k1, k2
""",
   engine_sql="""
WITH o AS (SELECT o_orderkey, o_custkey,
                  CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS band,
                  CAST(o_orderdate AS DATE) AS d
           FROM orders)
SELECT a.o_orderkey AS k1, b.o_orderkey AS k2, a.o_custkey,
       a.band,
       CAST(DATEDIFF(b.d, a.d) AS BIGINT) AS gap_days
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band
 AND a.o_orderkey < b.o_orderkey
 AND DATEDIFF(b.d, a.d) BETWEEN -365 AND 365
ORDER BY k1, k2
""")

# ------------------------------------------------- classification /
# signal batch (q351-q352).

# ABC inventory classification: parts classed A/B/C by cumulative
# revenue share (80/95 cuts) — q332's Pareto arithmetic emitted as a
# per-item label, the form downstream procurement joins against.
_q("q351_abc_classification", """
WITH r AS (SELECT l_partkey,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS cents
           FROM lineitem WHERE l_partkey <= 2000
           GROUP BY l_partkey),
     w AS (SELECT l_partkey, cents,
                  SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run,
                  SUM(cents) OVER () AS tot
           FROM r)
SELECT l_partkey,
       CASE WHEN run * 100 <= tot * 80 THEN 'A'
            WHEN run * 100 <= tot * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM w ORDER BY l_partkey
""")

# Local-maximum peak detection per user series (strictly above both
# neighbors) — the LAG/LEAD signal primitive under alerting and
# changepoint heuristics.
_q("q352_peak_detection",
   oracle="""
WITH s AS (SELECT user_id, event_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  EPOCH(ts) AS sec
           FROM events),
     w AS (SELECT *,
                  LAG(c) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id) AS pc,
                  LEAD(c) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS nc
           FROM s)
SELECT user_id, event_id, CAST(c AS DOUBLE) / 100 AS v
FROM w WHERE pc IS NOT NULL AND nc IS NOT NULL AND c > pc AND c > nc
ORDER BY user_id, event_id
""",
   engine_sql="""
WITH s AS (SELECT user_id, event_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS sec
           FROM events),
     w AS (SELECT *,
                  LAG(c) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id) AS pc,
                  LEAD(c) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS nc
           FROM s)
SELECT user_id, event_id, CAST(c AS DOUBLE) / 100 AS v
FROM w WHERE pc IS NOT NULL AND nc IS NOT NULL AND c > pc AND c > nc
ORDER BY user_id, event_id
""")

# ------------------------------------------------- changepoint /
# causal batch (q353-q354).

# Single changepoint per user by variance reduction: candidate split k
# scores SSE_left(k)+SSE_right(k) from prefix sums of x and x² (an
# O(n) window formulation — no nested scans), best split by max
# reduction with an index tiebreak. Integer cents keep the moments
# exact; the final score division is one double op.
_q("q353_changepoint_detection",
   oracle="""
WITH s AS (SELECT user_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY EPOCH(ts), event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM events),
     pre AS (SELECT *,
                    SUM(c) OVER (PARTITION BY user_id ORDER BY rn) AS sx,
                    SUM(c * c) OVER (PARTITION BY user_id
                                     ORDER BY rn) AS sxx,
                    SUM(c) OVER (PARTITION BY user_id) AS tx,
                    SUM(c * c) OVER (PARTITION BY user_id) AS txx
             FROM s),
     scored AS (SELECT user_id, rn AS k, n,
                       (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                          * sx / rn)
                       + (CAST(txx - sxx AS DOUBLE)
                          - CAST(tx - sx AS DOUBLE) * (tx - sx)
                            / (n - rn)) AS split_sse,
                       CAST(txx AS DOUBLE)
                         - CAST(tx AS DOUBLE) * tx / n AS total_sse
                FROM pre WHERE rn < n AND rn >= 2 AND n - rn >= 2),
     best AS (SELECT user_id, k, total_sse - split_sse AS gain,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY total_sse - split_sse
                                          DESC, k) AS r
              FROM scored)
SELECT user_id, CAST(k AS BIGINT) AS split_at,
       ROUND(gain / 10000, 1) AS gain_dollars_sq
FROM best WHERE r = 1 ORDER BY user_id
""",
   engine_sql="""
WITH s AS (SELECT user_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY UNIX_MICROS(CAST(ts AS
                                       TIMESTAMP)), event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM events),
     pre AS (SELECT *,
                    SUM(c) OVER (PARTITION BY user_id ORDER BY rn) AS sx,
                    SUM(c * c) OVER (PARTITION BY user_id
                                     ORDER BY rn) AS sxx,
                    SUM(c) OVER (PARTITION BY user_id) AS tx,
                    SUM(c * c) OVER (PARTITION BY user_id) AS txx
             FROM s),
     scored AS (SELECT user_id, rn AS k, n,
                       (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                          * sx / rn)
                       + (CAST(txx - sxx AS DOUBLE)
                          - CAST(tx - sx AS DOUBLE) * (tx - sx)
                            / (n - rn)) AS split_sse,
                       CAST(txx AS DOUBLE)
                         - CAST(tx AS DOUBLE) * tx / n AS total_sse
                FROM pre WHERE rn < n AND rn >= 2 AND n - rn >= 2),
     best AS (SELECT user_id, k, total_sse - split_sse AS gain,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY total_sse - split_sse
                                          DESC, k) AS r
              FROM scored)
SELECT user_id, CAST(k AS BIGINT) AS split_at,
       ROUND(gain / 10000, 1) AS gain_dollars_sq
FROM best WHERE r = 1 ORDER BY user_id
""")

# Difference-in-differences: treatment = URGENT priority, before/after
# the corpus median date — the four cell means and the DiD estimate in
# one pass (the causal-inference primitive over observational rollups).
_q("q354_diff_in_diff", """
WITH med AS (SELECT CAST('1998-01-01' AS DATE) AS cutoff),
     cells AS (SELECT
                 CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 'treat' ELSE 'ctrl' END AS grp,
                 CASE WHEN CAST(o_orderdate AS DATE) >= med.cutoff
                      THEN 'post' ELSE 'pre' END AS period,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders CROSS JOIN med
               WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
     m AS (SELECT grp, period, AVG(CAST(cents AS DOUBLE)) / 100 AS mu
           FROM cells GROUP BY grp, period)
SELECT ROUND(tp.mu, 2) AS treat_post, ROUND(tr.mu, 2) AS treat_pre,
       ROUND(cp.mu, 2) AS ctrl_post, ROUND(cr.mu, 2) AS ctrl_pre,
       ROUND((tp.mu - tr.mu) - (cp.mu - cr.mu), 2) AS did
FROM (SELECT mu FROM m WHERE grp = 'treat' AND period = 'post') tp
CROSS JOIN (SELECT mu FROM m WHERE grp = 'treat' AND period = 'pre') tr
CROSS JOIN (SELECT mu FROM m WHERE grp = 'ctrl' AND period = 'post') cp
CROSS JOIN (SELECT mu FROM m WHERE grp = 'ctrl' AND period = 'pre') cr
""")


# ExactSubstr dedup (Lee et al. 2022): maximal cross-doc duplicated
# spans + per-doc duplicated-char accounting. No portable-SQL oracle
# exists (rolling-hash anchors + extension aren't expressible in
# DuckDB SQL) → rows-only here; exactness is golden-tested against a
# pure-Python suffix-array/DP reference (tests/test_substring_dedup.py).
def _q355_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.operators.substring_dedup import duplicate_substring_spans
    docs = spark.table("documents").select("doc_id", "text")
    return duplicate_substring_spans(docs, min_len=60)


_q("q355_exact_substring_spans", oracle=None, builder=_q355_builder)


def _q356_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.operators.substring_dedup import duplicated_char_stats
    docs = spark.table("documents").select("doc_id", "text")
    return duplicated_char_stats(docs, min_len=60)


_q("q356_substring_dup_stats", oracle=None, builder=_q356_builder)


# ------------------------------------------------------- batch r4.1:
# training-data packing/ordering, classical test statistics, drift and
# drawdown series ops, lexical-diversity metrics, graph link prediction.

# Length-bucketed batch packing: the padding-efficiency primitive for
# transformer training (bucket docs by token length, pad to the bucket
# max, account the waste). Pure keyed agg — no global sort.
_q("q357_length_bucket_packing",
   oracle="""
WITH t AS (SELECT doc_id, LEN(STRING_SPLIT(text,' ')) AS ntok FROM documents)
SELECT CAST(FLOOR(ntok / 16) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(ntok) AS BIGINT) AS pad_to,
       CAST(SUM(ntok) AS BIGINT) AS toks,
       ROUND(1.0 - SUM(ntok) / CAST(COUNT(*) * MAX(ntok) AS DOUBLE), 4)
         AS pad_waste
FROM t GROUP BY bucket ORDER BY bucket
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SIZE(SPLIT(text,' ')) AS ntok FROM documents)
SELECT CAST(FLOOR(ntok / 16) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(ntok) AS BIGINT) AS pad_to,
       CAST(SUM(ntok) AS BIGINT) AS toks,
       ROUND(1.0 - SUM(ntok) / CAST(COUNT(*) * MAX(ntok) AS DOUBLE), 4)
         AS pad_waste
FROM t GROUP BY bucket ORDER BY bucket
""")

# Curriculum ordering: per-language quartile phases by a difficulty
# proxy (mean word length), NTILE partitioned by lang — never a global
# window.
_q("q358_curriculum_order",
   oracle="""
WITH s AS (SELECT doc_id, lang,
                  LENGTH(text) / CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE)
                    AS mwl
           FROM documents)
SELECT doc_id, lang,
       CAST(NTILE(4) OVER (PARTITION BY lang ORDER BY mwl, doc_id)
            AS BIGINT) AS phase
FROM s ORDER BY lang, phase, doc_id
""",
   engine_sql="""
WITH s AS (SELECT doc_id, lang,
                  LENGTH(text) / CAST(SIZE(SPLIT(text,' ')) AS DOUBLE) AS mwl
           FROM documents)
SELECT doc_id, lang,
       CAST(NTILE(4) OVER (PARTITION BY lang ORDER BY mwl, doc_id)
            AS BIGINT) AS phase
FROM s ORDER BY lang, phase, doc_id
""")


def _q359_builder(spark: SparkSession) -> DataFrame:
    # The full Lee et al. dedup recipe as ONE lazy pipeline: exact
    # content-fingerprint dedup -> MinHash-LSH near-dup keepers ->
    # ExactSubstr duplicated-char accounting on the survivors. Every
    # stage is a keyed shuffle (no n², no collect); rows-only (the
    # approximate tiers can't hash-match an oracle).
    from shredder_spark.functions.text import doc_fingerprint
    from shredder_spark.operators.dedup import dedupe_keepers
    from shredder_spark.operators.substring_dedup import duplicated_char_stats

    docs = spark.table("documents").select("doc_id", "text")
    exact = (docs.withColumn("_fp", doc_fingerprint(F.col("text")))
             .withColumn("_keep", F.min("doc_id").over(
                 Window.partitionBy("_fp")))
             .filter(F.col("doc_id") == F.col("_keep"))
             .drop("_fp", "_keep"))
    kept = dedupe_keepers(exact, "doc_id", "text", threshold=0.8)
    stats = duplicated_char_stats(kept, min_len=60)
    return (kept.join(stats, "doc_id", "left")
            .agg(F.count("*").cast("long").alias("survivors"),
                 F.sum(F.coalesce(F.col("dup_chars"), F.lit(0)))
                  .cast("long").alias("residual_dup_chars")))


_q("q359_full_dedup_pipeline", oracle=None, builder=_q359_builder)

# Sorted-neighborhood blocking (Hernández & Stolfo 1995): order
# records inside each block (mktsegment) by the sort key, compare each
# record only to its w=2 successors — the classic O(n·w) entity-
# resolution candidate generator (vs the O(n²) naive pass).
# Engine plan: the window-1/window-2 neighbors ARE LEAD(1)/LEAD(2) —
# two linear window passes instead of the segment self-join, whose
# band predicate is a post-filter over |segment|^2 pairs (profiled at
# 69 s on sf1's 150k customers; the LEAD plan is ~1 s and stays linear
# at any scale). The oracle keeps the textbook banded-join form.
_q("q360_sorted_neighborhood",
   oracle="""
WITH r AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal, c_custkey) AS rn
           FROM customer)
SELECT a.c_custkey AS i, b.c_custkey AS j,
       ROUND(b.c_acctbal - a.c_acctbal, 2) AS bal_gap
FROM r a JOIN r b
  ON a.c_mktsegment = b.c_mktsegment AND b.rn - a.rn BETWEEN 1 AND 2
WHERE b.c_acctbal - a.c_acctbal <= 50.0
ORDER BY i, j
""",
   engine_sql="""
WITH r AS (SELECT c_custkey, c_acctbal,
                  LEAD(c_custkey, 1) OVER w AS j1,
                  LEAD(c_acctbal, 1) OVER w AS b1,
                  LEAD(c_custkey, 2) OVER w AS j2,
                  LEAD(c_acctbal, 2) OVER w AS b2
           FROM customer
           WINDOW w AS (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey)),
     p AS (SELECT c_custkey AS i, j1 AS j, b1 - c_acctbal AS gap FROM r
           UNION ALL
           SELECT c_custkey AS i, j2 AS j, b2 - c_acctbal AS gap FROM r)
SELECT i, j, ROUND(gap, 2) AS bal_gap
FROM p WHERE j IS NOT NULL AND gap <= 50.0
ORDER BY i, j
""")

# Spearman rank correlation, exact: fractional (average) ranks for
# ties via RANK + per-value group size, then plain CORR of the ranks.
# Windows partitioned by returnflag — same honest 3-partition caveat
# as Q21.
_q("q361_spearman_corr", """
WITH r AS (SELECT l_returnflag,
                  CAST(RANK() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_quantity) AS DOUBLE)
                  + (CAST(COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                          AS DOUBLE) - 1) / 2 AS rq,
                  CAST(RANK() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) AS DOUBLE)
                  + (CAST(COUNT(*) OVER (PARTITION BY l_returnflag,
                                         l_extendedprice)
                          AS DOUBLE) - 1) / 2 AS rp
           FROM lineitem)
SELECT l_returnflag, ROUND(CORR(rq, rp), 4) AS spearman
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Kendall tau-a per user over the (time order, value order) pair —
# the pairwise pass stays inside a user_id block (bounded), never n²
# across the table.
_q("q362_kendall_tau", """
WITH e AS (SELECT user_id, event_id, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
     p AS (SELECT a.user_id, SIGN(b.value - a.value) AS s
           FROM e a JOIN e b
             ON a.user_id = b.user_id AND b.rn > a.rn)
SELECT user_id, ROUND(SUM(s) / CAST(COUNT(*) AS DOUBLE), 4) AS tau
FROM p GROUP BY user_id HAVING COUNT(*) >= 10 ORDER BY user_id
""")

# Cramér's V from the full priority × status contingency grid
# (absent cells included, as in the chi-square query B304).
_q("q363_cramers_v", """
WITH obs AS (SELECT o_orderpriority AS p, o_orderstatus AS s,
                    CAST(COUNT(*) AS DOUBLE) AS n
             FROM orders GROUP BY p, s),
     rs AS (SELECT p, SUM(n) AS np FROM obs GROUP BY p),
     cs AS (SELECT s, SUM(n) AS ns FROM obs GROUP BY s),
     tt AS (SELECT SUM(n) AS t FROM obs),
     grid AS (SELECT r.p, c.s, r.np, c.ns, tt.t, COALESCE(o.n, 0) AS n
              FROM rs r CROSS JOIN cs c CROSS JOIN tt
              LEFT JOIN obs o ON o.p = r.p AND o.s = c.s),
     chi AS (SELECT SUM(POWER(n - np * ns / t, 2) / (np * ns / t)) AS chi2,
                    MAX(t) AS t,
                    COUNT(DISTINCT p) AS nr, COUNT(DISTINCT s) AS nc
             FROM grid)
SELECT ROUND(chi2, 2) AS chi2,
       ROUND(SQRT(chi2 / (t * (LEAST(nr, nc) - 1))), 4) AS cramers_v
FROM chi
""")

# One-way ANOVA F statistic across order priorities (between/within
# decomposition from per-group moments — one pass, no window).
_q("q364_anova_f", """
WITH g AS (SELECT o_orderpriority AS p, CAST(COUNT(*) AS DOUBLE) AS n,
                  AVG(o_totalprice) AS m,
                  SUM(o_totalprice * o_totalprice) AS ss
           FROM orders GROUP BY p),
     t AS (SELECT SUM(n) AS n, SUM(m * n) / SUM(n) AS gm,
                  COUNT(*) AS k FROM g),
     d AS (SELECT SUM(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
                  SUM(g.ss - g.n * g.m * g.m) AS ssw,
                  MAX(t.n) AS n, MAX(t.k) AS k
           FROM g CROSS JOIN t)
SELECT ROUND(ssb / (k - 1), 2) AS ms_between,
       ROUND(ssw / (n - k), 2) AS ms_within,
       ROUND((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat
FROM d
""")

# Welch's unequal-variance two-sample t: URGENT vs LOW order values,
# with the Welch–Satterthwaite degrees of freedom.
_q("q365_welch_t_test", """
WITH s AS (SELECT o_orderpriority AS p, CAST(COUNT(*) AS DOUBLE) AS n,
                  AVG(o_totalprice) AS m, VAR_SAMP(o_totalprice) AS v
           FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY p),
     w AS (SELECT a.m - b.m AS dm, a.v / a.n AS va, b.v / b.n AS vb
           FROM (SELECT * FROM s WHERE p = '1-URGENT') a
           CROSS JOIN (SELECT * FROM s WHERE p = '5-LOW') b),
     s2 AS (SELECT a.n AS na, b.n AS nb
            FROM (SELECT * FROM s WHERE p = '1-URGENT') a
            CROSS JOIN (SELECT * FROM s WHERE p = '5-LOW') b)
SELECT ROUND(w.dm / SQRT(w.va + w.vb), 4) AS t_stat,
       ROUND(POWER(w.va + w.vb, 2)
             / (POWER(w.va, 2) / (s2.na - 1)
                + POWER(w.vb, 2) / (s2.nb - 1)), 1) AS df
FROM w CROSS JOIN s2
""")

# CUSUM drift monitor: per-user cumulative deviation from the global
# mean (running sum partitioned by user — order unique on ts,event_id
# so the float fold is bit-identical across engines), max excursions.
_q("q366_cusum_drift", """
WITH m AS (SELECT AVG(value) AS mu FROM events),
     c AS (SELECT user_id,
                  SUM(value - mu) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS cs
           FROM events CROSS JOIN m)
SELECT user_id, ROUND(MAX(cs), 2) AS max_up, ROUND(MIN(cs), 2) AS max_dn
FROM c GROUP BY user_id ORDER BY user_id
""")

# Max drawdown of a per-user running balance (purchases credit,
# errors debit): running peak minus current, the high-water-mark
# primitive. Both windows partitioned by user.
_q("q367_max_drawdown", """
WITH f AS (SELECT user_id, ts, event_id,
                  CASE WHEN event_type = 'purchase' THEN value
                       WHEN event_type = 'error' THEN -value
                       ELSE 0.0 END AS flow
           FROM events),
     c AS (SELECT user_id,
                  SUM(flow) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS bal
           FROM f),
     d AS (SELECT user_id, bal,
                  MAX(bal) OVER (PARTITION BY user_id
                                 ORDER BY bal ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS peak
           FROM c)
SELECT user_id, ROUND(MAX(peak - bal), 2) AS max_drawdown
FROM d GROUP BY user_id ORDER BY user_id
""")

# Lexical diversity per language: type-token ratio and hapax fraction
# from one explode + two keyed aggs.
_q("q368_ttr_hapax",
   oracle="""
WITH tok AS (SELECT lang, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     c AS (SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok)
SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(COUNT(*) / CAST(SUM(n) AS DOUBLE), 4) AS ttr,
       ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_frac
FROM c GROUP BY lang ORDER BY lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     c AS (SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok)
SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(COUNT(*) / CAST(SUM(n) AS DOUBLE), 4) AS ttr,
       ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_frac
FROM c GROUP BY lang ORDER BY lang
""")

# Zipf slope per language: ln(freq) ~ ln(rank) over the top-50 terms,
# REGR_SLOPE. The rank window partitions by lang and runs over the
# distinct vocabulary (dimension-sized), never the corpus.
_q("q369_zipf_slope",
   oracle="""
WITH tok AS (SELECT lang, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     c AS (SELECT lang, tok, CAST(COUNT(*) AS DOUBLE) AS n
           FROM tok GROUP BY lang, tok),
     r AS (SELECT lang, n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, tok) AS rk
           FROM c)
SELECT lang, ROUND(REGR_SLOPE(LN(n), LN(CAST(rk AS DOUBLE))), 4)
         AS zipf_slope
FROM r WHERE rk <= 50 GROUP BY lang ORDER BY lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     c AS (SELECT lang, tok, CAST(COUNT(*) AS DOUBLE) AS n
           FROM tok GROUP BY lang, tok),
     r AS (SELECT lang, n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, tok) AS rk
           FROM c)
SELECT lang, ROUND(REGR_SLOPE(LN(n), LN(CAST(rk AS DOUBLE))), 4)
         AS zipf_slope
FROM r WHERE rk <= 50 GROUP BY lang ORDER BY lang
""")

# Degree distribution of the bounded co-purchase graph (same
# l_orderkey < 5000 block as the triangle-counting query B313).
_q("q370_degree_distribution", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 5000),
     e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
     deg AS (SELECT u AS node, COUNT(*) AS d
             FROM (SELECT u FROM e UNION ALL SELECT v FROM e) all_e
             GROUP BY u)
SELECT CAST(d AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY d ORDER BY degree
""")

# Adamic–Adar link prediction on the same bounded co-purchase graph:
# score candidate pairs by Σ 1/ln(deg(z)) over common neighbors z —
# the inverse-log-degree weighting of common-neighbor counting.
_q("q371_adamic_adar", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 5000),
     e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
     e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
     deg AS (SELECT u AS node, CAST(COUNT(*) AS DOUBLE) AS d
             FROM e GROUP BY u),
     cn AS (SELECT a.u AS i, b.u AS j, a.v AS z
            FROM e a JOIN e b ON a.v = b.v AND a.u < b.u),
     sc AS (SELECT cn.i, cn.j, SUM(1.0 / LN(deg.d)) AS aa
            FROM cn JOIN deg ON deg.node = cn.z
            WHERE deg.d > 1 GROUP BY cn.i, cn.j)
SELECT i, j, ROUND(aa, 4) AS aa_score
FROM sc ORDER BY aa DESC, i, j LIMIT 25
""")


# ------------------------------------------------------- batch r4.2:
# readability, concordance, mixture temperature, demand classes,
# returns/volatility, RSI, business days, systematic sampling.

# Flesch-style readability from deterministic proxies: syllables =
# vowel groups (regexp), sentences = ceil(words/15) (the corpus has
# no sentence punctuation — documented proxy, same on both sides).
_q("q372_readability",
   oracle="""
WITH t AS (SELECT doc_id,
                  CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) AS words,
                  CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),'[aeiou]+'))
                       AS DOUBLE) AS syll
           FROM documents WHERE doc_id < 100)
SELECT doc_id,
       ROUND(206.835 - 1.015 * (words / CEIL(words / 15))
             - 84.6 * (syll / words), 2) AS flesch
FROM t ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id,
                  CAST(SIZE(SPLIT(text,' ')) AS DOUBLE) AS words,
                  CAST(SIZE(REGEXP_EXTRACT_ALL(LOWER(text),'[aeiou]+',0))
                       AS DOUBLE) AS syll
           FROM documents WHERE doc_id < 100)
SELECT doc_id,
       ROUND(206.835 - 1.015 * (words / CEIL(words / 15))
             - 84.6 * (syll / words), 2) AS flesch
FROM t ORDER BY doc_id
""")

# KWIC concordance: every occurrence of the term with ±2 tokens of
# context, via position explode + array slice (no string re-scans).
_q("q373_kwic_concordance",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS toks
           FROM documents WHERE doc_id < 50),
     p AS (SELECT doc_id, toks,
                  UNNEST(GENERATE_SERIES(1, LEN(toks))) AS pos
           FROM t)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       ARRAY_TO_STRING(toks[GREATEST(pos - 2, 1):LEAST(pos + 2, LEN(toks))],
                       ' ') AS kwic
FROM p WHERE toks[pos] = 'spark'
ORDER BY doc_id, pos
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text,' ') AS toks
           FROM documents WHERE doc_id < 50),
     p AS (SELECT doc_id, toks, pos0 + 1 AS pos
           FROM t LATERAL VIEW POSEXPLODE(toks) x AS pos0, tok)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       ARRAY_JOIN(SLICE(toks, GREATEST(pos - 2, 1),
                        LEAST(pos + 2, SIZE(toks))
                          - GREATEST(pos - 2, 1) + 1), ' ') AS kwic
FROM p WHERE ELEMENT_AT(toks, pos) = 'spark'
ORDER BY doc_id, pos
""")

# Temperature-scaled mixture weights (the multilingual-sampling
# p^alpha renormalization, alpha=0.7): expected docs per language for
# a 10k-doc budget.
_q("q374_temperature_mixture", """
WITH c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents
           GROUP BY lang),
     t AS (SELECT SUM(n) AS tot FROM c),
     p AS (SELECT lang, POWER(n / tot, 0.7) AS pa FROM c CROSS JOIN t),
     z AS (SELECT SUM(pa) AS zsum FROM p)
SELECT lang, ROUND(pa / zsum, 4) AS w,
       CAST(ROUND(10000 * pa / zsum) AS BIGINT) AS budget_docs
FROM p CROSS JOIN z ORDER BY lang
""")

# XYZ demand-variability classification: coefficient of variation of
# monthly shipped quantity per part (X stable / Y variable / Z
# erratic at the classic 0.5 / 1.0 cuts).
_q("q375_xyz_classification", """
WITH m AS (SELECT l_partkey, DATE_TRUNC('month', CAST(l_shipdate AS DATE))
                    AS mon, SUM(l_quantity) AS q
           FROM lineitem WHERE l_partkey < 200 GROUP BY l_partkey, mon),
     s AS (SELECT l_partkey, AVG(q) AS mu, STDDEV_SAMP(q) AS sd,
                  COUNT(*) AS n
           FROM m GROUP BY l_partkey HAVING COUNT(*) >= 3)
SELECT l_partkey, ROUND(sd / mu, 4) AS cv,
       CASE WHEN sd / mu < 0.5 THEN 'X'
            WHEN sd / mu < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
FROM s ORDER BY l_partkey
""")

# Log-return volatility per part: daily mean price series, LAG ratio,
# stddev of ln returns — all windows partitioned by part.
_q("q376_return_volatility", """
WITH d AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                  AVG(l_extendedprice / NULLIF(l_quantity, 0)) AS px
           FROM lineitem WHERE l_partkey < 100
           GROUP BY l_partkey, day),
     d2 AS (SELECT l_partkey, px,
                   LAG(px) OVER (PARTITION BY l_partkey
                                 ORDER BY day) AS ppx
            FROM d),
     r AS (SELECT l_partkey,
                  CASE WHEN px > 0 AND ppx > 0 THEN LN(px / ppx) END AS lr
           FROM d2)
SELECT l_partkey, CAST(COUNT(lr) AS BIGINT) AS n_returns,
       ROUND(STDDEV_SAMP(lr), 4) AS vol
FROM r GROUP BY l_partkey HAVING COUNT(lr) >= 5 ORDER BY l_partkey
""")

# RSI-14 (SMA variant): rolling mean gain / mean loss over the last
# 14 daily moves, partitioned by part.
_q("q377_rsi", """
WITH d AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                  AVG(l_extendedprice / NULLIF(l_quantity, 0)) AS px
           FROM lineitem WHERE l_partkey < 20 GROUP BY l_partkey, day),
     mv AS (SELECT l_partkey, day,
                   px - LAG(px) OVER (PARTITION BY l_partkey ORDER BY day)
                     AS chg
            FROM d),
     g AS (SELECT l_partkey, day,
                  AVG(CASE WHEN chg > 0 THEN chg ELSE 0 END)
                    OVER (PARTITION BY l_partkey ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
                  AVG(CASE WHEN chg < 0 THEN -chg ELSE 0 END)
                    OVER (PARTITION BY l_partkey ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al,
                  COUNT(chg) OVER (PARTITION BY l_partkey ORDER BY day
                                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                    AS nc
           FROM mv)
SELECT l_partkey, day,
       ROUND(100 - 100 / (1 + ag / al), 2) AS rsi
FROM g WHERE nc >= 14 AND al > 0 ORDER BY l_partkey, day
""")

# Inclusive business-day span from order date to ship date (weekday
# count via day explode — bounded block; closed-form DOW arithmetic is
# the scale tier, this is the declared oracle shape).
_q("q378_business_days",
   oracle="""
WITH s AS (SELECT o.o_orderkey, l.l_linenumber,
                  CAST(o.o_orderdate AS DATE) AS d0,
                  CAST(l.l_shipdate AS DATE) AS d1
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderkey < 1000
             AND CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)),
     x AS (SELECT o_orderkey, l_linenumber,
                  CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))
                       AS DATE) AS day
           FROM s)
SELECT o_orderkey, l_linenumber,
       CAST(SUM(CASE WHEN DAYOFWEEK(day) IN (0, 6) THEN 0 ELSE 1 END)
            AS BIGINT) AS bdays
FROM x GROUP BY o_orderkey, l_linenumber
ORDER BY o_orderkey, l_linenumber
""",
   engine_sql="""
WITH s AS (SELECT o.o_orderkey, l.l_linenumber,
                  CAST(o.o_orderdate AS DATE) AS d0,
                  CAST(l.l_shipdate AS DATE) AS d1
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderkey < 1000
             AND CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)),
     x AS (SELECT o_orderkey, l_linenumber, day
           FROM s LATERAL VIEW EXPLODE(SEQUENCE(d0, d1)) t AS day)
SELECT o_orderkey, l_linenumber,
       CAST(SUM(CASE WHEN DAYOFWEEK(day) IN (1, 7) THEN 0 ELSE 1 END)
            AS BIGINT) AS bdays
FROM x GROUP BY o_orderkey, l_linenumber
ORDER BY o_orderkey, l_linenumber
""")

# Systematic sampling: every 10th record in deterministic md5 order,
# WITHIN each language partition (never a global rank).
_q("q379_systematic_sample",
   oracle="""
WITH r AS (SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY MD5(CAST(doc_id AS VARCHAR)))
                    AS rn
           FROM documents)
SELECT doc_id, lang FROM r WHERE rn % 10 = 1 ORDER BY lang, doc_id
""",
   engine_sql="""
WITH r AS (SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY MD5(CAST(doc_id AS STRING)))
                    AS rn
           FROM documents)
SELECT doc_id, lang FROM r WHERE rn % 10 = 1 ORDER BY lang, doc_id
""")


# Pythagorean means batch: geometric (exp-mean-log) and harmonic
# (n / Σ 1/x) alongside the arithmetic mean.
_q("q380_pythagorean_means", """
SELECT l_returnflag,
       ROUND(AVG(l_quantity), 4) AS amean,
       ROUND(EXP(AVG(LN(l_quantity))), 4) AS gmean,
       ROUND(COUNT(*) / SUM(1.0 / l_quantity), 4) AS hmean
FROM lineitem WHERE l_quantity > 0
GROUP BY l_returnflag ORDER BY l_returnflag
""")

# Feature hashing (the hashing trick): md5-derived bucket in [0,64) —
# portable across engines, unlike engine-native hash functions.
_q("q381_feature_hashing",
   oracle="""
WITH tok AS (SELECT doc_id, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
             WHERE doc_id < 20)
SELECT doc_id,
       CAST(CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) % 64
            AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tok GROUP BY doc_id, bucket ORDER BY doc_id, bucket
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok
             WHERE doc_id < 20)
SELECT doc_id,
       CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) % 64 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tok GROUP BY doc_id, bucket ORDER BY doc_id, bucket
""")

# Deterministic k-fold assignment (md5 mod 5) + per-fold class
# balance: the split must preserve the segment distribution — report
# per-fold share next to the global share.
_q("q382_kfold_balance",
   oracle="""
WITH f AS (SELECT c_custkey, c_mktsegment,
                  CAST(CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)),
                                           1, 8) AS BIGINT) % 5
                       AS BIGINT) AS fold
           FROM customer),
     g AS (SELECT c_mktsegment,
                  CAST(COUNT(*) AS DOUBLE) AS n_seg FROM f
           GROUP BY c_mktsegment),
     t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f)
SELECT f.fold, f.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY f.fold)
                             AS DOUBLE), 3) AS fold_share,
       ROUND(MAX(g.n_seg) / MAX(t.n), 3) AS global_share
FROM f JOIN g ON g.c_mktsegment = f.c_mktsegment CROSS JOIN t
GROUP BY f.fold, f.c_mktsegment ORDER BY f.fold, f.c_mktsegment
""",
   engine_sql="""
WITH f AS (SELECT c_custkey, c_mktsegment,
                  CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)), 1, 8),
                            16, 10) % 5 AS BIGINT) AS fold
           FROM customer),
     g AS (SELECT c_mktsegment,
                  CAST(COUNT(*) AS DOUBLE) AS n_seg FROM f
           GROUP BY c_mktsegment),
     t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f)
SELECT f.fold, f.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY f.fold)
                             AS DOUBLE), 3) AS fold_share,
       ROUND(MAX(g.n_seg) / MAX(t.n), 3) AS global_share
FROM f JOIN g ON g.c_mktsegment = f.c_mktsegment CROSS JOIN t
GROUP BY f.fold, f.c_mktsegment ORDER BY f.fold, f.c_mktsegment
""")

# Count-min sketch, fully relational and portable: d=4 md5-salted
# rows × w=64 columns built by one explode + keyed agg (mergeable by
# construction — union + re-agg), probed for 5 terms with the
# min-over-rows estimate next to the true count.
_q("q383_count_min_sketch",
   oracle="""
WITH tok AS (SELECT tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     cell AS (SELECT r.r,
                     CAST(CAST('0x' || SUBSTR(MD5(CAST(r.r AS VARCHAR)
                                              || ':' || tok), 1, 8)
                               AS BIGINT) % 64 AS BIGINT) AS c,
                     COUNT(*) AS n
              FROM tok CROSS JOIN
                   (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) r
              GROUP BY r.r, c),
     probe AS (SELECT UNNEST(['spark','query','the','vector','scan'])
                 AS term),
     est AS (SELECT p.term,
                    MIN(cell.n) AS cms_est
             FROM probe p CROSS JOIN
                  (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) pr
             JOIN cell ON cell.r = pr.r
              AND cell.c = CAST(CAST('0x' || SUBSTR(MD5(CAST(pr.r AS VARCHAR)
                                                    || ':' || p.term), 1, 8)
                                    AS BIGINT) % 64 AS BIGINT)
             GROUP BY p.term),
     truth AS (SELECT tok AS term, COUNT(*) AS n FROM tok GROUP BY tok)
SELECT e.term, CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(COALESCE(t.n, 0) AS BIGINT) AS true_count
FROM est e LEFT JOIN truth t ON t.term = e.term
ORDER BY e.term
""",
   engine_sql="""
-- r13: the sketch cells and the ground-truth counts each re-expanded
-- the tokenize+explode subtree (2 documents scans;
-- CTE_REEXPANSION_SCAN_r13.json). The sketch cell counts are exact
-- sums of the per-term counts (COUNT over (r, c) groups = SUM of n
-- over the terms hashing to that cell), so `cell` now derives from
-- `truth` — the 4-way row replication happens on the term-count
-- relation (vocab-bounded), not on the token instances. The explicit
-- not-null token filter (provably no-op: SPLIT never yields null
-- elements) subsumes the LEFT JOIN's right-side key inference, so
-- both truth branches canonicalize and stage reuse keeps ONE
-- scan + explode + term-count exchange.
WITH tok AS (SELECT tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) x AS tok
             WHERE tok IS NOT NULL),
     truth AS (SELECT tok AS term, COUNT(*) AS n FROM tok GROUP BY tok),
     cell AS (SELECT r.r,
                     CAST(CONV(SUBSTR(MD5(CAST(r.r AS STRING)
                                          || ':' || term), 1, 8),
                               16, 10) % 64 AS BIGINT) AS c,
                     SUM(n) AS n
              FROM truth CROSS JOIN
                   (SELECT EXPLODE(SEQUENCE(0, 3)) AS r) r
              GROUP BY r.r, c),
     probe AS (SELECT EXPLODE(ARRAY('spark','query','the','vector','scan'))
                 AS term),
     est AS (SELECT p.term,
                    MIN(cell.n) AS cms_est
             FROM probe p CROSS JOIN
                  (SELECT EXPLODE(SEQUENCE(0, 3)) AS r) pr
             JOIN cell ON cell.r = pr.r
              AND cell.c = CAST(CONV(SUBSTR(MD5(CAST(pr.r AS STRING)
                                                || ':' || p.term), 1, 8),
                                     16, 10) % 64 AS BIGINT)
             GROUP BY p.term)
SELECT e.term, CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(COALESCE(t.n, 0) AS BIGINT) AS true_count
FROM est e LEFT JOIN truth t ON t.term = e.term
ORDER BY e.term
""")

# Robust scaling (median/IQR) of order values within each priority —
# the outlier-insensitive feature-prep cousin of z-scoring.
_q("q384_robust_scaling", """
WITH s AS (SELECT o_orderpriority,
                  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                    AS med,
                  PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY o_totalprice)
                  - PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice)
                    AS iqr
           FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderkey, o.o_orderpriority,
       ROUND((o.o_totalprice - s.med) / s.iqr, 4) AS robust_z
FROM orders o JOIN s ON s.o_orderpriority = o.o_orderpriority
WHERE o.o_orderkey < 500
ORDER BY o.o_orderkey
""")

# Inter-event gap distribution per event type: LEAD gap seconds per
# user (partitioned), then per-type percentiles.
_q("q385_interevent_gaps",
   oracle="""
WITH g AS (SELECT event_type,
                  EPOCH_US(LEAD(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))
                  - EPOCH_US(ts) AS gap_us
           FROM events)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_us)
             / 1000000.0, 1) AS p50,
       ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_us)
             / 1000000.0, 1) AS p90
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
   engine_sql="""
WITH g AS (SELECT event_type,
                  UNIX_MICROS(CAST(LEAD(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
                                   AS TIMESTAMP))
                  - UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS gap_us
           FROM events)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_us)
             / 1000000.0, 1) AS p50,
       ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_us)
             / 1000000.0, 1) AS p90
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""")

# Bounce rate from 30-min-gap sessionization (same island logic as
# the session-window tier): single-event sessions / sessions, per
# user-cohort decile of activity kept simple as per event-type of the
# session's first event.
_q("q386_bounce_rate",
   oracle="""
WITH d AS (SELECT user_id, ts, event_id, event_type,
                  CASE WHEN EPOCH(ts)
                            - EPOCH(LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id))
                            > 1800 OR LAG(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                            IS NULL
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
     s AS (SELECT user_id, event_id, event_type, ts,
                  SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS sid
           FROM d),
     f AS (SELECT user_id, sid, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                     ORDER BY ts, event_id) AS rn
           FROM s),
     agg AS (SELECT user_id, sid, COUNT(*) AS n_events
             FROM s GROUP BY user_id, sid),
     j AS (SELECT f.event_type AS first_type, agg.n_events
           FROM agg JOIN f
             ON f.user_id IS NOT DISTINCT FROM agg.user_id
            AND f.sid = agg.sid AND f.rn = 1)
SELECT first_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS bounce_rate
FROM j GROUP BY first_type ORDER BY first_type
""",
   engine_sql="""
WITH d AS (SELECT user_id, ts, event_id, event_type,
                  CASE WHEN UNIX_TIMESTAMP(ts)
                            - UNIX_TIMESTAMP(LAG(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            > 1800 OR LAG(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                            IS NULL
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
     s AS (SELECT user_id, event_id, event_type, ts,
                  SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS sid
           FROM d),
     f AS (SELECT user_id, sid, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                     ORDER BY ts, event_id) AS rn
           FROM s),
     agg AS (SELECT user_id, sid, COUNT(*) AS n_events
             FROM s GROUP BY user_id, sid),
     j AS (SELECT f.event_type AS first_type, agg.n_events
           FROM agg JOIN f
             ON f.user_id IS NOT DISTINCT FROM agg.user_id
            AND f.sid = agg.sid AND f.rn = 1)
SELECT first_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS bounce_rate
FROM j GROUP BY first_type ORDER BY first_type
""")


# ------------------------------------------------------- batch r4.3:
# lang-ID audit, CCNet-style boilerplate, template self-similarity,
# safety stock, seasonal anomalies, Brier decomposition, char bigrams,
# IVF distribution, ECDF evaluation.

def _q387_builder(spark: SparkSession) -> DataFrame:
    # Declared-vs-detected language audit: disagreement rate per
    # declared lang (the mislabeled-document detector that gates
    # language-filtered training mixes).
    from shredder_spark.functions.text import with_lang_id

    docs = spark.table("documents")
    d = with_lang_id(docs).select("doc_id", "lang", "lid")
    return (d.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.when(F.col("lid") != F.col("lang"), 1)
                        .otherwise(0)).cast("long").alias("n_disagree"),
                 F.round(F.avg(F.when(F.col("lid") != F.col("lang"), 1.0)
                                .otherwise(0.0)), 4).alias("disagree_rate"))
            .orderBy("lang"))


_q("q387_langid_audit",
   oracle="""
WITH s AS (SELECT doc_id, lang,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['the','and','of','to','is','in','that','it'])) AS s_en,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['el','la','los','y','es','una','que','no'])) AS s_es,
  LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),'\\s+'),
      ['le','la','les','et','est','une','que','pas'])) AS s_fr
  FROM documents),
     lid AS (SELECT doc_id, lang,
       CASE WHEN s_de = g AND g >= 1 THEN 'de'
            WHEN s_en = g AND g >= 1 THEN 'en'
            WHEN s_es = g AND g >= 1 THEN 'es'
            WHEN s_fr = g AND g >= 1 THEN 'fr'
            ELSE 'und' END AS lid
       FROM (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS g FROM s))
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lid <> lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disagree,
       ROUND(AVG(CASE WHEN lid <> lang THEN 1.0 ELSE 0.0 END), 4)
         AS disagree_rate
FROM lid GROUP BY lang ORDER BY lang
""",
   builder=_q387_builder)

# CCNet-style boilerplate removal, chunk tier: fixed 8-token chunks
# hashed (md5), a chunk appearing in >= 3 distinct docs is
# boilerplate; per-doc boilerplate chunk fraction.
_q("q388_boilerplate_chunks",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS toks FROM documents),
     ch AS (SELECT doc_id,
                   MD5(ARRAY_TO_STRING(
                     toks[i * 8 + 1 : LEAST(i * 8 + 8, LEN(toks))], ' '))
                     AS h
            FROM t, UNNEST(GENERATE_SERIES(
                    0, CAST(CEIL(LEN(toks) / 8.0) AS BIGINT) - 1)) AS g(i)),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       ROUND(SUM(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS boiler_frac
FROM ch JOIN freq ON freq.h = ch.h
GROUP BY ch.doc_id ORDER BY ch.doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text,' ') AS toks FROM documents),
     ch AS (SELECT doc_id,
                   MD5(ARRAY_JOIN(SLICE(toks, i * 8 + 1,
                     LEAST(i * 8 + 8, SIZE(toks)) - i * 8), ' ')) AS h
            FROM t LATERAL VIEW EXPLODE(SEQUENCE(
                   0, CAST(CEIL(SIZE(toks) / 8.0) AS INT) - 1)) g AS i),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       ROUND(SUM(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS boiler_frac
FROM ch JOIN freq ON freq.h = ch.h
GROUP BY ch.doc_id ORDER BY ch.doc_id
""")

# Template/self-repetition detector: token-set Jaccard between the
# first and second halves of each document.
_q("q389_half_self_jaccard",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS toks FROM documents
           WHERE doc_id < 200),
     h AS (SELECT doc_id,
                  LIST_DISTINCT(toks[1 : LEN(toks) // 2]) AS a,
                  LIST_DISTINCT(toks[LEN(toks) // 2 + 1 : LEN(toks)]) AS b
           FROM t WHERE LEN(toks) >= 4)
SELECT doc_id,
       ROUND(LEN(LIST_INTERSECT(a, b))
             / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a, b))) AS DOUBLE), 4)
         AS half_jac
FROM h ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text,' ') AS toks FROM documents
           WHERE doc_id < 200),
     h AS (SELECT doc_id,
                  ARRAY_DISTINCT(SLICE(toks, 1, CAST(SIZE(toks) / 2 AS INT)))
                    AS a,
                  ARRAY_DISTINCT(SLICE(toks, CAST(SIZE(toks) / 2 AS INT) + 1,
                                       SIZE(toks))) AS b
           FROM t WHERE SIZE(toks) >= 4)
SELECT doc_id,
       ROUND(SIZE(ARRAY_INTERSECT(a, b))
             / CAST(SIZE(ARRAY_UNION(a, b)) AS DOUBLE), 4) AS half_jac
FROM h ORDER BY doc_id
""")

# Safety stock / reorder point (z=1.65 service level, 7-day lead
# time) from daily demand moments per part.
_q("q390_safety_stock", """
WITH d AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                  SUM(l_quantity) AS q
           FROM lineitem WHERE l_partkey < 200 GROUP BY l_partkey, day),
     s AS (SELECT l_partkey, AVG(q) AS mu, STDDEV_SAMP(q) AS sd,
                  COUNT(*) AS n
           FROM d GROUP BY l_partkey HAVING COUNT(*) >= 5)
SELECT l_partkey,
       ROUND(1.65 * sd * SQRT(7), 2) AS safety_stock,
       ROUND(mu * 7 + 1.65 * sd * SQRT(7), 2) AS reorder_point
FROM s ORDER BY l_partkey
""")

# Day-of-week-adjusted revenue anomalies: residual vs the DOW mean,
# z-scored; |z| >= 2 flags. DOW numbering is engine-specific →
# normalized to Monday=0 on both sides.
_q("q391_seasonal_anomaly",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  (ISODOW(CAST(o_orderdate AS DATE)) - 1) AS dow,
                  SUM(o_totalprice) AS rev
           FROM orders GROUP BY day, dow),
     m AS (SELECT dow, AVG(rev) AS mu FROM d GROUP BY dow),
     r AS (SELECT d.day, d.dow, d.rev, d.rev - m.mu AS resid
           FROM d JOIN m ON m.dow = d.dow),
     z AS (SELECT AVG(resid) AS rm, STDDEV_SAMP(resid) AS rs FROM r)
SELECT r.day, CAST(r.dow AS BIGINT) AS dow,
       ROUND((r.resid - z.rm) / z.rs, 2) AS z
FROM r CROSS JOIN z
WHERE ABS((r.resid - z.rm) / z.rs) >= 2
ORDER BY r.day
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  PMOD(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 5, 7) AS dow,
                  SUM(o_totalprice) AS rev
           FROM orders GROUP BY day, dow),
     m AS (SELECT dow, AVG(rev) AS mu FROM d GROUP BY dow),
     r AS (SELECT d.day, d.dow, d.rev, d.rev - m.mu AS resid
           FROM d JOIN m ON m.dow = d.dow),
     z AS (SELECT AVG(resid) AS rm, STDDEV_SAMP(resid) AS rs FROM r)
SELECT r.day, CAST(r.dow AS BIGINT) AS dow,
       ROUND((r.resid - z.rm) / z.rs, 2) AS z
FROM r CROSS JOIN z
WHERE ABS((r.resid - z.rm) / z.rs) >= 2
ORDER BY r.day
""")

# Brier score + Murphy decomposition over 10 probability bins:
# p_hat = user's click share, outcome = user made a purchase.
_q("q392_brier_decomposition", """
WITH u AS (SELECT user_id,
                  AVG(CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                           AS DOUBLE)) AS p,
                  MAX(CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END AS DOUBLE)) AS y
           FROM events GROUP BY user_id),
     b AS (SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin, p, y FROM u),
     g AS (SELECT bin, COUNT(*) AS n, AVG(p) AS pbar, AVG(y) AS ybar
           FROM b GROUP BY bin),
     t AS (SELECT COUNT(*) AS n, AVG(y) AS base,
                  AVG((p - y) * (p - y)) AS brier
           FROM b)
SELECT ROUND(t.brier, 4) AS brier,
       ROUND(SUM(g.n * (g.pbar - g.ybar) * (g.pbar - g.ybar)) / MAX(t.n), 4)
         AS reliability,
       ROUND(SUM(g.n * (g.ybar - t.base) * (g.ybar - t.base)) / MAX(t.n), 4)
         AS resolution,
       ROUND(MAX(t.base) * (1 - MAX(t.base)), 4) AS uncertainty
FROM g CROSS JOIN t GROUP BY t.brier, t.n, t.base
""")

# Character-bigram profile: top-10 char 2-grams per language
# (positional explode over a bounded doc block, vocab-sized rank
# window).
_q("q393_char_bigrams",
   oracle="""
WITH b AS (SELECT lang, SUBSTR(text, i, 2) AS bg
           FROM documents, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 1))
             AS g(i)
           WHERE doc_id < 100),
     c AS (SELECT lang, bg, COUNT(*) AS n FROM b GROUP BY lang, bg),
     r AS (SELECT lang, bg, n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bg) AS rk
           FROM c)
SELECT lang, CAST(rk AS BIGINT) AS rk, bg, CAST(n AS BIGINT) AS n
FROM r WHERE rk <= 10 ORDER BY lang, rk
""",
   engine_sql="""
WITH b AS (SELECT lang, SUBSTR(text, i, 2) AS bg
           -- total: docs shorter than 2 chars make SEQUENCE(1, <1)
           -- descend and emit phantom i<=0 rows (see q143)
           FROM documents
           LATERAL VIEW EXPLODE(
               IF(LENGTH(text) >= 2, SEQUENCE(1, LENGTH(text) - 1),
                  ARRAY())) g AS i
           WHERE doc_id < 100),
     c AS (SELECT lang, bg, COUNT(*) AS n FROM b GROUP BY lang, bg),
     r AS (SELECT lang, bg, n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bg) AS rk
           FROM c)
SELECT lang, CAST(rk AS BIGINT) AS rk, bg, CAST(n AS BIGINT) AS n
FROM r WHERE rk <= 10 ORDER BY lang, rk
""")


def _q394_builder(spark: SparkSession) -> DataFrame:
    # IVF cluster balance: fit on the bounded driver-side sample,
    # Arrow-batched assignment, cluster-size distribution — the index-
    # health check before partition-pruned probing (rows-only: k-means
    # has no SQL oracle).
    from shredder_spark.operators.similarity import IVFIndex

    emb = spark.table("embeddings")
    idx = IVFIndex(n_clusters=8).fit(emb)
    assigned = idx.assign(emb)
    return (assigned.groupBy("cluster")
            .agg(F.count("*").cast("long").alias("n_vectors"))
            .orderBy("cluster"))


_q("q394_ivf_cluster_balance", oracle=None, builder=_q394_builder)

# Empirical CDF evaluated at fixed thresholds per priority (the
# P(X <= t) table; inline VALUES dimension).
_q("q395_ecdf_eval", """
WITH thr AS (SELECT CAST(t_val AS DOUBLE) AS t_val
             FROM (VALUES (50000.0), (100000.0), (200000.0)) AS t(t_val))
SELECT o_orderpriority, t_val,
       ROUND(AVG(CAST(CASE WHEN o_totalprice <= t_val THEN 1 ELSE 0 END
                      AS DOUBLE)), 4) AS cdf
FROM orders CROSS JOIN thr
GROUP BY o_orderpriority, t_val
ORDER BY o_orderpriority, t_val
""")


# ------------------------------------------------------- batch r4.4:
# trading-style signals, supply-chain cycle stats, drift (PSI),
# credit-scoring (WOE/IV), split scoring, lexical-richness metrics.

# SMA crossover signal: 5-day vs 20-day moving averages of the daily
# price per part; emit the days where the fast average crosses the
# slow one (both windows partitioned by part).
_q("q396_sma_crossover", """
WITH d AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                  AVG(l_extendedprice / NULLIF(l_quantity, 0)) AS px
           FROM lineitem WHERE l_partkey < 50 GROUP BY l_partkey, day),
     s AS (SELECT l_partkey, day,
                  AVG(px) OVER (PARTITION BY l_partkey ORDER BY day
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                    AS sma5,
                  AVG(px) OVER (PARTITION BY l_partkey ORDER BY day
                                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                    AS sma20,
                  ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY day)
                    AS rn
           FROM d),
     x AS (SELECT l_partkey, day, sma5, sma20,
                  LAG(sma5 - sma20) OVER (PARTITION BY l_partkey
                                          ORDER BY day) AS prev_diff
           FROM s WHERE rn >= 20)
SELECT l_partkey, day,
       CASE WHEN sma5 > sma20 THEN 'golden' ELSE 'death' END AS cross_type
FROM x
WHERE prev_diff IS NOT NULL
  AND SIGN(sma5 - sma20) <> SIGN(prev_diff) AND sma5 <> sma20
ORDER BY l_partkey, day
""")

# Order-to-ship cycle-time percentiles per priority (calendar days).
_q("q397_cycle_time",
   engine_sql="""
WITH c AS (SELECT o.o_orderpriority,
                  DATEDIFF(CAST(l.l_shipdate AS DATE),
                           CAST(o.o_orderdate AS DATE)) AS days
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE))
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY days), 1) AS p50,
       ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY days), 1) AS p90
FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   oracle="""
WITH c AS (SELECT o.o_orderpriority,
                  DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS days
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE))
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY days), 1) AS p50,
       ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY days), 1) AS p90
FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

# Fill rate: share of orders whose EVERY line ships within 30 days.
_q("q398_fill_rate",
   oracle="""
WITH per_order AS (SELECT o.o_orderkey, o.o_orderpriority,
                          MAX(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE)))
                            AS worst_days
                   FROM orders o JOIN lineitem l
                     ON l.l_orderkey = o.o_orderkey
                   GROUP BY o.o_orderkey, o.o_orderpriority)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(CAST(CASE WHEN worst_days <= 30 THEN 1 ELSE 0 END
                      AS DOUBLE)), 4) AS fill_rate_30d
FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   engine_sql="""
WITH per_order AS (SELECT o.o_orderkey, o.o_orderpriority,
                          MAX(DATEDIFF(CAST(l.l_shipdate AS DATE),
                                       CAST(o.o_orderdate AS DATE)))
                            AS worst_days
                   FROM orders o JOIN lineitem l
                     ON l.l_orderkey = o.o_orderkey
                   GROUP BY o.o_orderkey, o.o_orderpriority)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(CAST(CASE WHEN worst_days <= 30 THEN 1 ELSE 0 END
                      AS DOUBLE)), 4) AS fill_rate_30d
FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
""")

# Log-log demand elasticity per brand: REGR_SLOPE(ln qty, ln unit
# price) over line items — the price-sensitivity estimate.
_q("q399_price_elasticity", """
WITH x AS (SELECT p.p_brand, LN(l.l_quantity) AS lq,
                  LN(l.l_extendedprice / l.l_quantity) AS lp
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE l.l_quantity > 0 AND l.l_extendedprice > 0)
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(REGR_SLOPE(lq, lp), 4) AS elasticity
FROM x GROUP BY p_brand ORDER BY p_brand
""")

# Cohort LTV curve: customers grouped by first-order month, cumulative
# average revenue per customer at each month-age (partitioned running
# sum over a dimension-sized rollup).
_q("q400_cohort_ltv", """
WITH fo AS (SELECT o_custkey,
                   MIN((YEAR(CAST(o_orderdate AS DATE)) - 1990) * 12
                       + MONTH(CAST(o_orderdate AS DATE))) AS cohort_m
            FROM orders GROUP BY o_custkey),
     rev AS (SELECT o.o_custkey, fo.cohort_m,
                    (YEAR(CAST(o.o_orderdate AS DATE)) - 1990) * 12
                    + MONTH(CAST(o.o_orderdate AS DATE)) - fo.cohort_m
                      AS age_m,
                    o.o_totalprice AS rev
             FROM orders o JOIN fo ON fo.o_custkey = o.o_custkey),
     sz AS (SELECT cohort_m, COUNT(DISTINCT o_custkey) AS n_cust
            FROM rev GROUP BY cohort_m),
     m AS (SELECT cohort_m, age_m, SUM(rev) AS rev_m
           FROM rev GROUP BY cohort_m, age_m)
SELECT m.cohort_m, CAST(m.age_m AS BIGINT) AS age_m,
       ROUND(SUM(m.rev_m) OVER (PARTITION BY m.cohort_m ORDER BY m.age_m)
             / MAX(sz.n_cust), 2) AS cum_ltv
FROM m JOIN sz ON sz.cohort_m = m.cohort_m
WHERE m.cohort_m <= 72 AND m.age_m <= 24
GROUP BY m.cohort_m, m.age_m, m.rev_m ORDER BY m.cohort_m, age_m
""")

# Decision-split scoring: information gain of candidate thresholds on
# order value wrt the order-status target (parent entropy minus
# weighted child entropies) — the tree-induction kernel.
_q("q401_split_info_gain", """
WITH thr AS (SELECT CAST(t_val AS DOUBLE) AS t_val
             FROM (VALUES (50000.0), (100000.0), (150000.0)) AS t(t_val)),
     lab AS (SELECT o_totalprice AS x, o_orderstatus AS y FROM orders),
     parent AS (SELECT SUM(-pr * LN(pr)) AS h FROM (
                  SELECT COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)
                    AS pr
                  FROM lab GROUP BY y) p),
     child AS (SELECT thr.t_val,
                      CASE WHEN lab.x <= thr.t_val THEN 'le' ELSE 'gt' END
                        AS side, lab.y, COUNT(*) AS n
               FROM lab CROSS JOIN thr GROUP BY thr.t_val, side, lab.y),
     side_tot AS (SELECT t_val, side, SUM(n) AS ns FROM child
                  GROUP BY t_val, side),
     ch AS (SELECT c.t_val, c.side, st.ns,
                   SUM(-(c.n / CAST(st.ns AS DOUBLE))
                       * LN(c.n / CAST(st.ns AS DOUBLE))) AS h
            FROM child c JOIN side_tot st
              ON st.t_val = c.t_val AND st.side = c.side
            GROUP BY c.t_val, c.side, st.ns),
     tot AS (SELECT SUM(ns) AS n FROM side_tot
             WHERE t_val = (SELECT MIN(t_val) FROM thr))
SELECT ch.t_val,
       ROUND(MAX(parent.h)
             - SUM(ch.ns / CAST(tot.n AS DOUBLE) * ch.h), 6) AS info_gain
FROM ch CROSS JOIN parent CROSS JOIN tot
GROUP BY ch.t_val ORDER BY ch.t_val
""")

# Population stability index between early and late order cohorts
# over fixed value bands — the model-drift gate metric.
_q("q402_psi", """
WITH lab AS (SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1996-01-01'
                         THEN 'base' ELSE 'cur' END AS period,
                    LEAST(CAST(FLOOR(o_totalprice / 50000) AS INT), 5)
                      AS band
             FROM orders),
     c AS (SELECT period, band, COUNT(*) AS n FROM lab
           GROUP BY period, band),
     tot AS (SELECT period, SUM(n) AS nt FROM c GROUP BY period),
     p AS (SELECT c.band,
                  MAX(CASE WHEN c.period = 'base'
                           THEN c.n / CAST(tot.nt AS DOUBLE) END) AS pb,
                  MAX(CASE WHEN c.period = 'cur'
                           THEN c.n / CAST(tot.nt AS DOUBLE) END) AS pc
           FROM c JOIN tot ON tot.period = c.period GROUP BY c.band)
SELECT CAST(band AS BIGINT) AS band,
       ROUND((pc - pb) * LN(pc / pb), 6) AS psi_term,
       ROUND(SUM((pc - pb) * LN(pc / pb)) OVER (), 6) AS psi_total
FROM p ORDER BY band
""")

# Lorenz curve: cumulative revenue share at each customer-spend
# decile (the curve behind the Gini coefficient).
# banding by PERCENTILE_CONT cutoffs, not a global NTILE — no
# unpartitioned window touches the (unbounded) customer rollup; the
# only windows left run over the 10-row decile relation.
_q("q403_lorenz_curve", """
WITH s AS (SELECT o_custkey,
                  -- exact cents: engine-invariant under summation
                  -- order (see q288)
                  ROUND(SUM(o_totalprice), 2) AS spend FROM orders
           GROUP BY o_custkey),
     cut AS (SELECT PERCENTILE_CONT(0.1) WITHIN GROUP (ORDER BY spend) AS c1,
                    PERCENTILE_CONT(0.2) WITHIN GROUP (ORDER BY spend) AS c2,
                    PERCENTILE_CONT(0.3) WITHIN GROUP (ORDER BY spend) AS c3,
                    PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY spend) AS c4,
                    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY spend) AS c5,
                    PERCENTILE_CONT(0.6) WITHIN GROUP (ORDER BY spend) AS c6,
                    PERCENTILE_CONT(0.7) WITHIN GROUP (ORDER BY spend) AS c7,
                    PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY spend) AS c8,
                    PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY spend) AS c9
             FROM s),
     d AS (SELECT s.spend,
                  1 + CASE WHEN s.spend > cut.c1 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c2 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c3 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c4 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c5 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c6 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c7 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c8 + 1e-6 THEN 1 ELSE 0 END
                    + CASE WHEN s.spend > cut.c9 + 1e-6 THEN 1 ELSE 0 END AS dec
           FROM s CROSS JOIN cut),
     g AS (SELECT dec, SUM(spend) AS ds, COUNT(*) AS n FROM d GROUP BY dec),
     t AS (SELECT SUM(ds) AS tot FROM g)
SELECT CAST(g.dec AS BIGINT) AS decile, CAST(g.n AS BIGINT) AS n_cust,
       ROUND(SUM(g.ds) OVER (ORDER BY g.dec) / MAX(t.tot), 4)
         AS cum_rev_share
FROM g CROSS JOIN t GROUP BY g.dec, g.ds, g.n ORDER BY decile
""")

# Weight-of-evidence / information value over value deciles, target =
# URGENT priority (the credit-scoring binning diagnostic). Laplace-
# smoothed so empty cells can't produce LN(0).
_q("q404_woe_iv", """
WITH lab AS (SELECT LEAST(CAST(FLOOR(o_totalprice / 30000) AS INT), 9)
               AS band,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
             FROM orders),
     c AS (SELECT band, SUM(y) AS pos, SUM(1 - y) AS neg FROM lab
           GROUP BY band),
     t AS (SELECT SUM(pos) AS tp, SUM(neg) AS tn FROM c),
     w AS (SELECT c.band,
                  (c.pos + 0.5) / (t.tp + 0.5) AS pr,
                  (c.neg + 0.5) / (t.tn + 0.5) AS nr
           FROM c CROSS JOIN t)
SELECT CAST(band AS BIGINT) AS band,
       ROUND(LN(pr / nr), 4) AS woe,
       ROUND(SUM((pr - nr) * LN(pr / nr)) OVER (), 4) AS iv_total
FROM w ORDER BY band
""")

# Run-rate attainment: YTD revenue annualized by day-of-year vs the
# year's actual total.
_q("q405_run_rate",
   oracle="""
WITH d AS (SELECT YEAR(CAST(o_orderdate AS DATE)) AS yr,
                  DAYOFYEAR(CAST(o_orderdate AS DATE)) AS doy,
                  SUM(o_totalprice) AS rev
           FROM orders GROUP BY yr, doy),
     mid AS (SELECT yr, SUM(CASE WHEN doy <= 181 THEN rev ELSE 0 END)
               AS h1_rev, SUM(rev) AS full_rev
             FROM d GROUP BY yr)
SELECT CAST(yr AS BIGINT) AS yr,
       ROUND(h1_rev * 365.0 / 181, 2) AS run_rate,
       ROUND(full_rev, 2) AS actual,
       ROUND(h1_rev * 365.0 / 181 / NULLIF(full_rev, 0), 4) AS attainment
FROM mid ORDER BY yr
""",
   engine_sql="""
WITH d AS (SELECT YEAR(CAST(o_orderdate AS DATE)) AS yr,
                  DAYOFYEAR(CAST(o_orderdate AS DATE)) AS doy,
                  SUM(o_totalprice) AS rev
           FROM orders GROUP BY yr, doy),
     mid AS (SELECT yr, SUM(CASE WHEN doy <= 181 THEN rev ELSE 0 END)
               AS h1_rev, SUM(rev) AS full_rev
             FROM d GROUP BY yr)
SELECT CAST(yr AS BIGINT) AS yr,
       ROUND(h1_rev * 365.0 / 181, 2) AS run_rate,
       ROUND(full_rev, 2) AS actual,
       ROUND(h1_rev * 365.0 / 181 / NULLIF(full_rev, 0), 4) AS attainment
FROM mid ORDER BY yr
""")

# Conditional transition entropy: H(next event | current event) per
# current type — how predictable the next step is (sequence-model
# feasibility check; builds on the B221 transition counts).
_q("q406_transition_entropy", """
WITH seq AS (SELECT event_type AS cur,
                    LEAD(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS nxt
             FROM events),
     c AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
           WHERE nxt IS NOT NULL GROUP BY cur, nxt),
     t AS (SELECT cur, SUM(n) AS nt FROM c GROUP BY cur)
SELECT c.cur,
       CAST(MAX(t.nt) AS BIGINT) AS n_transitions,
       ROUND(SUM(-(c.n / CAST(t.nt AS DOUBLE))
                 * LN(c.n / CAST(t.nt AS DOUBLE))), 4) AS h_next
FROM c JOIN t ON t.cur = c.cur GROUP BY c.cur ORDER BY c.cur
""")

# Dispersion index (variance-to-mean ratio) of per-user event counts
# by type: >1 flags overdispersion (negative-binomial territory).
_q("q407_dispersion_index", """
WITH u AS (SELECT event_type, user_id, COUNT(*) AS n FROM events
           GROUP BY event_type, user_id)
SELECT event_type,
       ROUND(AVG(CAST(n AS DOUBLE)), 4) AS mean_n,
       ROUND(VAR_SAMP(CAST(n AS DOUBLE)), 4) AS var_n,
       ROUND(VAR_SAMP(CAST(n AS DOUBLE)) / AVG(CAST(n AS DOUBLE)), 4)
         AS dispersion,
       CASE WHEN VAR_SAMP(CAST(n AS DOUBLE)) / AVG(CAST(n AS DOUBLE)) > 1
            THEN 'over' ELSE 'under' END AS regime
FROM u GROUP BY event_type ORDER BY event_type
""")

# Term burstiness (Fano factor of per-doc counts): bursty terms
# concentrate in few docs — a content-word vs function-word signal.
_q("q408_term_burstiness",
   oracle="""
WITH tok AS (SELECT doc_id, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     per_doc AS (SELECT tok, doc_id, COUNT(*) AS n FROM tok
                 GROUP BY tok, doc_id),
     tot AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tok),
     s AS (SELECT per_doc.tok, SUM(per_doc.n) AS cnt,
                  SUM(per_doc.n * per_doc.n) AS sq,
                  COUNT(*) AS present, MAX(tot.nd) AS nd
           FROM per_doc CROSS JOIN tot GROUP BY per_doc.tok)
SELECT tok, CAST(cnt AS BIGINT) AS cnt,
       ROUND((CAST(sq AS DOUBLE) / nd
              - POWER(CAST(cnt AS DOUBLE) / nd, 2))
             / (CAST(cnt AS DOUBLE) / nd), 4) AS fano
FROM s WHERE cnt >= 200 ORDER BY tok
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     per_doc AS (SELECT tok, doc_id, COUNT(*) AS n FROM tok
                 GROUP BY tok, doc_id),
     tot AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tok),
     s AS (SELECT per_doc.tok, SUM(per_doc.n) AS cnt,
                  SUM(per_doc.n * per_doc.n) AS sq,
                  COUNT(*) AS present, MAX(tot.nd) AS nd
           FROM per_doc CROSS JOIN tot GROUP BY per_doc.tok)
SELECT tok, CAST(cnt AS BIGINT) AS cnt,
       ROUND((CAST(sq AS DOUBLE) / nd
              - POWER(CAST(cnt AS DOUBLE) / nd, 2))
             / (CAST(cnt AS DOUBLE) / nd), 4) AS fano
FROM s WHERE cnt >= 200 ORDER BY tok
""")

# Yule's K vocabulary-richness statistic per language (from the
# frequency-of-frequencies profile).
_q("q409_yules_k",
   oracle="""
WITH tok AS (SELECT lang, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     f AS (SELECT lang, tok, COUNT(*) AS m FROM tok GROUP BY lang, tok),
     ff AS (SELECT lang, m, COUNT(*) AS vm FROM f GROUP BY lang, m),
     s AS (SELECT lang, SUM(m * vm) AS n, SUM(m * m * vm) AS smm
           FROM ff GROUP BY lang)
SELECT lang,
       ROUND(10000.0 * (smm - n) / (CAST(n AS DOUBLE) * n), 4) AS yules_k
FROM s ORDER BY lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     f AS (SELECT lang, tok, COUNT(*) AS m FROM tok GROUP BY lang, tok),
     ff AS (SELECT lang, m, COUNT(*) AS vm FROM f GROUP BY lang, m),
     s AS (SELECT lang, SUM(m * vm) AS n, SUM(m * m * vm) AS smm
           FROM ff GROUP BY lang)
SELECT lang,
       ROUND(10000.0 * (smm - n) / (CAST(n AS DOUBLE) * n), 4) AS yules_k
FROM s ORDER BY lang
""")

# Good-Turing unseen-mass estimate per language: N1/N (share of
# probability the LM should reserve for unseen words) plus the
# singleton and doubleton counts that drive it.
_q("q410_good_turing",
   oracle="""
WITH tok AS (SELECT lang, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     f AS (SELECT lang, tok, COUNT(*) AS m FROM tok GROUP BY lang, tok),
     s AS (SELECT lang,
                  SUM(m) AS n,
                  SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS n1,
                  SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS n2
           FROM f GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n_tokens,
       CAST(n1 AS BIGINT) AS singletons, CAST(n2 AS BIGINT) AS doubletons,
       ROUND(n1 / CAST(n AS DOUBLE), 6) AS unseen_mass
FROM s ORDER BY lang
""",
   engine_sql="""
WITH tok AS (SELECT lang, tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     f AS (SELECT lang, tok, COUNT(*) AS m FROM tok GROUP BY lang, tok),
     s AS (SELECT lang,
                  SUM(m) AS n,
                  SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS n1,
                  SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS n2
           FROM f GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n_tokens,
       CAST(n1 AS BIGINT) AS singletons, CAST(n2 AS BIGINT) AS doubletons,
       ROUND(n1 / CAST(n AS DOUBLE), 6) AS unseen_mass
FROM s ORDER BY lang
""")


# ------------------------------------------------------- batch r4.5:
# sequence mining, bounded-graph centrality, portable relational
# sketches (AMS F2, Flajolet-Martin, Bloom), embedding-quality screens.

# Sequential pattern support: ordered (A -> B) adjacent event-type
# transitions, support = sharing users / total users.
_q("q411_sequence_support", """
WITH seq AS (SELECT user_id, event_type AS a,
                    LEAD(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS b
             FROM events),
     pat AS (SELECT a, b, COUNT(DISTINCT user_id) AS u FROM seq
             WHERE b IS NOT NULL GROUP BY a, b),
     t AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events)
SELECT pat.a, pat.b, CAST(pat.u AS BIGINT) AS n_users,
       ROUND(pat.u / CAST(t.nu AS DOUBLE), 4) AS support
FROM pat CROSS JOIN t
WHERE pat.u / CAST(t.nu AS DOUBLE) >= 0.2
ORDER BY support DESC, pat.a, pat.b
""")

# Harmonic centrality truncated at 2 hops on the bounded co-purchase
# block: C(u) = |N1(u)| + |N2(u)|/2 (exact within radius 2).
_q("q412_harmonic_centrality", engine_sql="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 3000),
     e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
     e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
     n2 AS (SELECT DISTINCT a.u, b.v FROM e a JOIN e b ON b.u = a.v
            WHERE b.v <> a.u),
     d1 AS (SELECT u, COUNT(*) AS n1 FROM e GROUP BY u),
     d2 AS (SELECT n2.u, COUNT(*) AS n2c FROM n2
            LEFT ANTI JOIN e ON e.u = n2.u AND e.v = n2.v
            GROUP BY n2.u)
SELECT d1.u AS node, CAST(d1.n1 AS BIGINT) AS deg,
       ROUND(d1.n1 + COALESCE(d2.n2c, 0) / 2.0, 1) AS harmonic_2hop
FROM d1 LEFT JOIN d2 ON d2.u = d1.u
ORDER BY harmonic_2hop DESC, node LIMIT 30
""",
   oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 3000),
     e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
     e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
     n2 AS (SELECT DISTINCT a.u, b.v FROM e a JOIN e b ON b.u = a.v
            WHERE b.v <> a.u),
     d1 AS (SELECT u, COUNT(*) AS n1 FROM e GROUP BY u),
     n2x AS (SELECT n2.u, n2.v FROM n2
             WHERE NOT EXISTS (SELECT 1 FROM e
                               WHERE e.u = n2.u AND e.v = n2.v)),
     d2 AS (SELECT u, COUNT(*) AS n2c FROM n2x GROUP BY u)
SELECT d1.u AS node, CAST(d1.n1 AS BIGINT) AS deg,
       ROUND(d1.n1 + COALESCE(d2.n2c, 0) / 2.0, 1) AS harmonic_2hop
FROM d1 LEFT JOIN d2 ON d2.u = d1.u
ORDER BY harmonic_2hop DESC, node LIMIT 30
""")

# Neighborhood-Jaccard link prediction (companion to Adamic-Adar):
# |N(u) ∩ N(v)| / |N(u) ∪ N(v)| over candidate pairs.
_q("q413_neighborhood_jaccard", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 3000),
     e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
     e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
     deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
     cn AS (SELECT a.u AS i, b.u AS j, COUNT(*) AS c
            FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
            GROUP BY a.u, b.u)
SELECT cn.i, cn.j,
       ROUND(cn.c / CAST(da.d + db.d - cn.c AS DOUBLE), 4) AS nbr_jaccard
FROM cn JOIN deg da ON da.u = cn.i JOIN deg db ON db.u = cn.j
WHERE cn.c >= 3
ORDER BY nbr_jaccard DESC, cn.i, cn.j LIMIT 25
""")

# Revenue mix: new vs returning customers per year (first-order year
# join — the growth-accounting rollup).
_q("q414_new_vs_returning", """
WITH fy AS (SELECT o_custkey, MIN(YEAR(CAST(o_orderdate AS DATE))) AS y0
            FROM orders GROUP BY o_custkey),
     r AS (SELECT YEAR(CAST(o.o_orderdate AS DATE)) AS yr,
                  CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = fy.y0
                       THEN 'new' ELSE 'returning' END AS kind,
                  o.o_totalprice AS rev
           FROM orders o JOIN fy ON fy.o_custkey = o.o_custkey)
SELECT CAST(yr AS BIGINT) AS yr, kind,
       ROUND(SUM(rev), 2) AS revenue,
       ROUND(SUM(rev) / NULLIF(SUM(SUM(rev)) OVER (PARTITION BY yr), 0), 4)
         AS share
FROM r GROUP BY yr, kind ORDER BY yr, kind
""")

# AMS F2 sketch: four ±1 md5-sign estimators of the second frequency
# moment, reported next to the exact F2 — portable sketch arithmetic,
# no engine-native hashing.
_q("q415_ams_f2_sketch",
   oracle="""
WITH tok AS (SELECT tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     f AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
     hx AS (SELECT r.r, f.n,
                   CAST('0x' || SUBSTR(MD5(CAST(r.r AS VARCHAR) || ':' ||
                        f.tok), 1, 8) AS BIGINT) AS hv
            FROM f CROSS JOIN
                 (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) r),
     est AS (SELECT r, SUM((1 - 2 * (hv % 2)) * n) AS proj
             FROM hx GROUP BY r),
     ex AS (SELECT SUM(n * n) AS f2 FROM f)
SELECT CAST(ROUND(AVG(CAST(est.proj AS DOUBLE)
                      * CAST(est.proj AS DOUBLE))) AS BIGINT) AS f2_est,
       CAST(MAX(ex.f2) AS BIGINT) AS f2_exact
FROM est CROSS JOIN ex
""",
   engine_sql="""
WITH tok AS (SELECT tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     f AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
     hx AS (SELECT r.r, f.n,
                   CAST(CONV(SUBSTR(MD5(CAST(r.r AS STRING) || ':' ||
                        f.tok), 1, 8), 16, 10) AS BIGINT) AS hv
            FROM f CROSS JOIN
                 (SELECT EXPLODE(SEQUENCE(0, 3)) AS r) r),
     est AS (SELECT r, SUM((1 - 2 * (hv % 2)) * n) AS proj
             FROM hx GROUP BY r),
     ex AS (SELECT SUM(n * n) AS f2 FROM f)
SELECT CAST(ROUND(AVG(CAST(est.proj AS DOUBLE)
                      * CAST(est.proj AS DOUBLE))) AS BIGINT) AS f2_est,
       CAST(MAX(ex.f2) AS BIGINT) AS f2_exact
FROM est CROSS JOIN ex
""")

# Flajolet-Martin distinct-count sketch, relational: 64 registers,
# rho = leading-zero rank of the md5-derived 32-bit hash; the raw
# 2^avg(R) register estimate next to the exact distinct count.
_q("q416_fm_sketch",
   oracle="""
WITH tok AS (SELECT DISTINCT tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     h AS (SELECT tok,
                  CAST(CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT)
                       AS BIGINT) AS hv
           FROM tok),
     reg AS (SELECT hv % 64 AS r,
                    MAX(CASE WHEN hv < 64 THEN 26
                         ELSE 31 - CAST(FLOOR(LOG2(CAST(hv // 64 AS DOUBLE)))
                                        AS INT) END) AS rho
             FROM h GROUP BY hv % 64),
     ex AS (SELECT COUNT(*) AS d FROM tok)
SELECT CAST(ROUND(64 * POWER(2, AVG(CAST(reg.rho AS DOUBLE))) / 0.77351)
            AS BIGINT) AS fm_est,
       CAST(MAX(ex.d) AS BIGINT) AS exact_distinct
FROM reg CROSS JOIN ex
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT tok FROM documents
             LATERAL VIEW EXPLODE(SPLIT(text,' ')) t AS tok),
     h AS (SELECT tok,
                  CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) AS BIGINT) AS hv
           FROM tok),
     reg AS (SELECT hv % 64 AS r,
                    MAX(CASE WHEN hv < 64 THEN 26
                         ELSE 31 - CAST(FLOOR(LOG2(CAST(hv DIV 64 AS DOUBLE)))
                                        AS INT) END) AS rho
             FROM h GROUP BY hv % 64),
     ex AS (SELECT COUNT(*) AS d FROM tok)
SELECT CAST(ROUND(64 * POWER(2, AVG(CAST(reg.rho AS DOUBLE))) / 0.77351)
            AS BIGINT) AS fm_est,
       CAST(MAX(ex.d) AS BIGINT) AS exact_distinct
FROM reg CROSS JOIN ex
""")

# Relational Bloom filter: m=1024 bits, k=3 md5 hashes over BUILDING-
# segment customer keys; probed with every customer, reporting the
# measured false-positive rate against exact membership.
_q("q417_bloom_filter",
   oracle="""
WITH build AS (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING'),
     bits AS (SELECT DISTINCT
                CAST(CAST('0x' || SUBSTR(MD5(CAST(k.i AS VARCHAR) || ':' ||
                     CAST(build.c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                     % 1024 AS BIGINT) AS bit
              FROM build CROSS JOIN
                   (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS i) k),
     probe AS (SELECT c.c_custkey,
                      CAST(CAST('0x' || SUBSTR(MD5(CAST(k.i AS VARCHAR)
                           || ':' || CAST(c.c_custkey AS VARCHAR)), 1, 8)
                           AS BIGINT) % 1024 AS BIGINT) AS bit,
                      CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                        END AS is_member
               FROM customer c CROSS JOIN
                    (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS i) k),
     hit AS (SELECT probe.c_custkey, MAX(probe.is_member) AS is_member,
                    MIN(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END)
                      AS maybe
             FROM probe LEFT JOIN bits ON bits.bit = probe.bit
             GROUP BY probe.c_custkey)
SELECT CAST(SUM(is_member) AS BIGINT) AS true_members,
       CAST(SUM(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives,
       CAST(SUM(CASE WHEN maybe = 0 AND is_member = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_negatives,
       ROUND(SUM(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
             / CAST(SUM(1 - is_member) AS DOUBLE), 4) AS fpr
FROM hit
""",
   engine_sql="""
WITH build AS (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING'),
     bits AS (SELECT DISTINCT
                CAST(CONV(SUBSTR(MD5(CAST(k.i AS STRING) || ':' ||
                     CAST(build.c_custkey AS STRING)), 1, 8), 16, 10)
                     % 1024 AS BIGINT) AS bit
              FROM build CROSS JOIN
                   (SELECT EXPLODE(SEQUENCE(0, 2)) AS i) k),
     probe AS (SELECT c.c_custkey,
                      CAST(CONV(SUBSTR(MD5(CAST(k.i AS STRING)
                           || ':' || CAST(c.c_custkey AS STRING)), 1, 8),
                           16, 10) % 1024 AS BIGINT) AS bit,
                      CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                        END AS is_member
               FROM customer c CROSS JOIN
                    (SELECT EXPLODE(SEQUENCE(0, 2)) AS i) k),
     hit AS (SELECT probe.c_custkey, MAX(probe.is_member) AS is_member,
                    MIN(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END)
                      AS maybe
             FROM probe LEFT JOIN bits ON bits.bit = probe.bit
             GROUP BY probe.c_custkey)
SELECT CAST(SUM(is_member) AS BIGINT) AS true_members,
       CAST(SUM(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives,
       CAST(SUM(CASE WHEN maybe = 0 AND is_member = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_negatives,
       ROUND(SUM(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
             / CAST(SUM(1 - is_member) AS DOUBLE), 4) AS fpr
FROM hit
""")

# k-NN label disagreement (label-noise screen): 5 nearest neighbors
# by cosine on a bounded embedding block; vectors whose neighborhood
# majority label differs from their own, per label.
_q("q418_knn_label_noise",
   oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
           FROM embeddings
           WHERE vec_id < 300 AND embedding IS NOT NULL
             AND COALESCE(LIST_SUM(LIST_TRANSFORM(
                   embedding::DOUBLE[], x -> x*x)), 0) > 0),
     p AS (SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
                  LIST_COSINE_SIMILARITY(a.v, b.v) AS sim,
                  b.vec_id AS j
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
     r AS (SELECT i, li, lj,
                  ROW_NUMBER() OVER (PARTITION BY i
                                     ORDER BY sim DESC, j) AS rk
           FROM p),
     maj AS (SELECT i, li, lj, COUNT(*) AS c FROM r WHERE rk <= 5
             GROUP BY i, li, lj),
     top AS (SELECT i, li, lj, c,
                    ROW_NUMBER() OVER (PARTITION BY i
                                       ORDER BY c DESC, lj) AS r2
             FROM maj)
SELECT CAST(li AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lj <> li THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       ROUND(AVG(CAST(CASE WHEN lj <> li THEN 1 ELSE 0 END AS DOUBLE)), 4)
         AS noise_rate
FROM top WHERE r2 = 1 GROUP BY li ORDER BY label
""",
   engine_sql="""
WITH e AS (SELECT vec_id, TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
                  label
           FROM embeddings
           WHERE vec_id < 300 AND embedding IS NOT NULL
             AND AGGREGATE(embedding, 0D,
                   (s,x) -> s + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) > 0),
     p AS (SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
                  AGGREGATE(ZIP_WITH(a.v, b.v, (x,y) -> x*y), 0D,
                            (s,x) -> s+x)
                  / (SQRT(AGGREGATE(a.v, 0D, (s,x) -> s+x*x))
                     * SQRT(AGGREGATE(b.v, 0D, (s,x) -> s+x*x))) AS sim,
                  b.vec_id AS j
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
     r AS (SELECT i, li, lj,
                  ROW_NUMBER() OVER (PARTITION BY i
                                     ORDER BY sim DESC, j) AS rk
           FROM p),
     maj AS (SELECT i, li, lj, COUNT(*) AS c FROM r WHERE rk <= 5
             GROUP BY i, li, lj),
     top AS (SELECT i, li, lj, c,
                    ROW_NUMBER() OVER (PARTITION BY i
                                       ORDER BY c DESC, lj) AS r2
             FROM maj)
SELECT CAST(li AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lj <> li THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       ROUND(AVG(CAST(CASE WHEN lj <> li THEN 1 ELSE 0 END AS DOUBLE)), 4)
         AS noise_rate
FROM top WHERE r2 = 1 GROUP BY li ORDER BY label
""")

# Per-dimension embedding variance screen: near-constant dimensions
# carry no signal and should be dropped before indexing.
_q("q419_dim_variance_screen",
   oracle="""
WITH d AS (SELECT CAST(g.i - 1 AS INT) AS dim,
                  CAST(embedding[g.i] AS DOUBLE) AS val
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i))
SELECT dim, ROUND(AVG(val), 4) AS mean_v,
       ROUND(VAR_SAMP(val), 6) AS var_v,
       CASE WHEN VAR_SAMP(val) < 0.001 THEN 1 ELSE 0 END AS low_var
FROM d GROUP BY dim ORDER BY dim
""",
   engine_sql="""
WITH d AS (SELECT pos AS dim, CAST(val AS DOUBLE) AS val
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val)
SELECT dim, ROUND(AVG(val), 4) AS mean_v,
       ROUND(VAR_SAMP(val), 6) AS var_v,
       CASE WHEN VAR_SAMP(val) < 0.001 THEN 1 ELSE 0 END AS low_var
FROM d GROUP BY dim ORDER BY dim
""")

# Orthographic quality profile per source: uppercase / digit / symbol
# character shares (crawl-source health signals).
_q("q420_ortho_profile", """
WITH c AS (SELECT source,
                  CAST(LENGTH(text) AS DOUBLE) AS n,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '', 'g'))
                       AS DOUBLE) AS nu,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
                       AS DOUBLE) AS nd,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', '', 'g'))
                       AS DOUBLE) AS ns
           FROM documents)
SELECT source,
       ROUND(SUM(nu) / SUM(n), 6) AS upper_ratio,
       ROUND(SUM(nd) / SUM(n), 6) AS digit_ratio,
       ROUND(SUM(ns) / SUM(n), 6) AS symbol_ratio
FROM c GROUP BY source ORDER BY source
""",
   engine_sql="""
WITH c AS (SELECT source,
                  CAST(LENGTH(text) AS DOUBLE) AS n,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '')) AS DOUBLE)
                    AS nu,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '')) AS DOUBLE)
                    AS nd,
                  CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', ''))
                       AS DOUBLE) AS ns
           FROM documents)
SELECT source,
       ROUND(SUM(nu) / SUM(n), 6) AS upper_ratio,
       ROUND(SUM(nd) / SUM(n), 6) AS digit_ratio,
       ROUND(SUM(ns) / SUM(n), 6) AS symbol_ratio
FROM c GROUP BY source ORDER BY source
""")


# ---------------------------------------------------------------- B462
# Scale tier of q21's ranking windows. The declared q21 partitions by
# the 3-value l_returnflag: correct, but three single-task sorts of a
# third of the fact table each at any scale. with_grouped_ranks
# (operators/scale_windows.py) computes the IDENTICAL four rank
# columns with every window partitioned by (group, range-bucket) —
# ~n/buckets rows per sort task regardless of group skew. Oracle is
# q21's own window text, so the driver hash-gates the equivalence.
def _q421_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark import catalog
    from shredder_spark.operators.scale_windows import q21_scale
    return q21_scale(spark, catalog.CURRENT_SF_DIR)


_q("q421_grouped_rank_scale",
   oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(RANK() OVER w AS BIGINT) AS rk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
       CAST(NTILE(4) OVER w AS BIGINT) AS nt
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
ORDER BY l_orderkey, l_linenumber
""",
   builder=_q421_builder)


# ---------------------------------------------------------------- B463
# Spearman rank correlation per year (price vs order width). Fractional
# (average) tie ranks via RANK + (tie-group size - 1)/2 — the textbook
# definition — then Pearson CORR of the ranks. Windows are partitioned
# by year (the partitioned-window tier; the grouped-rank scale tier
# q421 covers the low-cardinality escalation).
_q("q422_spearman_rho", """
WITH base AS (SELECT o.o_orderkey,
                     CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
                     CAST(o.o_totalprice AS DOUBLE) AS x,
                     CAST(COUNT(*) AS DOUBLE) AS y
              FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice),
     r AS (SELECT yr,
                  RANK() OVER (PARTITION BY yr ORDER BY x)
                    + (COUNT(*) OVER (PARTITION BY yr, x) - 1) / 2.0 AS rx,
                  RANK() OVER (PARTITION BY yr ORDER BY y)
                    + (COUNT(*) OVER (PARTITION BY yr, y) - 1) / 2.0 AS ry
           FROM base)
SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CORR(rx, ry), 4) AS spearman_rho
FROM r GROUP BY yr ORDER BY yr
""")

# ---------------------------------------------------------------- B464
# Kendall tau-a over a BOUNDED point set (per-nation customer
# aggregates, ≤ 25 points → ≤ 300 ordered pairs): mean sign of
# concordance over distinct pairs. The pairwise self-join is bounded by
# the dimension's cardinality, never the fact table.
_q("q423_kendall_tau", """
WITH pts AS (SELECT c_nationkey AS k,
                    CAST(AVG(c_acctbal) AS DOUBLE) AS x,
                    CAST(COUNT(*) AS DOUBLE) AS y
             FROM customer GROUP BY c_nationkey),
     pairs AS (SELECT SIGN((a.x - b.x) * (a.y - b.y)) AS s
               FROM pts a JOIN pts b ON a.k < b.k)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(s) / COUNT(*), 4) AS kendall_tau
FROM pairs
""")

# ---------------------------------------------------------------- B465
# Welch's unequal-variance t-test (two market segments' balances):
# t statistic plus Welch–Satterthwaite degrees of freedom. One
# conditional-aggregate pass, no join.
_q("q424_welch_ttest", """
WITH s AS (SELECT
             AVG(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) AS m1,
             VAR_SAMP(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) AS v1,
             CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS DOUBLE) AS n1,
             AVG(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END) AS m2,
             VAR_SAMP(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END) AS v2,
             CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS DOUBLE) AS n2
           FROM customer)
SELECT CAST(n1 AS BIGINT) AS n_building, CAST(n2 AS BIGINT) AS n_machinery,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS t_stat,
       ROUND(POWER(v1 / n1 + v2 / n2, 2)
             / (POWER(v1 / n1, 2) / (n1 - 1)
                + POWER(v2 / n2, 2) / (n2 - 1)), 2) AS welch_df
FROM s
""")

# ---------------------------------------------------------------- B466
# One-way ANOVA F across order priorities: between/within mean squares
# from one grouped pass + one global fold (no per-row second scan —
# SSW folds the per-group sample variances).
_q("q425_anova_f", """
WITH g AS (SELECT o_orderpriority AS grp,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  AVG(CAST(o_totalprice AS DOUBLE)) AS m,
                  VAR_SAMP(CAST(o_totalprice AS DOUBLE)) AS v
           FROM orders GROUP BY o_orderpriority),
     tot AS (SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm,
                    CAST(COUNT(*) AS DOUBLE) AS k
             FROM g)
SELECT CAST(k AS BIGINT) AS n_groups, CAST(nt AS BIGINT) AS n_rows,
       ROUND((SELECT SUM(n * POWER(m - gm, 2)) FROM g, tot) / (k - 1)
             / ((SELECT SUM((n - 1) * v) FROM g) / (nt - k)), 4) AS f_stat
FROM tot
""")

# ---------------------------------------------------------------- B467
# Cramér's V effect size (segment × priority): chi-square over the
# FULL cross grid (absent cells contribute their expected count), then
# V = sqrt(chi2 / (n · (min(r,c) − 1))).
_q("q426_cramers_v",
   oracle="""
WITH j AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     obs AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS o
             FROM j GROUP BY a, b),
     ra  AS (SELECT a, CAST(COUNT(*) AS DOUBLE) AS na FROM j GROUP BY a),
     cb  AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS nb FROM j GROUP BY b),
     n   AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM j),
     grid AS (SELECT ra.a, cb.b, ra.na * cb.nb / n.nt AS e,
                     COALESCE(obs.o, 0) AS o
              FROM ra CROSS JOIN cb CROSS JOIN n
              LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
     chi AS (SELECT SUM(POWER(o - e, 2) / e) AS chi2,
                    CAST(COUNT(DISTINCT a) AS DOUBLE) AS r,
                    CAST(COUNT(DISTINCT b) AS DOUBLE) AS c
             FROM grid)
SELECT ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / ((SELECT nt FROM n)
                          * (LEAST(r, c) - 1))), 4) AS cramers_v
FROM chi
""",
   engine_sql="""
-- r13: ra / cb / n re-expanded the orders-customer join, and the
-- final scalar subquery (SELECT nt FROM n) expanded it once more
-- (5 fact scans; CTE_REEXPANSION_SCAN_r13.json). The marginals and
-- total are exact sums of the contingency cell counts, so they now
-- derive from the (a, b) cell aggregate (those three subtrees
-- canonicalize identically — aggregates only, no join-key inference
-- into them — and the stage cache reuses one cell exchange), and nt
-- rides through grid so the scalar subquery disappears (MAX of a
-- constant column). The grid LEFT JOIN branch keeps its own scan
-- (not-null inference on its keys un-canonicalizes it; a null-safe
-- join would change null-category zero-cell semantics). 5 fact scans
-- -> 2. Identical for all inputs: SUM(o) per a over cells spans the
-- same rows as COUNT(*) per a over the raw join (null-b cells
-- included), ditto per b and globally.
WITH j AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     obs AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS o
             FROM j GROUP BY a, b),
     ra  AS (SELECT a, SUM(o) AS na FROM obs GROUP BY a),
     cb  AS (SELECT b, SUM(o) AS nb FROM obs GROUP BY b),
     n   AS (SELECT SUM(o) AS nt FROM obs),
     grid AS (SELECT ra.a, cb.b, n.nt, ra.na * cb.nb / n.nt AS e,
                     COALESCE(obs.o, 0) AS o
              FROM ra CROSS JOIN cb CROSS JOIN n
              LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
     chi AS (SELECT SUM(POWER(o - e, 2) / e) AS chi2,
                    CAST(COUNT(DISTINCT a) AS DOUBLE) AS r,
                    CAST(COUNT(DISTINCT b) AS DOUBLE) AS c,
                    MAX(nt) AS nt
             FROM grid)
SELECT ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / (nt * (LEAST(r, c) - 1))), 4) AS cramers_v
FROM chi
""")

# ---------------------------------------------------------------- B468
# Herfindahl–Hirschman concentration of customer spend within each
# market segment (0–10000 scale): share² fold over a two-level keyed
# aggregate — the antitrust-style concentration audit.
_q("q427_hhi_concentration", """
WITH spend AS (SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
                      SUM(CAST(o.o_totalprice AS DOUBLE)) AS s
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
               GROUP BY c.c_mktsegment, o.o_custkey),
     tot AS (SELECT seg, SUM(s) AS st FROM spend GROUP BY seg)
SELECT spend.seg, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(POWER(100.0 * s / st, 2)), 2) AS hhi
FROM spend JOIN tot ON tot.seg = spend.seg
GROUP BY spend.seg ORDER BY spend.seg
""")

# ---------------------------------------------------------------- B469
# Mutual information I(brand; returnflag) in nats: joint and marginal
# cell probabilities from keyed aggregates, Σ p(x,y)·ln(p(x,y)/p(x)p(y))
# — the categorical-dependence screen (feature-selection building
# block; only observed cells contribute, 0·ln0 = 0).
_q("q428_mutual_information",
   oracle="""
WITH j AS (SELECT p.p_brand AS x, l.l_returnflag AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
     joint AS (SELECT x, y, CAST(COUNT(*) AS DOUBLE) AS nxy
               FROM j GROUP BY x, y),
     mx AS (SELECT x, CAST(COUNT(*) AS DOUBLE) AS nx FROM j GROUP BY x),
     my AS (SELECT y, CAST(COUNT(*) AS DOUBLE) AS ny FROM j GROUP BY y),
     n  AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM j)
SELECT ROUND(SUM((nxy / nt) * LN(nxy * nt / (nx * ny))), 6) AS mi_nats,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM joint JOIN mx ON mx.x = joint.x
           JOIN my ON my.y = joint.y
           CROSS JOIN n
""",
   engine_sql="""
-- r13: the textbook form re-expanded the lineitem-part join under
-- each of joint / mx / my / n (4 fact scans survived AQE stage reuse;
-- CTE_REEXPANSION_SCAN_r13.json). The marginals and the total are
-- exact sums of the joint cell counts, so everything now derives from
-- ONE (x, y) cell aggregate via windows over the bounded cell
-- relation (|brands| x |flags| cells at any SF). Provably identical
-- for all inputs incl. NULL categories: nx / ny / nt window sums span
-- all cells exactly as the GROUP BY marginals over the raw rows did,
-- and the null-cell drop the inner joins performed is the explicit
-- WHERE before the final aggregate.
WITH j AS (SELECT p.p_brand AS x, l.l_returnflag AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
     cell AS (SELECT x, y, CAST(COUNT(*) AS DOUBLE) AS nxy
              FROM j GROUP BY x, y),
     w AS (SELECT x, y, nxy,
                  SUM(nxy) OVER (PARTITION BY x) AS nx,
                  SUM(nxy) OVER (PARTITION BY y) AS ny,
                  SUM(nxy) OVER () AS nt
           FROM cell)
SELECT ROUND(SUM((nxy / nt) * LN(nxy * nt / (nx * ny))), 6) AS mi_nats,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM w WHERE x IS NOT NULL AND y IS NOT NULL
""")

# ---------------------------------------------------------------- B470
# Class-weight computation over the embeddings labels: inverse-
# frequency weights n/(k·n_c) and effective-number weights
# (1−β)/(1−β^n_c), β=0.999 (Cui et al. 2019, class-balanced loss) —
# the standard imbalanced-training prep step.
_q("q429_class_weights", """
WITH c AS (SELECT label, CAST(COUNT(*) AS DOUBLE) AS nc
           FROM embeddings GROUP BY label),
     t AS (SELECT SUM(nc) AS nt, CAST(COUNT(*) AS DOUBLE) AS k FROM c)
SELECT CAST(label AS BIGINT) AS label, CAST(nc AS BIGINT) AS n,
       ROUND(nt / (k * nc), 4) AS inv_freq_w,
       ROUND((1 - 0.999) / (1 - POWER(0.999, nc)), 6) AS eff_num_w
FROM c CROSS JOIN t ORDER BY label
""")


# ---------------------------------------------------------------- B471
# Bollinger bands on the per-flag daily revenue series: 20-day rolling
# mean ± 2σ (ROWS frame, partitioned by flag — the series length is
# bounded by the calendar, and the window never crosses partitions).
# Only full windows emit (rn ≥ 20), so edge frames can't disagree.
# Exactness: daily revenue is summed as integer CENTS; the rolling
# moments use exact integer window sums of the WHOLE-DOLLAR value
# (Σk, Σk², n = 20 fixed — k² stays far from BIGINT range at any SF),
# so every float op downstream sees identical inputs on both engines —
# no accumulation-order rounding jitter.
_q("q430_bollinger_bands", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100) AS BIGINT) AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     w AS (SELECT flag, day, c,
                  SUM(k) OVER w20 AS s1,
                  -- DECIMAL(38,0): the k² term alone passes 2^63 at
                  -- sf100 (same ANSI-overflow class as q661/q670)
                  SUM(CAST(k AS DECIMAL(38,0)) * k) OVER w20 AS s2,
                  ROW_NUMBER() OVER (PARTITION BY flag ORDER BY day) AS rn
           FROM d
           WINDOW w20 AS (PARTITION BY flag ORDER BY day
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
     m AS (SELECT flag, day, c / 100.0 AS rev,
                  s1 / 20.0 AS mid,
                  SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                        * CAST(s1 AS DOUBLE) / 20) / 19) AS sd
           FROM w WHERE rn >= 20)
SELECT flag, day, ROUND(rev, 2) AS rev, ROUND(mid, 2) AS mid,
       ROUND(mid + 2 * sd, 2) AS upper_band,
       ROUND(mid - 2 * sd, 2) AS lower_band,
       CAST(CASE WHEN rev > mid + 2 * sd THEN 1
                 WHEN rev < mid - 2 * sd THEN -1 ELSE 0 END AS BIGINT)
         AS breakout
FROM m ORDER BY flag, day
""")

# ---------------------------------------------------------------- B472
# Stochastic oscillator %K / %D on the same daily series: 14-day
# hi/lo range position, 3-day smoothed — flat-range days emit NULL
# rather than a divide-by-zero.
_q("q431_stochastic_oscillator", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(l_extendedprice AS DOUBLE)) AS rev
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     k AS (SELECT flag, day,
                  CASE WHEN MAX(rev) OVER w14 = MIN(rev) OVER w14 THEN NULL
                       ELSE 100.0 * (rev - MIN(rev) OVER w14)
                            / (MAX(rev) OVER w14 - MIN(rev) OVER w14) END
                    AS pct_k,
                  ROW_NUMBER() OVER (PARTITION BY flag ORDER BY day) AS rn
           FROM d
           WINDOW w14 AS (PARTITION BY flag ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT flag, day, ROUND(pct_k, 4) AS pct_k,
       ROUND(AVG(pct_k) OVER (PARTITION BY flag ORDER BY day
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         AS pct_d
FROM k WHERE rn >= 16 ORDER BY flag, day
""")

# ---------------------------------------------------------------- B473
# On-balance volume: cumulative signed quantity where the sign follows
# the day-over-day revenue direction — LAG + partitioned running sum.
_q("q432_on_balance_volume", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(l_extendedprice AS DOUBLE)) AS rev,
                  SUM(CAST(l_quantity AS DOUBLE)) AS vol
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     s AS (SELECT flag, day, vol,
                  SIGN(rev - LAG(rev) OVER (PARTITION BY flag ORDER BY day))
                    AS dir
           FROM d)
SELECT flag, day,
       ROUND(SUM(COALESCE(dir, 0) * vol)
               OVER (PARTITION BY flag ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS obv
FROM s ORDER BY flag, day
""")

# ---------------------------------------------------------------- B474
# VWAP per brand-month plus its 3-month rolling tier: the
# volume-weighted price is a ratio of two keyed sums, and the rolling
# variant re-weights across the frame (ratio of rolling sums, not a
# rolling ratio). Price·qty accumulates as exact integer cents (the
# quantities are integral), so the single closing division is the only
# float op — deterministic across engines.
_q("q433_vwap", """
WITH m AS (SELECT p.p_brand AS brand,
                  CAST(DATE_TRUNC('month', l.l_shipdate) AS DATE) AS mon,
                  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l.l_quantity) AS BIGINT)) AS pv,
                  SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS v
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY p.p_brand, DATE_TRUNC('month', l.l_shipdate))
SELECT brand, mon,
       FLOOR(pv * 100.0 / NULLIF(v, 0)) / 10000.0 AS vwap,
       FLOOR(SUM(pv) OVER w3 * 100.0 / NULLIF(SUM(v) OVER w3, 0)) / 10000.0
         AS vwap_3m
FROM m
WINDOW w3 AS (PARTITION BY brand ORDER BY mon
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY brand, mon
""")

# ---------------------------------------------------------------- B475
# LOCF resample: the irregular per-type event series re-sampled onto a
# daily calendar grid, missing days carrying the last observed daily
# mean forward (IGNORE NULLS navigation over the gap-filled grid —
# the forward-fill companion to q312's interpolation tier).
_q("q434_locf_resample",
   oracle="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
           FROM events),
cal AS (SELECT CAST(UNNEST(GENERATE_SERIES(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS d
        FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                 FLOOR(SUM(CAST(ROUND(value * 10000) AS BIGINT))
                       * 1.0 / COUNT(*)) / 10000.0 AS v
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
grid AS (SELECT ty.event_type, cal.d, daily.v
         FROM ty CROSS JOIN cal
         LEFT JOIN daily ON daily.event_type = ty.event_type
                        AND daily.d = cal.d)
SELECT event_type, d,
       LAST_VALUE(v IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY d) AS v_locf
FROM grid ORDER BY event_type, d
""",
   engine_sql="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
           FROM events),
cal AS (SELECT EXPLODE(SEQUENCE(lo, hi, INTERVAL 1 DAY)) AS d FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                 FLOOR(SUM(CAST(ROUND(value * 10000) AS BIGINT))
                       * 1.0 / COUNT(*)) / 10000.0 AS v
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
grid AS (SELECT ty.event_type, cal.d, daily.v
         FROM ty CROSS JOIN cal
         LEFT JOIN daily ON daily.event_type = ty.event_type
                        AND daily.d = cal.d)
SELECT event_type, d,
       LAST_VALUE(v) IGNORE NULLS
         OVER (PARTITION BY event_type ORDER BY d) AS v_locf
FROM grid ORDER BY event_type, d
""")

# ---------------------------------------------------------------- B476
# Mean segmental TTR (MSTTR-25): lexical diversity that, unlike raw
# TTR (q368), is comparable across documents of different lengths —
# type/token ratio averaged over consecutive complete 25-token
# segments.
_q("q435_msttr",
   oracle="""
WITH tok AS (SELECT d.doc_id, CAST((g.i - 1) // 25 AS BIGINT) AS seg,
                    t.tok[g.i] AS w
             FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS tok
                   FROM documents) t
             JOIN documents d ON d.doc_id = t.doc_id,
             UNNEST(GENERATE_SERIES(1, LEN(t.tok))) AS g(i)),
     seg AS (SELECT doc_id, seg,
                    CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*) AS ttr,
                    COUNT(*) AS n
             FROM tok GROUP BY doc_id, seg)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       ROUND(AVG(ttr), 4) AS msttr
FROM seg WHERE n = 25 GROUP BY doc_id
HAVING COUNT(*) >= 2 ORDER BY doc_id
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, CAST(FLOOR(pos / 25) AS BIGINT) AS seg, w
             FROM documents
             LATERAL VIEW POSEXPLODE(SPLIT(LOWER(text), ' ')) t AS pos, w),
     seg AS (SELECT doc_id, seg,
                    CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*) AS ttr,
                    COUNT(*) AS n
             FROM tok GROUP BY doc_id, seg)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       ROUND(AVG(ttr), 4) AS msttr
FROM seg WHERE n = 25 GROUP BY doc_id
HAVING COUNT(*) >= 2 ORDER BY doc_id
""")

# ---------------------------------------------------------------- B477
# RAKE-lite keyword extraction (Rose et al. 2010): candidate phrases
# are maximal stopword-free token runs; word score = deg/freq where
# deg sums the lengths of phrases containing the word; phrase score
# sums its word scores; top-2 phrases per doc. Phrase splitting is a
# stopword→delimiter regexp + split, all set-based.
_q("q436_rake_keywords",
   oracle="""
WITH ph AS (SELECT doc_id, TRIM(p) AS phrase
            FROM (SELECT doc_id,
                         UNNEST(STRING_SPLIT(
                           REGEXP_REPLACE(LOWER(text),
                                          '\\b(a|the|and|of|to|in|is)\\b',
                                          '|', 'g'), '|')) AS p
                  FROM documents)
            WHERE TRIM(p) <> ''),
     pw AS (SELECT doc_id, phrase,
                   LEN(STRING_SPLIT(phrase, ' ')) AS plen,
                   UNNEST(STRING_SPLIT(phrase, ' ')) AS w
            FROM ph),
     ws AS (SELECT w, SUM(CAST(plen AS DOUBLE)) / COUNT(*) AS score
            FROM pw WHERE w <> '' GROUP BY w),
     ps AS (SELECT pw.doc_id, pw.phrase,
                   ROUND(SUM(ws.score), 4) AS score
            FROM pw JOIN ws ON ws.w = pw.w WHERE pw.w <> ''
            GROUP BY pw.doc_id, pw.phrase),
     top AS (SELECT doc_id, phrase, score,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, phrase) AS rk
             FROM ps)
SELECT doc_id, phrase, score FROM top WHERE rk <= 2
ORDER BY doc_id, phrase
""",
   engine_sql="""
WITH ph AS (SELECT doc_id, TRIM(p) AS phrase
            FROM (SELECT doc_id,
                         EXPLODE(SPLIT(
                           REGEXP_REPLACE(LOWER(text),
                                          '\\\\b(a|the|and|of|to|in|is)\\\\b',
                                          '|'), '\\\\|')) AS p
                  FROM documents)
            WHERE TRIM(p) <> ''),
     pw AS (SELECT doc_id, phrase,
                   SIZE(SPLIT(phrase, ' ')) AS plen,
                   EXPLODE(SPLIT(phrase, ' ')) AS w
            FROM ph),
     ws AS (SELECT w, SUM(CAST(plen AS DOUBLE)) / COUNT(*) AS score
            FROM pw WHERE w <> '' GROUP BY w),
     ps AS (SELECT pw.doc_id, pw.phrase,
                   ROUND(SUM(ws.score), 4) AS score
            FROM pw JOIN ws ON ws.w = pw.w WHERE pw.w <> ''
            GROUP BY pw.doc_id, pw.phrase),
     top AS (SELECT doc_id, phrase, score,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, phrase) AS rk
             FROM ps)
SELECT doc_id, phrase, score FROM top WHERE rk <= 2
ORDER BY doc_id, phrase
""")

# ---------------------------------------------------------------- B478
# Hard-negative mining for contrastive training: each anchor's nearest
# OTHER-label neighbor by cosine (the hardest negative), over an
# id-bounded block — the deliberate complement of q326's random
# negative sampling. At scale the block becomes the ANN candidate set.
_q("q437_hard_negatives",
   oracle="""
WITH e AS MATERIALIZED (
           SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 300 AND embedding IS NOT NULL
             AND COALESCE(LIST_SUM(LIST_TRANSFORM(
                   embedding::DOUBLE[], x -> x*x)), 0) > 0),
     p AS (SELECT a.vec_id AS i, a.label AS la, b.vec_id AS j,
                  b.label AS lb,
                  LIST_DOT_PRODUCT(a.v, b.v)
                  / (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
                     * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) AS sim
           FROM e a JOIN e b
             ON a.vec_id <> b.vec_id AND a.label <> b.label),
     r AS (SELECT i, j, la, lb, sim,
                  ROW_NUMBER() OVER (PARTITION BY i
                                     ORDER BY sim DESC, j) AS rk
           FROM p)
SELECT i AS anchor_id, CAST(la AS BIGINT) AS anchor_label,
       j AS negative_id, CAST(lb AS BIGINT) AS negative_label,
       ROUND(sim, 4) AS sim
FROM r WHERE rk = 1 ORDER BY anchor_id
""",
   engine_sql="""
WITH e AS (SELECT vec_id, label,
                  TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           WHERE vec_id < 300 AND embedding IS NOT NULL
             AND AGGREGATE(embedding, 0D,
                   (s,x) -> s + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) > 0),
     p AS (SELECT a.vec_id AS i, a.label AS la, b.vec_id AS j,
                  b.label AS lb,
                  AGGREGATE(ZIP_WITH(a.v, b.v, (x, y) -> x * y), 0D,
                            (s, x) -> s + x)
                  / (SQRT(AGGREGATE(a.v, 0D, (s, x) -> s + x * x))
                     * SQRT(AGGREGATE(b.v, 0D, (s, x) -> s + x * x))) AS sim
           FROM e a JOIN e b
             ON a.vec_id <> b.vec_id AND a.label <> b.label),
     r AS (SELECT i, j, la, lb, sim,
                  ROW_NUMBER() OVER (PARTITION BY i
                                     ORDER BY sim DESC, j) AS rk
           FROM p)
SELECT i AS anchor_id, CAST(la AS BIGINT) AS anchor_label,
       j AS negative_id, CAST(lb AS BIGINT) AS negative_label,
       ROUND(sim, 4) AS sim
FROM r WHERE rk = 1 ORDER BY anchor_id
""")


# ---------------------------------------------------------------- B479
# Local clustering coefficient per node (co-purchase graph, bounded
# block like q284): triangles at v over deg(v)·(deg(v)−1)/2 possible
# wedges. FLOOR-scaled presentation — a ratio of small ints can land
# exactly on a ROUND half-boundary, where the engines' rounding rules
# diverge.
_q("q438_clustering_coefficient", """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey <= 500),
     e AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
     sym AS (SELECT s AS u, d AS v FROM e
             UNION ALL SELECT d AS u, s AS v FROM e),
     deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM sym GROUP BY u),
     tri AS (SELECT w1.u, CAST(COUNT(*) AS BIGINT) AS t
             FROM sym w1 JOIN sym w2 ON w1.u = w2.u AND w1.v < w2.v
             JOIN e t ON t.s = w1.v AND t.d = w2.v
             GROUP BY w1.u)
SELECT deg.u AS node, deg.dg AS degree, COALESCE(tri.t, 0) AS triangles,
       FLOOR(COALESCE(tri.t, 0) * 20000.0
             / (deg.dg * (deg.dg - 1))) / 10000.0 AS coeff
FROM deg LEFT JOIN tri ON tri.u = deg.u
WHERE deg.dg >= 2 ORDER BY node
""")

# ---------------------------------------------------------------- B480
# Bounded-round k-core peel (k = 3, three rounds): each round drops
# nodes of degree < k and every edge touching them — three chained
# relational rounds approximate the fixpoint (the full decomposition
# is the operator's iterative tier; the declared text pins the
# per-round semantics).
_q("q439_kcore_peel", """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey <= 500),
     e0 AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey),
     s0 AS (SELECT s AS u, d AS v FROM e0
            UNION ALL SELECT d AS u, s AS v FROM e0),
     k1 AS (SELECT u FROM s0 GROUP BY u HAVING COUNT(*) >= 3),
     s1 AS (SELECT s0.u, s0.v FROM s0
            JOIN k1 a ON a.u = s0.u JOIN k1 b ON b.u = s0.v),
     k2 AS (SELECT u FROM s1 GROUP BY u HAVING COUNT(*) >= 3),
     s2 AS (SELECT s1.u, s1.v FROM s1
            JOIN k2 a ON a.u = s1.u JOIN k2 b ON b.u = s1.v),
     k3 AS (SELECT u FROM s2 GROUP BY u HAVING COUNT(*) >= 3),
     s3 AS (SELECT s2.u, s2.v FROM s2
            JOIN k3 a ON a.u = s2.u JOIN k3 b ON b.u = s2.v)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree_r3
FROM s3 GROUP BY u ORDER BY node
""")

# ---------------------------------------------------------------- B481
# Classical decomposition of the daily revenue series: trend = centered
# 7-day MA, seasonal = per-DOW mean of the detrended series, remainder.
# Exactness: cents in, and the detrended value is carried ×7
# (d7 = 7c − Σ7) so every aggregate sums exact BIGINTs; the only float
# ops are final divisions of identical integers. The unpartitioned
# window runs over the DAILY ROLLUP — bounded by the calendar, not the
# fact table (same posture as q353/q391).
_q("q440_seasonal_decomposition",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  (ISODOW(CAST(o_orderdate AS DATE)) - 1) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, c,
                  SUM(c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, c, s7, 7 * c - s7 AS d7
           FROM w WHERE n7 = 7),
     seas AS (SELECT dow, SUM(d7) AS sd7,
                     CAST(COUNT(*) AS BIGINT) AS nd
              FROM f GROUP BY dow)
SELECT f.day, CAST(f.dow AS BIGINT) AS dow,
       FLOOR(f.s7 / 7.0) / 100.0 AS trend,
       FLOOR(seas.sd7 * 1.0 / (7 * seas.nd)) / 100.0 AS seasonal,
       FLOOR(f.d7 / 7.0 - seas.sd7 * 1.0 / (7 * seas.nd)) / 100.0
         AS remainder
FROM f JOIN seas ON seas.dow = f.dow ORDER BY f.day
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  PMOD(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 5, 7) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, c,
                  SUM(c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, c, s7, 7 * c - s7 AS d7
           FROM w WHERE n7 = 7),
     seas AS (SELECT dow, SUM(d7) AS sd7,
                     CAST(COUNT(*) AS BIGINT) AS nd
              FROM f GROUP BY dow)
SELECT f.day, CAST(f.dow AS BIGINT) AS dow,
       FLOOR(f.s7 / 7.0) / 100.0 AS trend,
       FLOOR(seas.sd7 * 1.0 / (7 * seas.nd)) / 100.0 AS seasonal,
       FLOOR(f.d7 / 7.0 - seas.sd7 * 1.0 / (7 * seas.nd)) / 100.0
         AS remainder
FROM f JOIN seas ON seas.dow = f.dow ORDER BY f.day
""")

# ---------------------------------------------------------------- B482
# Small-file compaction planning: per source directory, documents
# (stand-ins for files, sized by n_chars) are packed into ~4000-byte
# merge groups by bucketing the exact running byte count — the
# greedy-prefix plan a table-maintenance job executes.
_q("q441_compaction_plan", """
WITH f AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
                  SUM(CAST(n_chars AS BIGINT))
                    OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS run
           FROM documents),
     g AS (SELECT source, doc_id, bytes,
                  CAST(FLOOR((run - bytes) / 4000.0) AS BIGINT) AS grp
           FROM f)
SELECT source, grp, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS group_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM g GROUP BY source, grp ORDER BY source, grp
""")

# ---------------------------------------------------------------- B483
# Join-key skew report (the pre-flight check before a big equi-join):
# distinct-key count, heaviest key's share, and the p99/p50 multiplier
# from exact integer per-key counts.
_q("q442_skew_report", """
WITH k AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS c
           FROM lineitem GROUP BY l_partkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_cnt,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p50_cnt,
       CAST(PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p99_cnt,
       FLOOR(MAX(c) * 1000000.0 / SUM(c)) / 1000000.0 AS max_share
FROM k
""")

# ---------------------------------------------------------------- B484
# Join fan-out audit: predicted output cardinality of an equi-join
# from the two sides' per-key histograms (Σ nₐ·n_b — what a CBO
# estimates from stats), plus the heaviest fan-out keys. The predicted
# total provably equals the executed inner-join count; the audit's
# value is that it needs only the two cheap histograms.
_q("q443_join_fanout_audit", """
WITH a AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS na
           FROM lineitem GROUP BY l_suppkey),
     b AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
           FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_suppkey),
     j AS (SELECT a.k, a.na, b.nb, a.na * b.nb AS pairs
           FROM a JOIN b ON b.k = a.k)
SELECT k AS key, na, nb, CAST(pairs AS BIGINT) AS pairs
FROM j ORDER BY pairs DESC, k LIMIT 5
""")

# ---------------------------------------------------------------- B485
# Referential-integrity audit over the star schema's three FK edges:
# child row counts, orphan counts (anti-join), and the orphan ratio —
# one UNION ALL report, each leg a broadcast-able anti-join.
_q("q444_fk_audit", """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST(COUNT(*) AS BIGINT) AS child_rows,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS orphans
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part' AS fk,
       CAST(COUNT(*) AS BIGINT) AS child_rows,
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS orphans
FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
UNION ALL
SELECT 'orders.o_custkey->customer' AS fk,
       CAST(COUNT(*) AS BIGINT) AS child_rows,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS orphans
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY fk
""")


# ---------------------------------------------------------------- B486
# Average precision per segment. ENGINE SIDE runs the grouped-rank
# scale operator twice (all rows, relevant rows) — every window is
# (group, bucket)-partitioned — exploiting AP = mean over relevant
# rows of rel_rank/rank; the oracle is the textbook running-precision
# window text. Deterministic pseudo-scores from md5.
def _q445_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark import catalog
    from shredder_spark.operators.scale_windows import with_grouped_ranks
    cust = catalog.load_table(spark, catalog.CURRENT_SF_DIR, "customer")
    scored = cust.select(
        F.col("c_mktsegment").alias("seg"), "c_custkey",
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
               16, 10).cast("long").alias("score"),
        (F.col("c_acctbal") > 5000).cast("int").alias("rel"))
    order = [("score", "desc"), ("c_custkey", "asc")]
    ranked = with_grouped_ranks(scored, ["seg"], order, row_number_col="rk")
    rel = ranked.filter(F.col("rel") == 1)
    rel_ranked = with_grouped_ranks(rel, ["seg"], order,
                                    row_number_col="rel_rk")
    return (rel_ranked.groupBy("seg")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rel"),
                 (F.floor(F.avg(F.col("rel_rk")
                                / F.col("rk")) * 10000) / 10000.0)
                 .alias("ap"))
            .orderBy("seg"))


_q("q445_average_precision",
   oracle="""
WITH s AS (SELECT c_mktsegment AS seg, c_custkey,
                  CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 8)
                       AS BIGINT) AS score,
                  CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS rel
           FROM customer),
     r AS (SELECT seg, rel,
                  ROW_NUMBER() OVER w AS rk,
                  SUM(rel) OVER (PARTITION BY seg
                                 ORDER BY score DESC, c_custkey
                                 ROWS UNBOUNDED PRECEDING) AS cumrel
           FROM s
           WINDOW w AS (PARTITION BY seg ORDER BY score DESC, c_custkey))
SELECT seg, CAST(SUM(rel) AS BIGINT) AS n_rel,
       FLOOR(AVG(CASE WHEN rel = 1
                      THEN CAST(cumrel AS DOUBLE) / rk END) * 10000)
         / 10000.0 AS ap
FROM r GROUP BY seg HAVING SUM(rel) > 0 ORDER BY seg
""",
   builder=_q445_builder)

# ---------------------------------------------------------------- B487
# nDCG@10 per segment: graded relevance from balance bands, DCG over
# the hash-score ranking vs the ideal (relevance-sorted) ranking.
_q("q446_ndcg",
   oracle="""
WITH s AS (SELECT c_mktsegment AS seg, c_custkey,
                  CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 8)
                       AS BIGINT) AS score,
                  CASE WHEN c_acctbal > 7500 THEN 3
                       WHEN c_acctbal > 5000 THEN 2
                       WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS rel
           FROM customer),
     r AS (SELECT seg, rel,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY score DESC, c_custkey) AS rk,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY rel DESC, c_custkey) AS irk
           FROM s),
     dcg AS (SELECT seg,
                    SUM(CASE WHEN rk <= 10
                             THEN (POWER(2, rel) - 1) / LOG2(rk + 1) END)
                      AS dcg,
                    SUM(CASE WHEN irk <= 10
                             THEN (POWER(2, rel) - 1) / LOG2(irk + 1) END)
                      AS idcg
             FROM r GROUP BY seg)
SELECT seg, FLOOR(dcg * 10000.0 / NULLIF(idcg, 0)) / 10000.0 AS ndcg
FROM dcg ORDER BY seg
""",
   engine_sql="""
WITH s AS (SELECT c_mktsegment AS seg, c_custkey,
                  CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)), 1, 8),
                            16, 10) AS BIGINT) AS score,
                  CASE WHEN c_acctbal > 7500 THEN 3
                       WHEN c_acctbal > 5000 THEN 2
                       WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS rel
           FROM customer),
     r AS (SELECT seg, rel,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY score DESC, c_custkey) AS rk,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY rel DESC, c_custkey) AS irk
           FROM s),
     dcg AS (SELECT seg,
                    SUM(CASE WHEN rk <= 10
                             THEN (POWER(2, rel) - 1) / LOG2(rk + 1) END)
                      AS dcg,
                    SUM(CASE WHEN irk <= 10
                             THEN (POWER(2, rel) - 1) / LOG2(irk + 1) END)
                      AS idcg
             FROM r GROUP BY seg)
SELECT seg, FLOOR(dcg * 10000.0 / NULLIF(idcg, 0)) / 10000.0 AS ndcg
FROM dcg ORDER BY seg
""")


# ---------------------------------------------------------------- B488
# ROC curve points at 9 fixed score thresholds: TPR/FPR from one
# conditional-aggregate pass per threshold (inline threshold dim ×
# scored rows — no global sort; the md5 pseudo-score makes the curve
# deterministic).
_q("q447_roc_points",
   oracle="""
WITH s AS (SELECT CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 8)
                       AS BIGINT) AS score,
                  CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS y
           FROM customer),
     t AS (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS i),
     g AS (SELECT t.i, CAST(t.i AS BIGINT) * 429496729 AS thr,
                  SUM(CASE WHEN s.score > CAST(t.i AS BIGINT) * 429496729 AND s.y = 1
                           THEN 1 ELSE 0 END) AS tp,
                  SUM(CASE WHEN s.score > CAST(t.i AS BIGINT) * 429496729 AND s.y = 0
                           THEN 1 ELSE 0 END) AS fp,
                  SUM(s.y) AS pos, SUM(1 - s.y) AS neg
           FROM t CROSS JOIN s GROUP BY t.i)
SELECT CAST(i AS BIGINT) AS i, CAST(thr AS BIGINT) AS thr,
       FLOOR(tp * 1000000.0 / pos) / 1000000.0 AS tpr,
       FLOOR(fp * 1000000.0 / neg) / 1000000.0 AS fpr
FROM g ORDER BY i
""",
   engine_sql="""
WITH s AS (SELECT CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)), 1, 8),
                            16, 10) AS BIGINT) AS score,
                  CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS y
           FROM customer),
     t AS (SELECT EXPLODE(SEQUENCE(1, 9)) AS i),
     g AS (SELECT t.i, CAST(t.i AS BIGINT) * 429496729 AS thr,
                  SUM(CASE WHEN s.score > CAST(t.i AS BIGINT) * 429496729 AND s.y = 1
                           THEN 1 ELSE 0 END) AS tp,
                  SUM(CASE WHEN s.score > CAST(t.i AS BIGINT) * 429496729 AND s.y = 0
                           THEN 1 ELSE 0 END) AS fp,
                  SUM(s.y) AS pos, SUM(1 - s.y) AS neg
           FROM t CROSS JOIN s GROUP BY t.i)
SELECT CAST(i AS BIGINT) AS i, CAST(thr AS BIGINT) AS thr,
       FLOOR(tp * 1000000.0 / pos) / 1000000.0 AS tpr,
       FLOOR(fp * 1000000.0 / neg) / 1000000.0 AS fpr
FROM g ORDER BY i
""")

# ---------------------------------------------------------------- B489
# Position-based (U-shaped 40/20/40) multi-touch attribution: touches
# strictly before each user's first purchase earn 0.4 at the ends and
# 0.2/(n−2) in the middle. Credits quantize to exact integer
# MICRO-credits per touch before the cross-user sum, so the rollup is
# integer-exact (float summation order never enters).
_q("q448_position_attribution", """
WITH conv AS (SELECT user_id, MIN(ts) AS t_conv FROM events
              WHERE event_type = 'purchase' GROUP BY user_id),
     touch AS (SELECT e.user_id, e.event_type, e.ts,
                      ROW_NUMBER() OVER (PARTITION BY e.user_id
                                         ORDER BY e.ts, e.event_id) AS pos,
                      COUNT(*) OVER (PARTITION BY e.user_id) AS n
               FROM events e JOIN conv c ON c.user_id = e.user_id
               WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'),
     cr AS (SELECT event_type,
                   CAST(CASE
                     WHEN n = 1 THEN 1000000
                     WHEN n = 2 THEN 500000
                     WHEN pos = 1 OR pos = n THEN 400000
                     ELSE FLOOR(200000.0 / (n - 2))
                   END AS BIGINT) AS microcredit
            FROM touch)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(microcredit) AS BIGINT) AS microcredits
FROM cr GROUP BY event_type ORDER BY event_type
""")

# ---------------------------------------------------------------- B490
# Time-decay attribution (half-life 7 days): per-user weights
# 0.5^(Δdays/7) normalized within the journey, then quantized to
# micro-credits before the cross-user rollup (same exactness rule as
# q448 — floats only inside one user's bounded journey).
_q("q449_time_decay_attribution",
   oracle="""
WITH conv AS (SELECT user_id, MIN(ts) AS t_conv FROM events
              WHERE event_type = 'purchase' GROUP BY user_id),
     touch AS (SELECT e.user_id, e.event_type,
                      LEAST((EPOCH_US(c.t_conv) - EPOCH_US(e.ts))
                            // 604800000000, 40) AS wk
               FROM events e JOIN conv c ON c.user_id = e.user_id
               WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'),
     wi AS (SELECT user_id, event_type,
                   CAST(POWER(2.0, 40 - wk) AS BIGINT) AS w
            FROM touch),
     norm AS (SELECT event_type,
                     (w * 1000000) // SUM(w) OVER (PARTITION BY user_id)
                       AS microcredit
              FROM wi)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(microcredit) AS BIGINT) AS microcredits
FROM norm GROUP BY event_type ORDER BY event_type
""",
   engine_sql="""
WITH conv AS (SELECT user_id, MIN(ts) AS t_conv FROM events
              WHERE event_type = 'purchase' GROUP BY user_id),
     -- whole-week halving with a 40-week decay floor: the exponent is
     -- an exact integer, every weight an exact power of two, and the
     -- normalization an integer division — no POWER-ULP or float-sum
     -- order divergence between engines (the continuous-decay form
     -- flipped FLOOR half-boundaries at sf0.1)
     touch AS (SELECT e.user_id, e.event_type,
                      LEAST((UNIX_MICROS(CAST(c.t_conv AS TIMESTAMP))
                             - UNIX_MICROS(CAST(e.ts AS TIMESTAMP)))
                            DIV 604800000000, 40) AS wk
               FROM events e JOIN conv c ON c.user_id = e.user_id
               WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'),
     wi AS (SELECT user_id, event_type,
                   CAST(POWER(2.0, 40 - wk) AS BIGINT) AS w
            FROM touch),
     norm AS (SELECT event_type,
                     (w * 1000000) DIV SUM(w) OVER (PARTITION BY user_id)
                       AS microcredit
              FROM wi)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(microcredit) AS BIGINT) AS microcredits
FROM norm GROUP BY event_type ORDER BY event_type
""")

# ---------------------------------------------------------------- B491
# Quantile-quantile shift report between two periods: the 1995 vs 1996
# order-value deciles side by side with their deltas — the
# distribution-drift view a migration/repricing review reads.
def _q450_builder(spark: SparkSession) -> DataFrame:
    # r10: the two 9-decile vectors via the distributed exact-rank
    # tier (one pass per year-slice; ~23 M near-unique values each at
    # sf100 would otherwise sit in single-reducer value→count maps).
    # FLOOR quantization arithmetic preserved exactly (Python doubles
    # == SQL doubles); result assembled as a 9-row literal frame —
    # bounded by construction. Oracle text unchanged.
    import math

    from shredder_spark.operators.scale_windows import exact_percentiles

    o = spark.table("orders")
    ps = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    qa = exact_percentiles(
        o.filter(F.expr("EXTRACT(YEAR FROM o_orderdate) = 1995")),
        F.col("o_totalprice").cast("double"), ps)
    qb = exact_percentiles(
        o.filter(F.expr("EXTRACT(YEAR FROM o_orderdate) = 1996")),
        F.col("o_totalprice").cast("double"), ps)
    for label, qs in (("1995", qa), ("1996", qb)):
        if qs[0] is None:
            raise ValueError(
                f"q450: year slice {label} is empty (no non-NULL "
                "o_totalprice rows) — QQ shift undefined")
    rows = [(i + 1,
             math.floor(qa[i] * 100 + 1e-4) / 100.0,
             math.floor(qb[i] * 100 + 1e-4) / 100.0,
             math.floor((qb[i] - qa[i]) * 100 + 1e-4) / 100.0)
            for i in range(9)]
    return spark.createDataFrame(
        rows, "decile bigint, q_1995 double, q_1996 double, shift double"
    ).orderBy("decile")


_q("q450_qq_shift",
   oracle="""
WITH a AS (SELECT QUANTILE_CONT(CAST(o_totalprice AS DOUBLE),
                                [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
           FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
     b AS (SELECT QUANTILE_CONT(CAST(o_totalprice AS DOUBLE),
                                [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
           FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996),
     u AS (SELECT g.i AS i, a.q[g.i] AS qa, b.q[g.i] AS qb
           FROM a, b, UNNEST(GENERATE_SERIES(1, 9)) AS g(i))
SELECT CAST(i AS BIGINT) AS decile,
       -- +1e-4 boundary nudge: at sf1 the decile lands ON a
       -- replicated cent value, qa*100 is integer +- 1ulp of
       -- cross-engine interpolation jitter, and bare FLOOR flips
       -- (1e-4 is far above the jitter, far below the cent grid)
       FLOOR(qa * 100 + 1e-4) / 100.0 AS q_1995,
       FLOOR(qb * 100 + 1e-4) / 100.0 AS q_1996,
       FLOOR((qb - qa) * 100 + 1e-4) / 100.0 AS shift
FROM u ORDER BY decile
""",
   builder=_q450_builder)

# ---------------------------------------------------------------- B492
# Nelson–Aalen cumulative hazard (companion to q337's Kaplan–Meier,
# same right-censored lifetimes): H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ — the ordered
# running sum is over the BOUNDED distinct-duration rollup, and both
# engines fold it in the same ascending frame order.
_q("q451_nelson_aalen",
   oracle="""
WITH life AS (SELECT user_id, MIN(ts) AS t0,
                     MIN(CASE WHEN event_type = 'error' THEN ts END)
                       AS t_err,
                     MAX(ts) AS t_last
              FROM events GROUP BY user_id),
     obs AS (SELECT CAST(CEIL((EPOCH(COALESCE(t_err, t_last))
                               - EPOCH(t0)) / 86400.0) AS BIGINT) AS t_days,
                    CASE WHEN t_err IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM life),
     by_t AS (SELECT t_days, CAST(SUM(ev) AS DOUBLE) AS d,
                     CAST(COUNT(*) AS DOUBLE) AS c
              FROM obs GROUP BY t_days),
     risk AS (SELECT t_days, d,
                     SUM(c) OVER (ORDER BY t_days DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
              FROM by_t)
SELECT CAST(t_days AS BIGINT) AS t_days,
       CAST(d AS BIGINT) AS d_events,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       FLOOR(SUM(d / n_at_risk) OVER (ORDER BY t_days
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) * 10000) / 10000.0
         AS cum_hazard
FROM risk WHERE d > 0 ORDER BY t_days
""",
   engine_sql="""
WITH life AS (SELECT user_id, MIN(ts) AS t0,
                     MIN(CASE WHEN event_type = 'error' THEN ts END)
                       AS t_err,
                     MAX(ts) AS t_last
              FROM events GROUP BY user_id),
     obs AS (SELECT CAST(CEIL((UNIX_MICROS(CAST(COALESCE(t_err, t_last)
                                           AS TIMESTAMP))
                               - UNIX_MICROS(CAST(t0 AS TIMESTAMP)))
                              / 86400000000.0) AS BIGINT)
                      AS t_days,
                    CASE WHEN t_err IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM life),
     by_t AS (SELECT t_days, CAST(SUM(ev) AS DOUBLE) AS d,
                     CAST(COUNT(*) AS DOUBLE) AS c
              FROM obs GROUP BY t_days),
     risk AS (SELECT t_days, d,
                     SUM(c) OVER (ORDER BY t_days DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
              FROM by_t)
SELECT CAST(t_days AS BIGINT) AS t_days,
       CAST(d AS BIGINT) AS d_events,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       FLOOR(SUM(d / n_at_risk) OVER (ORDER BY t_days
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) * 10000) / 10000.0
         AS cum_hazard
FROM risk WHERE d > 0 ORDER BY t_days
""")

# ---------------------------------------------------------------- B493
# Rolling 30-day correlation between the A and R daily revenue series
# (co-movement monitor): conditional-agg pivot to two aligned series,
# correlation over a ROWS frame from EXACT integer moment sums.
# Native CORR can't be used: Spark's ANSI window CORR throws
# DIVIDE_BY_ZERO on a zero-variance frame (verified; a constant
# 30-day stretch is legal data), and a CASE guard cannot suppress
# window evaluation. Both texts instead build Σx/Σx²/Σxy per frame in
# exact wide-integer arithmetic (DuckDB HUGEINT / Spark DECIMAL(38,0)
# — cents² overflows BIGINT), so cov/vx/vy are identical integers on
# both engines, the zero-variance guard is explicit, and the final
# double division is deterministic.
_q("q452_rolling_correlation", oracle="""
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  SUM(CASE WHEN l_returnflag = 'A'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS ca,
                  SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS cr
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     w AS (SELECT day,
                  CAST(COUNT(*) OVER w30 AS HUGEINT) AS n,
                  SUM(CAST(ca AS HUGEINT)) OVER w30 AS sx,
                  SUM(CAST(cr AS HUGEINT)) OVER w30 AS sy,
                  SUM(CAST(ca AS HUGEINT) * ca) OVER w30 AS sxx,
                  SUM(CAST(cr AS HUGEINT) * cr) OVER w30 AS syy,
                  SUM(CAST(ca AS HUGEINT) * cr) OVER w30 AS sxy,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d
           WINDOW w30 AS (ORDER BY day
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
     v AS (SELECT day, rn,
                  CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
                  CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                  CAST(n * syy - sy * sy AS DOUBLE) AS vy
           FROM w)
SELECT day,
       FLOOR(CASE WHEN vx > 0 AND vy > 0
                  THEN cov / (SQRT(vx) * SQRT(vy)) END * 10000)
         / 10000.0 AS rho30
FROM v WHERE rn >= 30 ORDER BY day
""", engine_sql="""
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  SUM(CASE WHEN l_returnflag = 'A'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS ca,
                  SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS cr
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     w AS (SELECT day,
                  CAST(COUNT(*) OVER w30 AS DECIMAL(38, 0)) AS n,
                  SUM(CAST(ca AS DECIMAL(19, 0))) OVER w30 AS sx,
                  SUM(CAST(cr AS DECIMAL(19, 0))) OVER w30 AS sy,
                  SUM(CAST(ca AS DECIMAL(19, 0))
                      * CAST(ca AS DECIMAL(19, 0))) OVER w30 AS sxx,
                  SUM(CAST(cr AS DECIMAL(19, 0))
                      * CAST(cr AS DECIMAL(19, 0))) OVER w30 AS syy,
                  SUM(CAST(ca AS DECIMAL(19, 0))
                      * CAST(cr AS DECIMAL(19, 0))) OVER w30 AS sxy,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d
           WINDOW w30 AS (ORDER BY day
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
     v AS (SELECT day, rn,
                  CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
                  CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                  CAST(n * syy - sy * sy AS DOUBLE) AS vy
           FROM w)
SELECT day,
       FLOOR(CASE WHEN vx > 0 AND vy > 0
                  THEN cov / (SQRT(vx) * SQRT(vy)) END * 10000)
         / 10000.0 AS rho30
FROM v WHERE rn >= 30 ORDER BY day
""")

# ---------------------------------------------------------------- B494
# Burst detection on per-type daily event counts: a day flags when its
# count exceeds μ + 2σ of the trailing 28 days (current day excluded;
# ≥7 prior days required, so the gate fires on the small fixtures too).
# Moments come from exact integer Σc/Σc² window sums.
_q("q453_burst_detection", """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
     w AS (SELECT event_type, day, c,
                  SUM(c) OVER w28 AS s1, SUM(c * c) OVER w28 AS s2,
                  COUNT(*) OVER w28 AS n
           FROM d
           WINDOW w28 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
     z AS (SELECT event_type, day, c, n,
                  s1 * 1.0 / n AS mu,
                  SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                        * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
           FROM w WHERE n >= 7)
SELECT event_type, day, c,
       FLOOR(mu * 100) / 100.0 AS mu28,
       FLOOR(sd * 100) / 100.0 AS sd28
FROM z WHERE c > mu + 2 * sd ORDER BY event_type, day
""")


# ---------------------------------------------------------------- B495
# Decomposition-residual anomaly report: q440's exact detrended series
# scored against the MAD of its remainders (|rem−med| > 3·MAD flags).
# Report-style output (every day + flag) so the gate logic is
# verifiable regardless of how many days actually flag.
_q("q454_stl_anomaly",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  (ISODOW(CAST(o_orderdate AS DATE)) - 1) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, c,
                  SUM(c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, 7 * c - s7 AS d7 FROM w WHERE n7 = 7),
     seas AS (SELECT dow, SUM(d7) AS sd7,
                     CAST(COUNT(*) AS BIGINT) AS nd
              FROM f GROUP BY dow),
     r AS (SELECT f.day,
                  f.d7 / 7.0 - seas.sd7 * 1.0 / (7 * seas.nd) AS rem
           FROM f JOIN seas ON seas.dow = f.dow),
     med AS (SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY rem)
               AS m FROM r),
     mad AS (SELECT PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY ABS(rem - med.m)) AS v
             FROM r, med)
SELECT r.day, FLOOR(r.rem / 100.0) / 100.0 AS remainder,
       CAST(CASE WHEN ABS(r.rem - med.m) > 3 * mad.v
                 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
FROM r, med, mad ORDER BY r.day
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  PMOD(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 5, 7) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, c,
                  SUM(c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, 7 * c - s7 AS d7 FROM w WHERE n7 = 7),
     seas AS (SELECT dow, SUM(d7) AS sd7,
                     CAST(COUNT(*) AS BIGINT) AS nd
              FROM f GROUP BY dow),
     r AS (SELECT f.day,
                  f.d7 / 7.0 - seas.sd7 * 1.0 / (7 * seas.nd) AS rem
           FROM f JOIN seas ON seas.dow = f.dow),
     med AS (SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY rem)
               AS m FROM r),
     mad AS (SELECT PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY ABS(rem - med.m)) AS v
             FROM r CROSS JOIN med)
SELECT r.day, FLOOR(r.rem / 100.0) / 100.0 AS remainder,
       CAST(CASE WHEN ABS(r.rem - med.m) > 3 * mad.v
                 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
FROM r CROSS JOIN med CROSS JOIN mad ORDER BY r.day
""")

# ---------------------------------------------------------------- B496
# Boilerplate byte-savings report per source: tokens living in 8-token
# chunks shared by ≥3 docs (q388's CCNet-style chunk hash) rolled up
# to the per-source dedup-savings view an ingestion pipeline reports.
_q("q455_boilerplate_savings",
   oracle="""
WITH t AS (SELECT doc_id, source, STRING_SPLIT(text,' ') AS toks
           FROM documents),
     ch AS (SELECT doc_id, source,
                   LEAST(i * 8 + 8, LEN(toks)) - i * 8 AS clen,
                   MD5(ARRAY_TO_STRING(
                     toks[i * 8 + 1 : LEAST(i * 8 + 8, LEN(toks))], ' '))
                     AS h
            FROM t, UNNEST(GENERATE_SERIES(
                    0, CAST(CEIL(LEN(toks) / 8.0) AS BIGINT) - 1)) AS g(i)),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT ch.source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(ch.clen) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN freq.nd >= 3 THEN ch.clen ELSE 0 END) AS BIGINT)
         AS boiler_tokens,
       FLOOR(SUM(CASE WHEN freq.nd >= 3 THEN ch.clen ELSE 0 END)
             * 1000000.0 / SUM(ch.clen)) / 1000000.0 AS boiler_share
FROM ch JOIN freq ON freq.h = ch.h
GROUP BY ch.source ORDER BY ch.source
""",
   engine_sql="""
WITH t AS (SELECT doc_id, source, SPLIT(text,' ') AS toks FROM documents),
     ch AS (SELECT doc_id, source,
                   LEAST(i * 8 + 8, SIZE(toks)) - i * 8 AS clen,
                   MD5(ARRAY_JOIN(SLICE(toks, i * 8 + 1,
                     LEAST(i * 8 + 8, SIZE(toks)) - i * 8), ' ')) AS h
            FROM t LATERAL VIEW EXPLODE(SEQUENCE(
                   0, CAST(CEIL(SIZE(toks) / 8.0) AS INT) - 1)) g AS i),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT ch.source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(ch.clen) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN freq.nd >= 3 THEN ch.clen ELSE 0 END) AS BIGINT)
         AS boiler_tokens,
       FLOOR(SUM(CASE WHEN freq.nd >= 3 THEN ch.clen ELSE 0 END)
             * 1000000.0 / SUM(ch.clen)) / 1000000.0 AS boiler_share
FROM ch JOIN freq ON freq.h = ch.h
GROUP BY ch.source ORDER BY ch.source
""")

# ---------------------------------------------------------------- B497
# Cross-lingual near-duplicate screen (translation/copy mining shape):
# doc pairs in DIFFERENT languages with token-set Jaccard ≥ 0.5,
# aggregated per language pair. Bounded block here; the LSH tiers are
# the scale path for the pair generation.
_q("q456_cross_lang_overlap",
   oracle="""
WITH t AS (SELECT doc_id, lang,
                  LIST_DISTINCT(STRING_SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 200),
     p AS (SELECT a.lang AS la, b.lang AS lb,
                  LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
                  / LEN(LIST_DISTINCT(a.s || b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.lang < b.lang)
SELECT la, lb, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup
FROM p GROUP BY la, lb ORDER BY la, lb
""",
   engine_sql="""
WITH t AS (SELECT doc_id, lang,
                  ARRAY_DISTINCT(SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 200),
     p AS (SELECT a.lang AS la, b.lang AS lb,
                  SIZE(ARRAY_INTERSECT(a.s, b.s)) * 1.0
                  / SIZE(ARRAY_UNION(a.s, b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.lang < b.lang)
SELECT la, lb, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup
FROM p GROUP BY la, lb ORDER BY la, lb
""")

# ---------------------------------------------------------------- B498
# Template-head detection: docs sharing an identical 2-token opening
# (the "same boilerplate header" heuristic) grouped into template
# families with member stats.
_q("q457_prefix_templates",
   oracle="""
WITH p AS (SELECT doc_id,
                  ARRAY_TO_STRING(STRING_SPLIT(text,' ')[1:2],' ') AS pre
           FROM documents)
SELECT pre AS prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM p GROUP BY pre HAVING COUNT(*) >= 2 ORDER BY prefix
""",
   engine_sql="""
WITH p AS (SELECT doc_id,
                  ARRAY_JOIN(SLICE(SPLIT(text,' '), 1, 2),' ') AS pre
           FROM documents)
SELECT pre AS prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM p GROUP BY pre HAVING COUNT(*) >= 2 ORDER BY prefix
""")

# ---------------------------------------------------------------- B499
# Vocabulary Venn between two sources: distinct-token counts, overlap,
# and vocabulary Jaccard — the corpus-comparison summary before a
# domain-mixing decision.
_q("q458_vocab_venn", engine_sql="""
WITH a AS (SELECT DISTINCT w FROM (
             SELECT EXPLODE(SPLIT(text, ' ')) AS w FROM documents
             WHERE source = 'src0') x),
     b AS (SELECT DISTINCT w FROM (
             SELECT EXPLODE(SPLIT(text, ' ')) AS w FROM documents
             WHERE source = 'src1') x),
     i AS (SELECT CAST(COUNT(*) AS BIGINT) AS ni
           FROM a JOIN b ON b.w = a.w),
     ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM a),
     cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM b)
SELECT na, nb, ni,
       FLOOR(ni * 1000000.0 / (na + nb - ni)) / 1000000.0 AS vocab_jaccard
FROM ca CROSS JOIN cb CROSS JOIN i
""",
   oracle="""
WITH a AS (SELECT DISTINCT tok AS w FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
           WHERE source = 'src0'),
     b AS (SELECT DISTINCT tok AS w FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
           WHERE source = 'src1'),
     i AS (SELECT CAST(COUNT(*) AS BIGINT) AS ni
           FROM a JOIN b ON b.w = a.w),
     ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM a),
     cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM b)
SELECT na, nb, ni,
       FLOOR(ni * 1000000.0 / (na + nb - ni)) / 1000000.0 AS vocab_jaccard
FROM ca CROSS JOIN cb CROSS JOIN i
""")

# ---------------------------------------------------------------- B500
# Per-document character-level Shannon entropy (compressibility
# proxy; the char-level companion of q277's per-language token
# entropy). Positional substring explode; exact integer char counts.
_q("q459_char_entropy",
   oracle="""
WITH c AS (SELECT doc_id, SUBSTR(text, g.i, 1) AS ch
           FROM documents,
                UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS g(i)),
     f AS (SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS n
           FROM c GROUP BY doc_id, ch),
     t AS (SELECT doc_id, SUM(n) AS nt FROM f GROUP BY doc_id)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       FLOOR(-SUM((f.n / t.nt) * LN(f.n / t.nt)) * 10000) / 10000.0
         AS char_entropy
FROM f JOIN t ON t.doc_id = f.doc_id
GROUP BY f.doc_id ORDER BY f.doc_id
""",
   engine_sql="""
WITH c AS (SELECT doc_id, SUBSTR(text, i, 1) AS ch
           -- total: the empty doc (exists at sf1) makes SEQUENCE(1,0)
           -- the DESCENDING [1, 0], emitting two phantom '' rows that
           -- DuckDB's empty GENERATE_SERIES(1,0) does not (see q143)
           FROM documents
           LATERAL VIEW EXPLODE(
               IF(LENGTH(text) >= 1, SEQUENCE(1, LENGTH(text)),
                  ARRAY())) g AS i),
     f AS (SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS n
           FROM c GROUP BY doc_id, ch),
     t AS (SELECT doc_id, SUM(n) AS nt FROM f GROUP BY doc_id)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       FLOOR(-SUM((f.n / t.nt) * LN(f.n / t.nt)) * 10000) / 10000.0
         AS char_entropy
FROM f JOIN t ON t.doc_id = f.doc_id
GROUP BY f.doc_id ORDER BY f.doc_id
""")

# ---------------------------------------------------------------- B501
# Simpson diversity (1 − Σp²) of the token distribution per source —
# the evenness companion to Shannon entropy, exact integer counts in.
_q("q460_simpson_diversity",
   oracle="""
WITH t AS (SELECT source, tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     f AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
           FROM t GROUP BY source, tok),
     s AS (SELECT source, SUM(n) AS nt, SUM(n * n) AS n2,
                  CAST(COUNT(*) AS BIGINT) AS v
           FROM f GROUP BY source)
SELECT source, v AS vocab,
       FLOOR((1 - CAST(n2 AS DOUBLE) / (CAST(nt AS DOUBLE)
              * CAST(nt AS DOUBLE))) * 1000000) / 1000000.0 AS simpson
FROM s ORDER BY source
""",
   engine_sql="""
WITH t AS (SELECT source, EXPLODE(SPLIT(text, ' ')) AS tok
           FROM documents),
     f AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
           FROM t GROUP BY source, tok),
     s AS (SELECT source, SUM(n) AS nt, SUM(n * n) AS n2,
                  CAST(COUNT(*) AS BIGINT) AS v
           FROM f GROUP BY source)
SELECT source, v AS vocab,
       FLOOR((1 - CAST(n2 AS DOUBLE) / (CAST(nt AS DOUBLE)
              * CAST(nt AS DOUBLE))) * 1000000) / 1000000.0 AS simpson
FROM s ORDER BY source
""")

# ---------------------------------------------------------------- B502
# Incremental-ingest contamination screen: each incoming (src1) doc's
# 4-token chunks probed against the existing corpus's distinct chunk
# set (all other sources) — the per-doc hit report an incremental
# dedup gate reads. Report-style (every incoming doc emits).
_q("q461_incremental_chunk_screen",
   oracle="""
WITH t AS (SELECT doc_id, source, STRING_SPLIT(text,' ') AS toks
           FROM documents),
     ch AS (SELECT doc_id, source,
                   MD5(ARRAY_TO_STRING(
                     toks[i * 4 + 1 : LEAST(i * 4 + 4, LEN(toks))], ' '))
                     AS h
            FROM t, UNNEST(GENERATE_SERIES(
                    0, CAST(CEIL(LEN(toks) / 4.0) AS BIGINT) - 1)) AS g(i)),
     corpus AS (SELECT DISTINCT h FROM ch WHERE source <> 'src1'),
     inc AS (SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                    CAST(SUM(CASE WHEN corpus.h IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM ch LEFT JOIN corpus ON corpus.h = ch.h
             WHERE ch.source = 'src1' GROUP BY ch.doc_id)
SELECT doc_id, n_chunks, hits,
       CAST(CASE WHEN hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM inc ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, source, SPLIT(text,' ') AS toks FROM documents),
     ch AS (SELECT doc_id, source,
                   MD5(ARRAY_JOIN(SLICE(toks, i * 4 + 1,
                     LEAST(i * 4 + 4, SIZE(toks)) - i * 4), ' ')) AS h
            FROM t LATERAL VIEW EXPLODE(SEQUENCE(
                   0, CAST(CEIL(SIZE(toks) / 4.0) AS INT) - 1)) g AS i),
     corpus AS (SELECT DISTINCT h FROM ch WHERE source <> 'src1'),
     inc AS (SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                    CAST(SUM(CASE WHEN corpus.h IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM ch LEFT JOIN corpus ON corpus.h = ch.h
             WHERE ch.source = 'src1' GROUP BY ch.doc_id)
SELECT doc_id, n_chunks, hits,
       CAST(CASE WHEN hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM inc ORDER BY doc_id
""")

# ---------------------------------------------------------------- B503
# Quality-gate funnel: survivors after each successive curation gate
# (length band → language allowlist → stopword-ratio cap) — the
# one-pass conditional-flag rollup a pipeline dashboard shows.
_q("q462_quality_gate_funnel",
   oracle="""
WITH sw AS (SELECT doc_id,
                   AVG(CASE WHEN tok IN ('a','the') THEN 1.0 ELSE 0 END)
                     AS swr
            FROM documents, UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            GROUP BY doc_id),
     g AS (SELECT d.doc_id,
                  CASE WHEN d.n_chars BETWEEN 60 AND 500
                       THEN 1 ELSE 0 END AS g1,
                  CASE WHEN d.lang IN ('en','de','fr')
                       THEN 1 ELSE 0 END AS g2,
                  CASE WHEN sw.swr < 0.15 THEN 1 ELSE 0 END AS g3
           FROM documents d JOIN sw ON sw.doc_id = d.doc_id)
SELECT 'stage0_all' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage1_length' AS stage, CAST(SUM(g1) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage2_lang' AS stage, CAST(SUM(g1 * g2) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage3_stopword' AS stage, CAST(SUM(g1 * g2 * g3) AS BIGINT) AS n
FROM g
ORDER BY stage
""",
   engine_sql="""
WITH sw AS (SELECT doc_id,
                   AVG(CASE WHEN tok IN ('a','the') THEN 1.0 ELSE 0 END)
                     AS swr
            FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM documents) x
            GROUP BY doc_id),
     g AS (SELECT d.doc_id,
                  CASE WHEN d.n_chars BETWEEN 60 AND 500
                       THEN 1 ELSE 0 END AS g1,
                  CASE WHEN d.lang IN ('en','de','fr')
                       THEN 1 ELSE 0 END AS g2,
                  CASE WHEN sw.swr < 0.15 THEN 1 ELSE 0 END AS g3
           FROM documents d JOIN sw ON sw.doc_id = d.doc_id)
SELECT 'stage0_all' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage1_length' AS stage, CAST(SUM(g1) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage2_lang' AS stage, CAST(SUM(g1 * g2) AS BIGINT) AS n FROM g
UNION ALL
SELECT 'stage3_stopword' AS stage, CAST(SUM(g1 * g2 * g3) AS BIGINT) AS n
FROM g
ORDER BY stage
""")


# ---------------------------------------------------------------- B504
# Random ±1 projection (Johnson–Lindenstrauss sketch) of embeddings to
# 8 dims with a deterministic md5 sign matrix. Components quantize to
# exact 1e-4 ints BEFORE the signed fold, so the projection sums are
# integer-exact on both engines.
_q("q463_random_projection",
   oracle="""
WITH v AS (SELECT vec_id, g.i - 1 AS dim,
                  CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
           WHERE vec_id < 300),
     m AS (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS j),
     p AS (SELECT v.vec_id, m.j,
                  SUM(v.q * (1 - 2 * (CAST('0x' || SUBSTR(MD5(
                        CAST(v.dim AS VARCHAR) || ':' ||
                        CAST(m.j AS VARCHAR)), 1, 2) AS BIGINT) % 2)))
                    AS s
           FROM v CROSS JOIN m GROUP BY v.vec_id, m.j)
SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
       s / 10000.0 AS component
FROM p ORDER BY vec_id, out_dim
""",
   engine_sql="""
WITH v AS (SELECT vec_id, pos AS dim,
                  CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val
           WHERE vec_id < 300),
     m AS (SELECT EXPLODE(SEQUENCE(0, 7)) AS j),
     p AS (SELECT v.vec_id, m.j,
                  SUM(v.q * (1 - 2 * (CAST(CONV(SUBSTR(MD5(
                        CAST(v.dim AS STRING) || ':' ||
                        CAST(m.j AS STRING)), 1, 2), 16, 10)
                        AS BIGINT) % 2)))
                    AS s
           FROM v CROSS JOIN m GROUP BY v.vec_id, m.j)
SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
       s / 10000.0 AS component
FROM p ORDER BY vec_id, out_dim
""")

# ---------------------------------------------------------------- B505
# Pairwise distance-matrix export for a pinned working set (the
# clustering-input format): L2 distances among 6 vectors from exact
# quantized integer sums — every float op sees identical operands.
_q("q464_distance_matrix",
   oracle="""
WITH v AS (SELECT vec_id, g.i AS i,
                  CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
           WHERE vec_id IN (1, 2, 3, 5, 8, 13)),
     p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                  SUM((a.q - b.q) * (a.q - b.q)) AS d2
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
           GROUP BY a.vec_id, b.vec_id)
SELECT i, j, FLOOR(SQRT(CAST(d2 AS DOUBLE)) / 10000.0 * 10000) / 10000.0
         AS l2_dist
FROM p ORDER BY i, j
""",
   engine_sql="""
WITH v AS (SELECT vec_id, pos AS i,
                  CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val
           WHERE vec_id IN (1, 2, 3, 5, 8, 13)),
     p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                  SUM((a.q - b.q) * (a.q - b.q)) AS d2
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
           GROUP BY a.vec_id, b.vec_id)
SELECT i, j, FLOOR(SQRT(CAST(d2 AS DOUBLE)) / 10000.0 * 10000) / 10000.0
         AS l2_dist
FROM p ORDER BY i, j
""")

# ---------------------------------------------------------------- B506
# Batched ANN evaluation: 5 query vectors × top-3 cosine neighbors in
# one plan (partitioned rank per query) — the multi-probe shape a
# retrieval-eval harness runs, on exact quantized dot products.
_q("q465_batch_ann_topk",
   oracle="""
WITH v AS (SELECT vec_id, g.i AS i,
                  CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
           WHERE vec_id < 500),
     n AS (SELECT vec_id, SUM(q * q) AS n2 FROM v GROUP BY vec_id
            HAVING SUM(q * q) > 0),
     d AS (SELECT a.vec_id AS qi, b.vec_id AS ni, SUM(a.q * b.q) AS dot
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
           WHERE a.vec_id IN (0, 1, 2, 3, 4)
           GROUP BY a.vec_id, b.vec_id),
     s AS (SELECT d.qi, d.ni,
                  d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                           * SQRT(CAST(nb.n2 AS DOUBLE))) AS cos,
                  ROW_NUMBER() OVER (PARTITION BY d.qi
                    ORDER BY d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                             * SQRT(CAST(nb.n2 AS DOUBLE))) DESC, d.ni)
                    AS rk
           FROM d JOIN n na ON na.vec_id = d.qi
                  JOIN n nb ON nb.vec_id = d.ni)
SELECT qi AS query_id, CAST(rk AS BIGINT) AS rank, ni AS neighbor_id,
       FLOOR(cos * 10000) / 10000.0 AS cos_sim
FROM s WHERE rk <= 3 ORDER BY query_id, rank
""",
   engine_sql="""
WITH v AS (SELECT vec_id, pos AS i,
                  CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val
           WHERE vec_id < 500),
     n AS (SELECT vec_id, SUM(q * q) AS n2 FROM v GROUP BY vec_id
            HAVING SUM(q * q) > 0),
     d AS (SELECT a.vec_id AS qi, b.vec_id AS ni, SUM(a.q * b.q) AS dot
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
           WHERE a.vec_id IN (0, 1, 2, 3, 4)
           GROUP BY a.vec_id, b.vec_id),
     s AS (SELECT d.qi, d.ni,
                  d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                           * SQRT(CAST(nb.n2 AS DOUBLE))) AS cos,
                  ROW_NUMBER() OVER (PARTITION BY d.qi
                    ORDER BY d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                             * SQRT(CAST(nb.n2 AS DOUBLE))) DESC, d.ni)
                    AS rk
           FROM d JOIN n na ON na.vec_id = d.qi
                  JOIN n nb ON nb.vec_id = d.ni)
SELECT qi AS query_id, CAST(rk AS BIGINT) AS rank, ni AS neighbor_id,
       FLOOR(cos * 10000) / 10000.0 AS cos_sim
FROM s WHERE rk <= 3 ORDER BY query_id, rank
""")

# ---------------------------------------------------------------- B507
# Peak session concurrency per day (interval sweep): 30-minute-gap
# sessions → ±1 endpoint deltas → running max of the ordered sweep,
# with session ends ordered before coincident starts so back-to-back
# sessions don't count as overlap. All-integer arithmetic.
_q("q466_peak_concurrency", """
WITH s AS (SELECT user_id, ts,
                  CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                         OR ts > LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
     g AS (SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sid
           FROM s),
     iv AS (SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
            FROM g GROUP BY user_id, sid),
     ev AS (SELECT CAST(t0 AS DATE) AS day, t0 AS t, 1 AS delta FROM iv
            UNION ALL
            SELECT CAST(t0 AS DATE) AS day, t1 AS t, -1 AS delta FROM iv),
     sweep AS (SELECT day,
                      SUM(delta) OVER (PARTITION BY day
                                       ORDER BY t, delta
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS conc
               FROM ev)
SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM sweep GROUP BY day ORDER BY day
""")

# ---------------------------------------------------------------- B508
# Historical VaR / CVaR at 95% on day-over-day revenue changes: the
# 5th-percentile change (PERCENTILE_DISC on exact cents — an actual
# observed value) and the mean of the tail at or below it.
_q("q467_var_cvar", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     ch AS (SELECT c - LAG(c) OVER (ORDER BY day) AS chg FROM d),
     v AS (SELECT PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY chg)
             AS var95
           FROM ch WHERE chg IS NOT NULL)
SELECT FLOOR(v.var95 / 100.0) / 100.0 AS var_95,
       FLOOR((SELECT SUM(chg) * 1.0 / COUNT(*) FROM ch
              WHERE chg IS NOT NULL AND chg <= v.var95) / 100.0) / 100.0
         AS cvar_95,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ch
        WHERE chg IS NOT NULL AND chg <= v.var95) AS tail_days
FROM v
""")

# ---------------------------------------------------------------- B509
# Market beta per brand: OLS slope of brand daily revenue on total
# market daily revenue, computed from exact integer k$ aggregates
# (Σx, Σy, Σxy, Σx², n) — immune to the summation-order and
# cancellation jitter a built-in REGR over 1e20-scale cents would hit.
_q("q468_brand_beta", """
WITH d AS (SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS yk
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)),
     mkt AS (SELECT day, SUM(yk) AS xk FROM d GROUP BY day),
     j AS (SELECT d.brand, d.yk, mkt.xk
           FROM d JOIN mkt ON mkt.day = d.day),
     agg AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
                    SUM(xk) AS sx, SUM(yk) AS sy,
                    SUM(xk * yk) AS sxy, SUM(xk * xk) AS sxx
             FROM j GROUP BY brand)
SELECT brand, n,
       FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1000000) / 1000000.0 AS beta
-- variance guard in DOUBLE: sx*sx in BIGINT overflows at sf10 (the
-- daily market-total sums square past 2^63; DuckDB silently widens
-- to HUGEINT, ANSI Spark threw) — both engines evaluate the same
-- IEEE expression so the comparison stays cross-engine-identical
FROM agg WHERE CAST(n AS DOUBLE) * sxx > CAST(sx AS DOUBLE) * sx
ORDER BY brand
""")

# ---------------------------------------------------------------- B510
# Banker's rounding surface (HALF_EVEN): engine BROUND vs DuckDB
# ROUND_EVEN over exactly-representable eighth-step values, where the
# two half-up/half-even regimes genuinely diverge.
_q("q469_bankers_rounding",
   oracle="""
WITH v AS (SELECT l_orderkey, l_linenumber,
                  l_quantity + 0.125 * (l_linenumber % 8) AS x
           FROM lineitem WHERE l_orderkey < 200)
SELECT l_orderkey, l_linenumber,
       x AS raw_x,
       ROUND_EVEN(x, 2) AS bankers_2,
       ROUND_EVEN(x, 1) AS bankers_1
FROM v ORDER BY l_orderkey, l_linenumber
""",
   engine_sql="""
WITH v AS (SELECT l_orderkey, l_linenumber,
                  l_quantity + 0.125 * (l_linenumber % 8) AS x
           FROM lineitem WHERE l_orderkey < 200)
SELECT l_orderkey, l_linenumber,
       x AS raw_x,
       BROUND(x, 2) AS bankers_2,
       BROUND(x, 1) AS bankers_1
FROM v ORDER BY l_orderkey, l_linenumber
""")

# ---------------------------------------------------------------- B511
# REGEXP_COUNT surface: digit-run and key-occurrence counts inside the
# JSON props strings (Spark 4 built-in; DuckDB counts the extract-all
# list).
_q("q470_regexp_count",
   oracle="""
SELECT event_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(props, '[0-9]+')) AS BIGINT)
         AS digit_runs,
       CAST(LEN(REGEXP_EXTRACT_ALL(props, '"[a-z]+":')) AS BIGINT)
         AS json_keys
FROM events WHERE event_id < 500 ORDER BY event_id
""",
   engine_sql="""
SELECT event_id,
       CAST(REGEXP_COUNT(props, '[0-9]+') AS BIGINT) AS digit_runs,
       CAST(REGEXP_COUNT(props, '"[a-z]+":') AS BIGINT) AS json_keys
FROM events WHERE event_id < 500 ORDER BY event_id
""")


# ---------------------------------------------------------------- B513
# Grubbs outlier statistic per segment: G = max|x−μ|/s from exact
# integer cent moments (Σc, Σc², extremes) — the single-outlier test
# a data-quality monitor runs per stratum.
_q("q471_grubbs_statistic", """
WITH g AS (SELECT c_mktsegment AS seg,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sx,
                  -- DECIMAL(38,0): Σcents² ≈ 7.5e17 at sf100 — an
                  -- order from 2^63; widened with its q430/q503/q659
                  -- siblings rather than waiting for the decade that
                  -- tips it (DuckDB widens to HUGEINT either way)
                  SUM(CAST(ROUND(c_acctbal * 100) AS DECIMAL(38,0))
                      * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sxx,
                  MAX(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS mx,
                  MIN(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS mn
           FROM customer GROUP BY c_mktsegment
           HAVING COUNT(*) >= 2),
     m AS (SELECT seg, n, CAST(sx AS DOUBLE) / n AS mu,
                  SQRT((CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                       / (n - 1)) AS s,
                  mx, mn
           FROM g)
SELECT seg, n,
       FLOOR(GREATEST(mx - mu, mu - mn) / NULLIF(s, 0.0) * 10000) / 10000.0
         AS grubbs_g
FROM m ORDER BY seg
""")

# ---------------------------------------------------------------- B514
# Wald–Wolfowitz runs test on the daily revenue series per flag:
# above/below-median signs, run count vs its null mean/variance —
# closed-form z from exact integer counts.
_q("q472_runs_test", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100) AS BIGINT) AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     med AS (SELECT flag, PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY k)
               AS m
             FROM d GROUP BY flag),
     s AS (SELECT d.flag, d.day,
                  CASE WHEN d.k > med.m THEN 1 ELSE 0 END AS sgn
           FROM d JOIN med ON med.flag = d.flag WHERE d.k <> med.m),
     r AS (SELECT flag, sgn,
                  CASE WHEN LAG(sgn) OVER (PARTITION BY flag
                                           ORDER BY day) IS NULL
                         OR sgn <> LAG(sgn) OVER (PARTITION BY flag
                                                  ORDER BY day)
                       THEN 1 ELSE 0 END AS new_run
           FROM s),
     agg AS (SELECT flag, CAST(SUM(new_run) AS DOUBLE) AS runs,
                    CAST(SUM(sgn) AS DOUBLE) AS n1,
                    CAST(SUM(1 - sgn) AS DOUBLE) AS n2
             FROM r GROUP BY flag)
SELECT flag, CAST(runs AS BIGINT) AS runs,
       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
       FLOOR((runs - (2 * n1 * n2 / (n1 + n2) + 1))
             / SQRT(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
             * 10000) / 10000.0 AS z
FROM agg ORDER BY flag
""")

# ---------------------------------------------------------------- B515
# Durbin–Watson autocorrelation diagnostic on trailing-mean residuals:
# residuals carried ×7 as exact k$ integers (the 7s cancel in the
# ratio), DW = Σ(Δe)²/Σe².
_q("q473_durbin_watson", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     w AS (SELECT flag, day, k,
                  SUM(k) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (PARTITION BY flag ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
     e AS (SELECT flag, day, 7 * k - s7 AS e7 FROM w WHERE n7 = 7),
     l AS (SELECT flag, e7,
                  LAG(e7) OVER (PARTITION BY flag ORDER BY day) AS pe7
           FROM e)
SELECT flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(SUM(CASE WHEN pe7 IS NOT NULL
                      THEN CAST((e7 - pe7) * (e7 - pe7) AS DOUBLE)
                      ELSE 0 END)
             / NULLIF(SUM(CAST(e7 * e7 AS DOUBLE)), 0) * 10000)
         / 10000.0 AS dw
FROM l GROUP BY flag ORDER BY flag
""")

# ---------------------------------------------------------------- B516
# Decomposition diagnostics (Hyndman-style strength measures):
# seasonal strength 1 − Var(remainder)/Var(detrended) on q440's exact
# ×7 detrended series, with an integer-floored per-DOW seasonal so
# every variance folds exact k$ integers.
_q("q474_decomposition_strength",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  (ISODOW(CAST(o_orderdate AS DATE)) - 1) AS dow,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, k,
                  SUM(k) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, 7 * k - s7 AS d7 FROM w WHERE n7 = 7),
     seas AS (SELECT dow,
                     CAST(FLOOR(SUM(d7) * 1.0 / COUNT(*)) AS BIGINT)
                       AS si
              FROM f GROUP BY dow),
     r AS (SELECT f.d7, f.d7 - seas.si AS rem
           FROM f JOIN seas ON seas.dow = f.dow),
     v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(d7) AS sd, SUM(d7 * d7) AS sdd,
                  SUM(rem) AS sr, SUM(rem * rem) AS srr
           FROM r)
SELECT n,
       FLOOR(GREATEST(0.0, 1 -
         ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n)
          / (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)))
         * 10000) / 10000.0 AS seasonal_strength
FROM v
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  PMOD(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 5, 7) AS dow,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY 1, 2),
     w AS (SELECT day, dow, k,
                  SUM(k) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
     f AS (SELECT day, dow, 7 * k - s7 AS d7 FROM w WHERE n7 = 7),
     seas AS (SELECT dow,
                     CAST(FLOOR(SUM(d7) * 1.0 / COUNT(*)) AS BIGINT)
                       AS si
              FROM f GROUP BY dow),
     r AS (SELECT f.d7, f.d7 - seas.si AS rem
           FROM f JOIN seas ON seas.dow = f.dow),
     v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(d7) AS sd, SUM(d7 * d7) AS sdd,
                  SUM(rem) AS sr, SUM(rem * rem) AS srr
           FROM r)
SELECT n,
       FLOOR(GREATEST(0.0, 1 -
         ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n)
          / (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)))
         * 10000) / 10000.0 AS seasonal_strength
FROM v
""")

# ---------------------------------------------------------------- B517
# Covariance matrix export (long form, i ≤ j) over three integer-
# quantized lineitem measures — manual (Σxy − ΣxΣy/n)/(n−1) from exact
# BIGINT sums, the clustering/PCA input format.
_q("q476_covariance_matrix", """
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x1,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x2,
                  CAST(ROUND(l_discount * 100) AS BIGINT) AS x3
           FROM lineitem),
     a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
                  SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
                  SUM(x1 * x3) AS s13, SUM(x2 * x2) AS s22,
                  SUM(x2 * x3) AS s23, SUM(x3 * x3) AS s33
           FROM v)
SELECT 'qty' AS vi, 'qty' AS vj,
       FLOOR((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
UNION ALL
SELECT 'qty' AS vi, 'price' AS vj,
       FLOOR((CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
UNION ALL
SELECT 'qty' AS vi, 'disc' AS vj,
       FLOOR((CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
UNION ALL
SELECT 'price' AS vi, 'price' AS vj,
       FLOOR((CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
UNION ALL
SELECT 'price' AS vi, 'disc' AS vj,
       FLOOR((CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
UNION ALL
SELECT 'disc' AS vi, 'disc' AS vj,
       FLOOR((CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n)
             / (n - 1) * 10000) / 10000.0 AS cov FROM a
ORDER BY vi, vj
""")

# ---------------------------------------------------------------- B518
# Closed-form 2-D PCA of (quantity, price): eigenvalues of the 2×2
# covariance matrix, principal-axis angle (ATAN2), explained-variance
# share — all from the same exact integer moments as q476.
_q("q477_pca_2d", """
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                             / 10000) AS BIGINT) AS y
           FROM lineitem),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(x * y) AS sxy,
                  SUM(y * y) AS syy
           FROM v),
     c AS (SELECT n,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    / (n - 1) AS a,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (n - 1) AS b,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                    / (n - 1) AS cc
           FROM m)
SELECT FLOOR(((a + cc) + SQRT((a - cc) * (a - cc) + 4 * b * b)) / 2
             * 10000) / 10000.0 AS lambda1,
       FLOOR(((a + cc) - SQRT((a - cc) * (a - cc) + 4 * b * b)) / 2
             * 10000) / 10000.0 AS lambda2,
       FLOOR(ATAN2(2 * b, a - cc) / 2 * 10000) / 10000.0 AS axis_angle,
       FLOOR(((a + cc) + SQRT((a - cc) * (a - cc) + 4 * b * b))
             / (2 * (a + cc)) * 10000) / 10000.0 AS explained_share
FROM c
""")

# ---------------------------------------------------------------- B519
# 2-D Mahalanobis outliers of (quantity, price): closed-form inverse
# covariance (same exact moments), top-5 distances with id tiebreak —
# the correlated-outlier upgrade over per-axis z-scores (q150).
_q("q478_mahalanobis_2d", """
WITH v AS (SELECT l_orderkey, l_linenumber,
                  CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                             / 10000) AS BIGINT) AS y
           FROM lineitem),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(x * y) AS sxy,
                  SUM(y * y) AS syy
           FROM v),
     c AS (SELECT CAST(sx AS DOUBLE) / n AS mx,
                  CAST(sy AS DOUBLE) / n AS my,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    / (n - 1) AS a,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (n - 1) AS b,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                    / (n - 1) AS cc
           FROM m),
     d AS (SELECT v.l_orderkey, v.l_linenumber,
                  ((v.x - c.mx) * (v.x - c.mx) * c.cc
                   - 2 * (v.x - c.mx) * (v.y - c.my) * c.b
                   + (v.y - c.my) * (v.y - c.my) * c.a)
                  / (c.a * c.cc - c.b * c.b) AS d2
           FROM v CROSS JOIN c)
SELECT l_orderkey, l_linenumber,
       FLOOR(d2 * 10000) / 10000.0 AS mahalanobis_sq
FROM d ORDER BY d2 DESC, l_orderkey, l_linenumber LIMIT 5
""")

# ---------------------------------------------------------------- B520
# Latest-order-per-customer via DuckDB's DISTINCT ON — the engine maps
# the same semantics to a partitioned top-1 window (the Spark-first
# translation of a Postgres-family idiom).
_q("q479_distinct_on",
   oracle="""
SELECT DISTINCT ON (o_custkey)
       o_custkey, o_orderkey, o_orderdate
FROM orders
ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
""",
   engine_sql="""
WITH r AS (SELECT o_custkey, o_orderkey, o_orderdate,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC,
                                              o_orderkey DESC) AS rk
           FROM orders)
SELECT o_custkey, o_orderkey, o_orderdate
FROM r WHERE rk = 1 ORDER BY o_custkey
""")

# ---------------------------------------------------------------- B521
# NATURAL JOIN + JOIN USING surface: shared-name equi-joins over
# renamed dims (both engines coalesce the join column once).
_q("q480_natural_using_join", """
WITH n AS (SELECT n_nationkey AS nationkey, n_name,
                  n_regionkey AS regionkey FROM nation),
     r AS (SELECT r_regionkey AS regionkey, r_name FROM region),
     c AS (SELECT c_custkey, c_nationkey AS nationkey FROM customer)
SELECT r_name, n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_cust
FROM n NATURAL JOIN r
JOIN c USING (nationkey)
GROUP BY r_name, n_name ORDER BY r_name, n_name
""")


# ---------------------------------------------------------------- B522
# Binary segmentation, depth 2: q353's variance-reduction split
# re-applied inside each side of the best split — per-(user, side)
# prefix-SSE windows, all exact integer sums. Emits the root split and
# each side's best sub-split (sides too short to split emit none).
def _q475_series(epoch_expr: str) -> str:
    return f"""
WITH s AS (SELECT user_id,
                  CAST(ROUND(value * 100) AS BIGINT) AS c,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY {epoch_expr}, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM events),
     pre AS (SELECT *,
                    SUM(c) OVER (PARTITION BY user_id ORDER BY rn) AS sx,
                    SUM(c * c) OVER (PARTITION BY user_id
                                     ORDER BY rn) AS sxx,
                    SUM(c) OVER (PARTITION BY user_id) AS tx,
                    SUM(c * c) OVER (PARTITION BY user_id) AS txx
             FROM s),
     scored AS (SELECT user_id, rn AS k, n,
                       (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                          * sx / rn)
                       + (CAST(txx - sxx AS DOUBLE)
                          - CAST(tx - sx AS DOUBLE) * (tx - sx)
                            / (n - rn)) AS split_sse,
                       CAST(txx AS DOUBLE)
                         - CAST(tx AS DOUBLE) * tx / n AS total_sse
                FROM pre WHERE rn < n AND rn >= 2 AND n - rn >= 2),
     best AS (SELECT user_id, k,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY total_sse - split_sse
                                          DESC, k) AS r
              FROM scored),
     root AS (SELECT user_id, k AS k1 FROM best WHERE r = 1),
     sided AS (SELECT s.user_id,
                      CASE WHEN s.rn <= root.k1 THEN 0 ELSE 1 END AS side,
                      s.c, s.rn
               FROM s JOIN root ON root.user_id = s.user_id),
     spre AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY user_id, side
                                        ORDER BY rn) AS srn,
                     COUNT(*) OVER (PARTITION BY user_id, side) AS sn,
                     SUM(c) OVER (PARTITION BY user_id, side
                                  ORDER BY rn) AS sx,
                     SUM(c * c) OVER (PARTITION BY user_id, side
                                      ORDER BY rn) AS sxx,
                     SUM(c) OVER (PARTITION BY user_id, side) AS tx,
                     SUM(c * c) OVER (PARTITION BY user_id, side) AS txx
              FROM sided),
     sscored AS (SELECT user_id, side, rn AS k,
                        (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                           * sx / srn)
                        + (CAST(txx - sxx AS DOUBLE)
                           - CAST(tx - sx AS DOUBLE) * (tx - sx)
                             / (sn - srn)) AS split_sse,
                        CAST(txx AS DOUBLE)
                          - CAST(tx AS DOUBLE) * tx / sn AS total_sse
                 FROM spre
                 WHERE srn < sn AND srn >= 2 AND sn - srn >= 2),
     sbest AS (SELECT user_id, side, k,
                      ROW_NUMBER() OVER (PARTITION BY user_id, side
                                         ORDER BY total_sse - split_sse
                                           DESC, k) AS r
               FROM sscored)
SELECT root.user_id, CAST(root.k1 AS BIGINT) AS split_root,
       CAST(l.k AS BIGINT) AS split_left,
       CAST(rt.k AS BIGINT) AS split_right
FROM root
LEFT JOIN (SELECT user_id, k FROM sbest WHERE side = 0 AND r = 1) l
       ON l.user_id = root.user_id
LEFT JOIN (SELECT user_id, k FROM sbest WHERE side = 1 AND r = 1) rt
       ON rt.user_id = root.user_id
ORDER BY root.user_id
"""


_q("q475_binary_segmentation",
   oracle=_q475_series("EPOCH(ts)"),
   engine_sql=_q475_series("UNIX_MICROS(CAST(ts AS TIMESTAMP))"))


# ---------------------------------------------------------------- B523
# NULL-semantics string surface: CONCAT_WS null-skipping, NULLIF
# empty-string collapse, null-vs-empty length, null-safe display
# fallbacks — the cross-engine-identical nuances a migration relies on.
_q("q481_string_null_semantics", """
SELECT c_custkey,
       CONCAT_WS('-', c_name, NULLIF(c_mktsegment, 'MACHINERY'),
                 CAST(c_nationkey AS STRING)) AS tag,
       COALESCE(NULLIF(TRIM(c_mktsegment), ''), 'UNKNOWN') AS seg_norm,
       CAST(LENGTH(NULLIF(c_mktsegment, c_mktsegment)) AS BIGINT)
         AS len_of_null,
       CAST(LENGTH('') AS BIGINT) AS len_of_empty
FROM customer WHERE c_custkey < 500 ORDER BY c_custkey
""")

# ---------------------------------------------------------------- B524
# Struct-array aggregation: best revenue day per flag via a sorted
# array of (rev, day) structs on the engine (the collect-sort-head
# idiom); the oracle states the same top-1 as a window.
_q("q482_struct_array_agg",
   oracle="""
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
           FROM lineitem GROUP BY 1, 2),
     r AS (SELECT flag, day, c,
                  ROW_NUMBER() OVER (PARTITION BY flag
                                     ORDER BY c DESC, day DESC) AS rk,
                  COUNT(*) OVER (PARTITION BY flag) AS nd
           FROM d)
SELECT flag, day AS best_day, CAST(c AS BIGINT) AS best_cents,
       CAST(nd AS BIGINT) AS n_days
FROM r WHERE rk = 1 ORDER BY flag
""",
   engine_sql="""
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
           FROM lineitem GROUP BY 1, 2),
     a AS (SELECT flag,
                  SORT_ARRAY(COLLECT_LIST(STRUCT(c, day)), false) AS arr,
                  CAST(COUNT(*) AS BIGINT) AS n_days
           FROM d GROUP BY flag)
SELECT flag, arr[0].day AS best_day,
       CAST(arr[0].c AS BIGINT) AS best_cents, n_days
FROM a ORDER BY flag
""")

# ---------------------------------------------------------------- B525
# Largest-remainder (Hamilton) apportionment: 1000 units allocated to
# segments by exact revenue share — integer floors + remainder-ranked
# top-ups, the deterministic way to make shares sum exactly.
_q("q483_largest_remainder", """
WITH s AS (SELECT c.c_mktsegment AS seg,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment),
     t AS (SELECT SUM(rc) AS tc, CAST(COUNT(*) AS BIGINT) AS k FROM s),
     b AS (SELECT s.seg, s.rc, t.tc,
                  CAST(FLOOR(1000.0 * s.rc / t.tc) AS BIGINT) AS base,
                  (1000 * s.rc) % t.tc AS frac
           FROM s CROSS JOIN t),
     lo AS (SELECT 1000 - SUM(base) AS leftover FROM b),
     r AS (SELECT b.seg, b.base, b.frac,
                  ROW_NUMBER() OVER (ORDER BY b.frac DESC, b.seg) AS rk
           FROM b)
SELECT r.seg,
       CAST(r.base + CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS units
FROM r CROSS JOIN lo ORDER BY r.seg
""")

# ---------------------------------------------------------------- B526
# D'Hondt divisor apportionment: 10 seats across brands by revenue —
# quotient table (rev/1..rev/10), global top-10 by quotient, seats =
# won quotients per brand. Ties break on (brand, divisor), stated.
_q("q484_dhondt_seats",
   oracle="""
WITH s AS (SELECT p.p_brand AS brand,
                  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rc
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY p.p_brand),
     q AS (SELECT s.brand, g.d,
                  CAST(s.rc AS DOUBLE) / g.d AS quot
           FROM s, (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS d) g),
     r AS (SELECT brand, d, quot,
                  ROW_NUMBER() OVER (ORDER BY quot DESC, brand, d) AS rk
           FROM q)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS seats
FROM r WHERE rk <= 10 GROUP BY brand ORDER BY brand
""",
   engine_sql="""
WITH s AS (SELECT p.p_brand AS brand,
                  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rc
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY p.p_brand),
     q AS (SELECT s.brand, g.d,
                  CAST(s.rc AS DOUBLE) / g.d AS quot
           FROM s CROSS JOIN (SELECT EXPLODE(SEQUENCE(1, 10)) AS d) g),
     r AS (SELECT brand, d, quot,
                  ROW_NUMBER() OVER (ORDER BY quot DESC, brand, d) AS rk
           FROM q)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS seats
FROM r WHERE rk <= 10 GROUP BY brand ORDER BY brand
""")

# ---------------------------------------------------------------- B527
# Interval-overlap join with Allen-lite classification: overlapping
# session pairs across users on the same start day, classified as
# equal / contains / contained / overlaps — the temporal-join shape
# with a bounded user block.
_q("q485_interval_overlap_join", """
WITH s AS (SELECT user_id, ts, event_id,
                  CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                         OR ts > LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events WHERE user_id < 50),
     g AS (SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sid
           FROM s),
     iv AS (SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
            FROM g GROUP BY user_id, sid),
     p AS (SELECT CAST(a.t0 AS DATE) AS day,
                  CASE
                    WHEN a.t0 = b.t0 AND a.t1 = b.t1 THEN 'equal'
                    WHEN a.t0 <= b.t0 AND a.t1 >= b.t1 THEN 'contains'
                    WHEN b.t0 <= a.t0 AND b.t1 >= a.t1 THEN 'contained'
                    ELSE 'overlaps'
                  END AS rel
           FROM iv a JOIN iv b
             ON CAST(a.t0 AS DATE) = CAST(b.t0 AS DATE)
            AND (a.user_id < b.user_id
                 OR (a.user_id = b.user_id AND a.sid < b.sid))
            AND a.t0 <= b.t1 AND b.t0 <= a.t1)
SELECT day, rel, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY day, rel ORDER BY day, rel
""")

# ---------------------------------------------------------------- B528
# LISTAGG DISTINCT WITHIN GROUP — the ANSI ordered distinct string
# aggregation (engine) vs DuckDB's STRING_AGG(DISTINCT … ORDER BY).
# Engine caveat (found & pinned here): Spark 4.1's distinct-aggregate
# rewrite throws ClassCastException when LISTAGG DISTINCT WITHIN GROUP
# shares a SELECT with another DISTINCT aggregate — so the distinct
# count derives from the aggregated string instead.
_q("q486_listagg_distinct",
   oracle="""
SELECT o_orderpriority,
       STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
         AS statuses,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
   engine_sql="""
WITH a AS (SELECT o_orderpriority,
                  LISTAGG(DISTINCT o_orderstatus, ',')
                    WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
           FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, statuses,
       CAST(SIZE(SPLIT(statuses, ',')) AS BIGINT) AS n_statuses
FROM a ORDER BY o_orderpriority
""")

# ---------------------------------------------------------------- B529
# Recency-decayed engagement score per user: Σ 0.97^(days since
# event), quantized to micro-units per event before the exact integer
# rollup (same no-float-accumulation rule as the attribution tier).
_q("q487_decayed_engagement",
   oracle="""
WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events),
     e AS (SELECT user_id,
                  CAST(FLOOR(POWER(0.97,
                    DATEDIFF('day', CAST(ts AS DATE), mx.d0)) * 1000000)
                    AS BIGINT) AS micro
           FROM events CROSS JOIN mx)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(micro) AS BIGINT) AS engagement_micro
FROM e GROUP BY user_id ORDER BY user_id
""",
   engine_sql="""
WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events),
     e AS (SELECT user_id,
                  CAST(FLOOR(POWER(0.97,
                    DATEDIFF(mx.d0, CAST(ts AS DATE))) * 1000000)
                    AS BIGINT) AS micro
           FROM events CROSS JOIN mx)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(micro) AS BIGINT) AS engagement_micro
FROM e GROUP BY user_id ORDER BY user_id
""")

# ---------------------------------------------------------------- B530
# Upper-tail dependence of the A/R revenue series: joint p90
# exceedance vs marginal — the "do extremes co-occur" copula
# diagnostic, on exact integer series and DISC thresholds.
_q("q488_tail_dependence", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  SUM(CASE WHEN l_returnflag = 'A'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS ca,
                  SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS cr
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     t AS (SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY ca) AS pa,
                  PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY cr) AS pr
           FROM d),
     f AS (SELECT CASE WHEN d.ca > t.pa THEN 1 ELSE 0 END AS ea,
                  CASE WHEN d.cr > t.pr THEN 1 ELSE 0 END AS er
           FROM d CROSS JOIN t)
SELECT CAST(SUM(ea) AS BIGINT) AS n_a_exceed,
       CAST(SUM(er) AS BIGINT) AS n_r_exceed,
       CAST(SUM(ea * er) AS BIGINT) AS n_joint,
       FLOOR(SUM(ea * er) * 1000000.0 / SUM(ea)) / 1000000.0
         AS tail_dependence
FROM f
""")

# ---------------------------------------------------------------- B531
# Standardized chi-square cell residuals (o−e)/√e over the full
# segment × priority grid — which cells DRIVE the q426 dependence,
# top-10 by |residual|.
_q("q489_chi_residuals",
   oracle="""
WITH j AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     obs AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS o
             FROM j GROUP BY a, b),
     ra  AS (SELECT a, CAST(COUNT(*) AS DOUBLE) AS na FROM j GROUP BY a),
     cb  AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS nb FROM j GROUP BY b),
     n   AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM j),
     grid AS (SELECT ra.a, cb.b, ra.na * cb.nb / n.nt AS e,
                     COALESCE(obs.o, 0) AS o
              FROM ra CROSS JOIN cb CROSS JOIN n
              LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b)
SELECT a AS segment, b AS priority,
       CAST(o AS BIGINT) AS observed,
       FLOOR(e * 100) / 100.0 AS expected,
       FLOOR((o - e) / SQRT(e) * 10000) / 10000.0 AS std_residual
FROM grid
ORDER BY ABS((o - e) / SQRT(e)) DESC, a, b LIMIT 10
""",
   engine_sql="""
-- r13: same cell-derived marginals as q426 (its residual-table
-- sibling); see q426 for the identity argument. ra / cb / n reuse one
-- cell exchange; the grid's LEFT JOIN branch keeps its own scan (the
-- optimizer infers not-null(a, b) on the join's right side — correct
-- there, but it un-canonicalizes that one branch, and a null-safe
-- join would CHANGE the null-category zero-cell semantics). 4 fact
-- scans -> 2.
WITH j AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     obs AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS o
             FROM j GROUP BY a, b),
     ra  AS (SELECT a, SUM(o) AS na FROM obs GROUP BY a),
     cb  AS (SELECT b, SUM(o) AS nb FROM obs GROUP BY b),
     n   AS (SELECT SUM(o) AS nt FROM obs),
     grid AS (SELECT ra.a, cb.b, ra.na * cb.nb / n.nt AS e,
                     COALESCE(obs.o, 0) AS o
              FROM ra CROSS JOIN cb CROSS JOIN n
              LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b)
SELECT a AS segment, b AS priority,
       CAST(o AS BIGINT) AS observed,
       FLOOR(e * 100) / 100.0 AS expected,
       FLOOR((o - e) / SQRT(e) * 10000) / 10000.0 AS std_residual
FROM grid
ORDER BY ABS((o - e) / SQRT(e)) DESC, a, b LIMIT 10
""")

# ---------------------------------------------------------------- B532
# SQL pipe syntax (Spark 4 `|>` operator chains) — the engine states
# the pricing rollup as a pipeline; the oracle is the classic
# SELECT equivalent. Same result, hash-gated.
_q("q490_pipe_syntax",
   oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM lineitem
WHERE l_quantity < 30
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
   engine_sql="""
FROM lineitem
|> WHERE l_quantity < 30
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
   GROUP BY l_returnflag
|> SELECT l_returnflag, n, cents
|> ORDER BY l_returnflag
""")


# ---------------------------------------------------------------- B533
# Forecast-method bake-off on the last 14 days: rolling naive (t−1),
# seasonal naive (t−7), and train-mean forecasts scored by MAE — all
# exact integer k$ arithmetic, one verdict table.
_q("q491_forecast_bakeoff", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     mx AS (SELECT MAX(day) AS d1 FROM d),
     s AS (SELECT d.day, d.k,
                  LAG(d.k, 1) OVER (ORDER BY d.day) AS naive_f,
                  LAG(d.k, 7) OVER (ORDER BY d.day) AS snaive_f,
                  CASE WHEN d.day > mx.d1 - INTERVAL 14 DAY
                       THEN 1 ELSE 0 END AS is_test
           FROM d CROSS JOIN mx),
     tr AS (SELECT CAST(FLOOR(SUM(k) * 1.0 / COUNT(*)) AS BIGINT) AS mean_f
            FROM s WHERE is_test = 0),
     t AS (SELECT s.k, s.naive_f, s.snaive_f, tr.mean_f
           FROM s CROSS JOIN tr
           WHERE s.is_test = 1 AND s.naive_f IS NOT NULL
             AND s.snaive_f IS NOT NULL)
SELECT 'naive' AS method,
       FLOOR(SUM(ABS(k - naive_f)) * 100.0 / COUNT(*)) / 100.0 AS mae_k
FROM t
UNION ALL
SELECT 'seasonal_naive' AS method,
       FLOOR(SUM(ABS(k - snaive_f)) * 100.0 / COUNT(*)) / 100.0 AS mae_k
FROM t
UNION ALL
SELECT 'train_mean' AS method,
       FLOOR(SUM(ABS(k - mean_f)) * 100.0 / COUNT(*)) / 100.0 AS mae_k
FROM t
ORDER BY method
""")

# ---------------------------------------------------------------- B534
# Syntetos–Boylan demand classification: ADI (mean inter-demand
# interval) × CV² (variance of demand sizes) quadrants — smooth /
# intermittent / erratic / lumpy, per part over daily demand.
_q("q492_demand_classification",
   oracle="""
WITH dd AS (SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
                   SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q
            FROM lineitem WHERE l_partkey <= 200
            GROUP BY l_partkey, CAST(l_shipdate AS DATE)),
     s AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS nd,
                  MIN(day) AS d0, MAX(day) AS d1,
                  SUM(q) AS sq, SUM(q * q) AS sqq
           FROM dd GROUP BY part HAVING COUNT(*) >= 3),
     m AS (SELECT part, nd,
                  CAST(DATEDIFF('day', d0, d1) AS DOUBLE) / (nd - 1) AS adi,
                  ((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nd)
                   / (nd - 1))
                  / ((CAST(sq AS DOUBLE) / nd)
                     * (CAST(sq AS DOUBLE) / nd)) AS cv2
           FROM s)
SELECT part, nd AS demand_days,
       FLOOR(adi * 100) / 100.0 AS adi,
       FLOOR(cv2 * 10000) / 10000.0 AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
            ELSE 'lumpy' END AS class
FROM m ORDER BY part
""",
   engine_sql="""
WITH dd AS (SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
                   SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q
            FROM lineitem WHERE l_partkey <= 200
            GROUP BY l_partkey, CAST(l_shipdate AS DATE)),
     s AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS nd,
                  MIN(day) AS d0, MAX(day) AS d1,
                  SUM(q) AS sq, SUM(q * q) AS sqq
           FROM dd GROUP BY part HAVING COUNT(*) >= 3),
     m AS (SELECT part, nd,
                  CAST(DATEDIFF(d1, d0) AS DOUBLE) / (nd - 1) AS adi,
                  ((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nd)
                   / (nd - 1))
                  / ((CAST(sq AS DOUBLE) / nd)
                     * (CAST(sq AS DOUBLE) / nd)) AS cv2
           FROM s)
SELECT part, nd AS demand_days,
       FLOOR(adi * 100) / 100.0 AS adi,
       FLOOR(cv2 * 10000) / 10000.0 AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
            ELSE 'lumpy' END AS class
FROM m ORDER BY part
""")

# ---------------------------------------------------------------- B535
# Newsvendor stocking quantile: optimal stock at the critical ratio
# cu/(cu+co) = 0.8 — the 80th DISC percentile of daily demand per
# brand (an actual observed value, exactly comparable).
_q("q493_newsvendor_quantile", """
WITH dd AS (SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS q
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE))
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS demand_days,
       CAST(PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY q) AS BIGINT)
         AS stock_q80,
       CAST(MAX(q) AS BIGINT) AS max_day_demand
FROM dd GROUP BY brand ORDER BY brand
""")

# ---------------------------------------------------------------- B536
# Null-key join semantics audit: NULL keys match nothing in inner /
# semi joins, survive left joins unmatched, and pass anti joins — the
# cardinality contract a migration must preserve, in one row.
_q("q494_null_join_audit", """
WITH c AS (SELECT c_custkey, NULLIF(c_nationkey, 3) AS nk FROM customer)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS total_rows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE nk IS NULL)
    AS null_key_rows,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM c JOIN nation n ON n.n_nationkey = c.nk) AS inner_matches,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM c LEFT JOIN nation n ON n.n_nationkey = c.nk
   WHERE n.n_nationkey IS NULL) AS left_unmatched,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM c
   WHERE NOT EXISTS (SELECT 1 FROM nation n
                     WHERE n.n_nationkey = c.nk)) AS anti_rows
""")

# ---------------------------------------------------------------- B537
# Semi-additive measure rollup: month-end balance per user (LAST value
# in the month — balances don't sum over time), then summed across
# users per month. The classic BI semi-additive pattern.
_q("q495_semi_additive_balance", """
WITH v AS (SELECT user_id,
                  CAST(DATE_TRUNC('month', ts) AS DATE) AS mon, ts,
                  event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
                  ROW_NUMBER() OVER (PARTITION BY user_id,
                                       CAST(DATE_TRUNC('month', ts)
                                            AS DATE)
                                     ORDER BY ts DESC, event_id DESC)
                    AS rk
           FROM events)
SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_balance_cents
FROM v WHERE rk = 1 GROUP BY mon ORDER BY mon
""")

# ---------------------------------------------------------------- B538
# Bitemporal point query: the version of each user's state effective
# at valid-time T among transactions committed up to tx K — q154's
# validity intervals cut by both axes, latest-tx wins.
_q("q496_bitemporal_point", """
WITH vers AS (SELECT event_id, user_id, event_type,
                     CAST(ROUND(value * 100) AS BIGINT) AS cents,
                     ts AS valid_from,
                     COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                              TIMESTAMP '2100-01-01 00:00:00') AS valid_to
              FROM events WHERE event_id <= 500),
     hit AS (SELECT *,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY event_id DESC) AS rk
             FROM vers
             WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
               AND valid_to > TIMESTAMP '2024-01-15 12:00:00')
SELECT user_id, event_id AS tx_id, event_type, cents
FROM hit WHERE rk = 1 ORDER BY user_id
""")

# ---------------------------------------------------------------- B539
# Bridge-table allocation: each order's total allocated across its
# lines proportional to line revenue, largest-remainder within the
# order so per-order allocations sum EXACTLY to the total.
_q("q497_bridge_allocation", """
WITH l AS (SELECT l_orderkey, l_linenumber,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS lc
           FROM lineitem WHERE l_orderkey < 300),
     o AS (SELECT o_orderkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS tc
           FROM orders WHERE o_orderkey < 300),
     s AS (SELECT l.l_orderkey, l.l_linenumber, l.lc, o.tc,
                  SUM(l.lc) OVER (PARTITION BY l.l_orderkey) AS osum
           FROM l JOIN o ON o.o_orderkey = l.l_orderkey),
     b AS (SELECT *,
                  CAST(FLOOR(CAST(tc AS DOUBLE) * lc / osum) AS BIGINT)
                    AS base,
                  (tc * lc) % osum AS frac
           FROM s),
     r AS (SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                     ORDER BY frac DESC, l_linenumber)
                    AS rk,
                  tc - SUM(base) OVER (PARTITION BY l_orderkey)
                    AS leftover
           FROM b)
SELECT l_orderkey, l_linenumber,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM r ORDER BY l_orderkey, l_linenumber
""")

# ---------------------------------------------------------------- B540
# Rolling 7-day distinct users. Spark has no DISTINCT window
# aggregate; the ENGINE uses the scale-correct rewrite — distinct
# (user, day) exploded over 7 day-offsets then grouped (linear, no
# self-join). The oracle states the same thing as a calendar range
# self-join.
_q("q498_rolling_distinct_users",
   oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
     days AS (SELECT DISTINCT day FROM ud)
SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM days d JOIN ud u
  ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
GROUP BY d.day ORDER BY d.day
""",
   engine_sql="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
     days AS (SELECT DISTINCT day FROM ud),
     x AS (SELECT user_id, DATE_ADD(day, off) AS day
           FROM ud LATERAL VIEW EXPLODE(SEQUENCE(0, 6)) t AS off)
SELECT d.day, CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS users_7d
FROM days d JOIN x ON x.day = d.day
GROUP BY d.day ORDER BY d.day
""")

# ---------------------------------------------------------------- B541
# Two-factor revenue-change decomposition (1995→1996 per segment):
# ΔR split into volume effect (Δn·avg₀) and rate effect (n₁·Δavg) —
# the metric-tree arithmetic a growth dashboard shows.
_q("q499_revenue_decomposition", """
WITH y AS (SELECT c.c_mktsegment AS seg,
                  EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE EXTRACT(YEAR FROM o.o_orderdate) IN (1995, 1996)
           GROUP BY c.c_mktsegment, EXTRACT(YEAR FROM o.o_orderdate)),
     p AS (SELECT a.seg, a.n AS n0, a.rc AS r0, b.n AS n1, b.rc AS r1
           FROM y a JOIN y b ON b.seg = a.seg
           WHERE a.yr = 1995 AND b.yr = 1996)
SELECT seg,
       CAST(r1 - r0 AS BIGINT) AS delta_cents,
       FLOOR((n1 - n0) * (CAST(r0 AS DOUBLE) / n0)) AS volume_effect,
       FLOOR(n1 * (CAST(r1 AS DOUBLE) / n1 - CAST(r0 AS DOUBLE) / n0))
         AS rate_effect
FROM p ORDER BY seg
""")

# ---------------------------------------------------------------- B542
# Hybrid search agreement: BM25 top-5 for a term vs cosine top-5 for
# a query embedding over the SAME doc ids (cross-modal join), both
# rankings in one output — the retrieval-stack comparison harness.
_q("q500_hybrid_search_agreement",
   oracle="""
WITH tf AS (SELECT doc_id, u.tok AS tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
            GROUP BY doc_id, u.tok),
     dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
     c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  SUM(dl.dl) / COUNT(*) AS avgdl
           FROM dl),
     hit AS (SELECT tf.doc_id, tf.tf, dl.dl,
                    CAST(COUNT(*) OVER () AS DOUBLE) AS df
             FROM tf JOIN dl ON dl.doc_id = tf.doc_id
             WHERE tf.tok = 'spark'),
     bm AS (SELECT hit.doc_id,
                   LN((c.n - hit.df + 0.5) / (hit.df + 0.5) + 1)
                   * hit.tf * 2.2
                   / (hit.tf + 1.2 * (0.25 + 0.75 * hit.dl / c.avgdl))
                     AS score
            FROM hit CROSS JOIN c),
     bmr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM bm),
     qv AS (SELECT g.i AS i,
                   CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding)))
              AS g(i)
            WHERE vec_id = 0),
     ev AS (SELECT e.vec_id, g.i AS i,
                   CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings e,
                 UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS g(i)
            WHERE e.vec_id <> 0),
     dots AS (SELECT ev.vec_id, SUM(ev.q * qv.q) AS dot,
                     SUM(ev.q * ev.q) AS n2
              FROM ev JOIN qv ON qv.i = ev.i GROUP BY ev.vec_id
              HAVING SUM(ev.q * ev.q) > 0),
     qn AS (SELECT SUM(q * q) AS qn2 FROM qv),
     cs AS (SELECT d.vec_id AS doc_id,
                   d.dot / (SQRT(CAST(d.n2 AS DOUBLE))
                            * SQRT(CAST(qn.qn2 AS DOUBLE))) AS score
            FROM dots d CROSS JOIN qn WHERE qn.qn2 > 0),
     csr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM cs)
SELECT 'bm25' AS method, CAST(rk AS BIGINT) AS rank, doc_id,
       FLOOR(score * 10000) / 10000.0 AS score
FROM bmr WHERE rk <= 5
UNION ALL
SELECT 'cosine' AS method, CAST(rk AS BIGINT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id,
       FLOOR(score * 10000) / 10000.0 AS score
FROM csr WHERE rk <= 5
ORDER BY method, rank
""",
   engine_sql="""
WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM documents) x
            GROUP BY doc_id, tok),
     dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
     c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  SUM(dl.dl) / COUNT(*) AS avgdl
           FROM dl),
     hit AS (SELECT tf.doc_id, tf.tf, dl.dl,
                    CAST(COUNT(*) OVER () AS DOUBLE) AS df
             FROM tf JOIN dl ON dl.doc_id = tf.doc_id
             WHERE tf.tok = 'spark'),
     bm AS (SELECT hit.doc_id,
                   LN((c.n - hit.df + 0.5) / (hit.df + 0.5) + 1)
                   * hit.tf * 2.2
                   / (hit.tf + 1.2 * (0.25 + 0.75 * hit.dl / c.avgdl))
                     AS score
            FROM hit CROSS JOIN c),
     bmr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM bm),
     qv AS (SELECT pos AS i,
                   CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
            FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos,
              val
            WHERE vec_id = 0),
     ev AS (SELECT vec_id, pos AS i,
                   CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
            FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos,
              val
            WHERE vec_id <> 0),
     dots AS (SELECT ev.vec_id, SUM(ev.q * qv.q) AS dot,
                     SUM(ev.q * ev.q) AS n2
              FROM ev JOIN qv ON qv.i = ev.i GROUP BY ev.vec_id
              HAVING SUM(ev.q * ev.q) > 0),
     qn AS (SELECT SUM(q * q) AS qn2 FROM qv),
     cs AS (SELECT d.vec_id AS doc_id,
                   d.dot / (SQRT(CAST(d.n2 AS DOUBLE))
                            * SQRT(CAST(qn.qn2 AS DOUBLE))) AS score
            FROM dots d CROSS JOIN qn WHERE qn.qn2 > 0),
     csr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM cs)
SELECT 'bm25' AS method, CAST(rk AS BIGINT) AS rank, doc_id,
       FLOOR(score * 10000) / 10000.0 AS score
FROM bmr WHERE rk <= 5
UNION ALL
SELECT 'cosine' AS method, CAST(rk AS BIGINT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id,
       FLOOR(score * 10000) / 10000.0 AS score
FROM csr WHERE rk <= 5
ORDER BY method, rank
""")


# ---------------------------------------------------------------- B543
# Geospatial grid density: hash-derived points binned into a 0.2°
# grid (geohash-lite), cells ranked by weight — the heat-map rollup,
# all integer bin ids.
_q("q501_geo_grid_density", """
WITH pts AS (SELECT c_custkey AS id,
                    (CAST(c_custkey * 7919 % 1000 AS DOUBLE) / 1000.0 - 0.5)
                      * 2 AS lat,
                    (CAST(c_custkey * 104729 % 1000 AS DOUBLE) / 1000.0)
                      * 2 AS lon,
                    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS w
             FROM customer),
     g AS (SELECT CAST(FLOOR(lat / 0.2) AS BIGINT) AS gy,
                  CAST(FLOOR(lon / 0.2) AS BIGINT) AS gx, w
           FROM pts)
SELECT gy, gx, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(w) AS BIGINT) AS weight_cents
FROM g GROUP BY gy, gx
ORDER BY n_points DESC, gy, gx LIMIT 20
""")

# ---------------------------------------------------------------- B544
# Order-2 Markov paths: P(next | prev two events) from per-user
# trigram counts — the path-prediction upgrade over q200's bigram
# transition matrix, exact integer shares.
_q("q502_path_trigrams", """
WITH s AS (SELECT user_id, event_type, ts, event_id,
                  LAG(event_type, 2) OVER w AS p2,
                  LAG(event_type, 1) OVER w AS p1
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
     tri AS (SELECT p2, p1, event_type AS nxt,
                    CAST(COUNT(*) AS BIGINT) AS c
             FROM s WHERE p2 IS NOT NULL GROUP BY p2, p1, event_type),
     ctx AS (SELECT p2, p1, SUM(c) AS tot FROM tri GROUP BY p2, p1)
SELECT tri.p2, tri.p1, tri.nxt, tri.c,
       FLOOR(tri.c * 1000000.0 / ctx.tot) / 1000000.0 AS p_next
FROM tri JOIN ctx ON ctx.p2 = tri.p2 AND ctx.p1 = tri.p1
WHERE ctx.tot >= 5
ORDER BY tri.p2, tri.p1, tri.nxt
""")

# ---------------------------------------------------------------- B545
# Outlier-consensus ensemble: z-score, IQR-fence and MAD votes on
# order totals; flagged when ≥2 methods agree — the ensemble pattern
# that suppresses single-method false positives. Exact cent inputs,
# DISC quantiles, manual moments.
_q("q503_outlier_consensus", """
WITH v AS (SELECT o_orderkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS k
           FROM orders),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(k) AS sx,
                  -- DECIMAL(38,0): Σk² ≈ 3.4e18 at sf100 grazes 2^63
                  SUM(CAST(k AS DECIMAL(38,0)) * k) AS sxx,
                  PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY c) AS q1,
                  PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) AS med,
                  PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY c) AS q3
           FROM v),
     mad AS (SELECT PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY ABS(v.c - m.med)) AS mv
             FROM v CROSS JOIN m),
     f AS (SELECT v.o_orderkey, v.c,
                  CASE WHEN ABS(v.k - CAST(m.sx AS DOUBLE) / m.n)
                       > 3 * SQRT((CAST(m.sxx AS DOUBLE)
                                   - CAST(m.sx AS DOUBLE) * m.sx / m.n)
                                  / (m.n - 1)) THEN 1 ELSE 0 END AS z_f,
                  CASE WHEN v.c > m.q3 + 3 * (m.q3 - m.q1)
                         OR v.c < m.q1 - 3 * (m.q3 - m.q1)
                       THEN 1 ELSE 0 END AS iqr_f,
                  CASE WHEN ABS(v.c - m.med) > 5 * mad.mv
                       THEN 1 ELSE 0 END AS mad_f
           FROM v CROSS JOIN m CROSS JOIN mad)
SELECT CAST(SUM(z_f) AS BIGINT) AS z_flagged,
       CAST(SUM(iqr_f) AS BIGINT) AS iqr_flagged,
       CAST(SUM(mad_f) AS BIGINT) AS mad_flagged,
       CAST(SUM(CASE WHEN z_f + iqr_f + mad_f >= 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS consensus2,
       CAST(SUM(CASE WHEN z_f + iqr_f + mad_f = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS consensus3
FROM f
""")

# ---------------------------------------------------------------- B546
# One Lloyd iteration of k-means as a relational op (k=3 on 2-D
# points): assign to hash-seeded centroids by exact squared distance,
# recompute centroids — the step the IVF driver-side fit repeats.
_q("q504_kmeans_step", """
WITH pts AS (SELECT c_custkey AS id,
                    c_custkey * 7919 % 1000 AS x,
                    c_custkey * 104729 % 1000 AS y
             FROM customer WHERE c_custkey <= 600),
     cent AS (SELECT 0 AS k, 167 AS cx, 500 AS cy
              UNION ALL SELECT 1 AS k, 500 AS cx, 167 AS cy
              UNION ALL SELECT 2 AS k, 833 AS cx, 833 AS cy),
     d AS (SELECT pts.id, pts.x, pts.y, cent.k,
                  (pts.x - cent.cx) * (pts.x - cent.cx)
                  + (pts.y - cent.cy) * (pts.y - cent.cy) AS d2,
                  ROW_NUMBER() OVER (PARTITION BY pts.id
                                     ORDER BY (pts.x - cent.cx)
                                              * (pts.x - cent.cx)
                                              + (pts.y - cent.cy)
                                              * (pts.y - cent.cy),
                                              cent.k) AS rk
           FROM pts CROSS JOIN cent)
SELECT k AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(SUM(x) * 100.0 / COUNT(*)) / 100.0 AS new_cx,
       FLOOR(SUM(y) * 100.0 / COUNT(*)) / 100.0 AS new_cy
FROM d WHERE rk = 1 GROUP BY k ORDER BY cluster
""")

# ---------------------------------------------------------------- B547
# Sample-ratio-mismatch (SRM) check: hash-assigned 50/50 experiment
# split, one-df chi-square against the expected ratio — the A/B
# integrity gate run before reading any metric.
_q("q505_srm_check",
   oracle="""
WITH a AS (SELECT CASE WHEN CAST('0x' || SUBSTR(MD5(
                    CAST(c_custkey AS VARCHAR) || ':srm'), 1, 8)
                    AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treat' END
                    AS arm
           FROM customer),
     c AS (SELECT CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n0,
                  CAST(SUM(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n1
           FROM a)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       FLOOR((POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
              + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2))
             * 10000) / 10000.0 AS chi2_1df,
       CAST(CASE WHEN POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                      + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                      > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
FROM c
""",
   engine_sql="""
WITH a AS (SELECT CASE WHEN CAST(CONV(SUBSTR(MD5(
                    CAST(c_custkey AS STRING) || ':srm'), 1, 8), 16, 10)
                    AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treat' END
                    AS arm
           FROM customer),
     c AS (SELECT CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n0,
                  CAST(SUM(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n1
           FROM a)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       FLOOR((POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
              + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2))
             * 10000) / 10000.0 AS chi2_1df,
       CAST(CASE WHEN POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                      + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                      > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
FROM c
""")

# ---------------------------------------------------------------- B548
# Two-proportion power analysis: required n per arm to detect the
# observed high-value rate ±2pp at α=.05, power .8 (closed form,
# z table constants inlined) — the pre-experiment sizing arithmetic.
_q("q506_power_analysis", """
WITH base AS (SELECT CAST(SUM(CASE WHEN o_totalprice > 200000
                              THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*) AS p0
              FROM orders),
     d AS (SELECT p0, p0 + 0.02 AS p1, 1.959964 AS za, 0.841621 AS zb
           FROM base)
SELECT FLOOR(p0 * 1000000) / 1000000.0 AS baseline_rate,
       FLOOR(p1 * 1000000) / 1000000.0 AS target_rate,
       CAST(CEIL(POWER(za * SQRT(2 * ((p0 + p1) / 2)
                                 * (1 - (p0 + p1) / 2))
                       + zb * SQRT(p0 * (1 - p0) + p1 * (1 - p1)), 2)
                 / POWER(p1 - p0, 2)) AS BIGINT) AS n_per_arm
FROM d
""")

# ---------------------------------------------------------------- B549
# Fleiss' kappa for 3 hash-derived raters × documents (multi-rater
# agreement beyond chance — the multi-annotator upgrade over q311's
# two-rater Cohen's kappa). Exact integer category counts per item.
_q("q507_fleiss_kappa",
   oracle="""
WITH r AS (SELECT d.doc_id, g.r AS rater,
                  CAST('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR) || ':'
                       || CAST(g.r AS VARCHAR)), 1, 4) AS BIGINT) % 3
                    AS cat
           FROM documents d,
                (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS r) g),
     cnt AS (SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
             FROM r GROUP BY doc_id, cat),
     pi AS (SELECT doc_id, SUM(nij * nij) - 3 AS agree
            FROM cnt GROUP BY doc_id),
     pbar AS (SELECT SUM(agree) * 1.0 / (COUNT(*) * 3 * 2) AS pb FROM pi),
     pj AS (SELECT cat, SUM(nij) AS nj FROM cnt GROUP BY cat),
     pjt AS (SELECT SUM(nj) AS tot FROM pj),
     pe AS (SELECT LIST_REDUCE(LIST_SORT(LIST(POWER(nj * 1.0 / pjt.tot,
                                               2))),
                             (a, b) -> a + b) AS pe
            FROM pj CROSS JOIN pjt)
SELECT FLOOR(pbar.pb * 1000000) / 1000000.0 AS p_observed,
       FLOOR(pe.pe * 1000000) / 1000000.0 AS p_expected,
       FLOOR((pbar.pb - pe.pe) / (1 - pe.pe) * 1000000) / 1000000.0
         AS fleiss_kappa
FROM pbar CROSS JOIN pe
""",
   engine_sql="""
WITH r AS (SELECT d.doc_id, g.r AS rater,
                  CAST(CONV(SUBSTR(MD5(CAST(d.doc_id AS STRING) || ':'
                       || CAST(g.r AS STRING)), 1, 4), 16, 10)
                       AS BIGINT) % 3 AS cat
           FROM documents d
           CROSS JOIN (SELECT EXPLODE(SEQUENCE(1, 3)) AS r) g),
     cnt AS (SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
             FROM r GROUP BY doc_id, cat),
     pi AS (SELECT doc_id, SUM(nij * nij) - 3 AS agree
            FROM cnt GROUP BY doc_id),
     pbar AS (SELECT SUM(agree) * 1.0 / (COUNT(*) * 3 * 2) AS pb FROM pi),
     pj AS (SELECT cat, SUM(nij) AS nj FROM cnt GROUP BY cat),
     pjt AS (SELECT SUM(nj) AS tot FROM pj),
     pe AS (SELECT AGGREGATE(SORT_ARRAY(COLLECT_LIST(POWER(nj * 1.0
                             / pjt.tot, 2))),
                             CAST(0 AS DOUBLE), (a, b) -> a + b) AS pe
            FROM pj CROSS JOIN pjt)
SELECT FLOOR(pbar.pb * 1000000) / 1000000.0 AS p_observed,
       FLOOR(pe.pe * 1000000) / 1000000.0 AS p_expected,
       FLOOR((pbar.pb - pe.pe) / (1 - pe.pe) * 1000000) / 1000000.0
         AS fleiss_kappa
FROM pbar CROSS JOIN pe
""")

# ---------------------------------------------------------------- B550
# Cronbach's alpha over 3 hash-derived item scores per customer:
# α = k/(k−1)·(1 − Σvarᵢ/var_total), every variance from exact
# integer moments — the scale-reliability diagnostic.
_q("q508_cronbach_alpha",
   oracle="""
WITH it AS (SELECT c_custkey,
                   CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)
                        || ':1'), 1, 3) AS BIGINT) AS s1,
                   CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)
                        || ':2'), 1, 3) AS BIGINT) AS s2,
                   CAST('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)
                        || ':3'), 1, 3) AS BIGINT) AS s3
            FROM customer),
     t AS (SELECT c_custkey, s1, s2, s3, s1 + s2 + s3 AS tot FROM it),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(s1) AS a1, SUM(s1 * s1) AS b1,
                  SUM(s2) AS a2, SUM(s2 * s2) AS b2,
                  SUM(s3) AS a3, SUM(s3 * s3) AS b3,
                  SUM(tot) AS at2, SUM(tot * tot) AS bt
           FROM t)
SELECT FLOOR(1.5 * (1 -
         (((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n)
           + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE) * a2 / n)
           + (CAST(b3 AS DOUBLE) - CAST(a3 AS DOUBLE) * a3 / n))
          / (CAST(bt AS DOUBLE) - CAST(at2 AS DOUBLE) * at2 / n)))
         * 1000000) / 1000000.0 AS cronbach_alpha
FROM m
""",
   engine_sql="""
WITH it AS (SELECT c_custkey,
                   CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)
                        || ':1'), 1, 3), 16, 10) AS BIGINT) AS s1,
                   CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)
                        || ':2'), 1, 3), 16, 10) AS BIGINT) AS s2,
                   CAST(CONV(SUBSTR(MD5(CAST(c_custkey AS STRING)
                        || ':3'), 1, 3), 16, 10) AS BIGINT) AS s3
            FROM customer),
     t AS (SELECT c_custkey, s1, s2, s3, s1 + s2 + s3 AS tot FROM it),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(s1) AS a1, SUM(s1 * s1) AS b1,
                  SUM(s2) AS a2, SUM(s2 * s2) AS b2,
                  SUM(s3) AS a3, SUM(s3 * s3) AS b3,
                  SUM(tot) AS at2, SUM(tot * tot) AS bt
           FROM t)
SELECT FLOOR(1.5 * (1 -
         (((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n)
           + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE) * a2 / n)
           + (CAST(b3 AS DOUBLE) - CAST(a3 AS DOUBLE) * a3 / n))
          / (CAST(bt AS DOUBLE) - CAST(at2 AS DOUBLE) * at2 / n)))
         * 1000000) / 1000000.0 AS cronbach_alpha
FROM m
""")

# ---------------------------------------------------------------- B551
# Forecast skill score: 1 − MSE(seasonal-naive)/MSE(train-mean) over
# the q491 test window — positive skill means the model beats the
# baseline; exact integer errors throughout.
_q("q509_forecast_skill", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     mx AS (SELECT MAX(day) AS d1 FROM d),
     s AS (SELECT d.day, d.k,
                  LAG(d.k, 7) OVER (ORDER BY d.day) AS snaive_f,
                  CASE WHEN d.day > mx.d1 - INTERVAL 14 DAY
                       THEN 1 ELSE 0 END AS is_test
           FROM d CROSS JOIN mx),
     tr AS (SELECT CAST(FLOOR(SUM(k) * 1.0 / COUNT(*)) AS BIGINT) AS mean_f
            FROM s WHERE is_test = 0),
     t AS (SELECT s.k, s.snaive_f, tr.mean_f
           FROM s CROSS JOIN tr
           WHERE s.is_test = 1 AND s.snaive_f IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS test_days,
       FLOOR((1 - SUM((k - snaive_f) * (k - snaive_f)) * 1.0
                  / SUM((k - mean_f) * (k - mean_f))) * 10000) / 10000.0
         AS skill_vs_mean
FROM t
""")

# ---------------------------------------------------------------- B552
# RFM-segment migration matrix 1995→1996: monetary quintile per
# customer per year via percentile-CUTOFF banding (the scale-safe
# NTILE substitute — no low-cardinality windows), then the year-over-
# year transition counts.
_q("q510_rfm_migration",
   oracle="""
WITH y AS (SELECT o_custkey AS cust,
                  EXTRACT(YEAR FROM o_orderdate) AS yr,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
           GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)),
     cut AS (SELECT yr,
                    PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY m) AS c1,
                    PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY m) AS c2,
                    PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY m) AS c3,
                    PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY m) AS c4
             FROM y GROUP BY yr),
     b AS (SELECT y.cust, y.yr,
                  CASE WHEN y.m <= cut.c1 THEN 1
                       WHEN y.m <= cut.c2 THEN 2
                       WHEN y.m <= cut.c3 THEN 3
                       WHEN y.m <= cut.c4 THEN 4 ELSE 5 END AS q
           FROM y JOIN cut ON cut.yr = y.yr)
SELECT a.q AS q_1995, c.q AS q_1996, CAST(COUNT(*) AS BIGINT) AS n_cust
FROM b a JOIN b c ON c.cust = a.cust AND a.yr = 1995 AND c.yr = 1996
GROUP BY a.q, c.q ORDER BY q_1995, q_1996
""",
   engine_sql="""
-- r13: the b self-join re-expanded the whole y + cut pipeline per
-- side (4 orders scans; CTE_REEXPANSION_SCAN_r13.json). (cust, yr)
-- is unique in b (y is grouped on it, cut is one row per yr), so the
-- two-year self-join is exactly a pivot: one row per customer with
-- both years' quintiles, inner-join semantics restored by the
-- not-null filter (q is never null — the CASE has an ELSE). One b
-- pipeline; the y branches under b and cut canonicalize (the yr
-- equi-join infers the same not-null on both) and stage reuse
-- collapses them.
WITH y AS (SELECT o_custkey AS cust,
                  EXTRACT(YEAR FROM o_orderdate) AS yr,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
           GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)),
     cut AS (SELECT yr,
                    PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY m) AS c1,
                    PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY m) AS c2,
                    PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY m) AS c3,
                    PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY m) AS c4
             FROM y GROUP BY yr),
     b AS (SELECT y.cust, y.yr,
                  CASE WHEN y.m <= cut.c1 THEN 1
                       WHEN y.m <= cut.c2 THEN 2
                       WHEN y.m <= cut.c3 THEN 3
                       WHEN y.m <= cut.c4 THEN 4 ELSE 5 END AS q
           FROM y JOIN cut ON cut.yr = y.yr),
     p AS (SELECT cust,
                  MAX(CASE WHEN yr = 1995 THEN q END) AS q_1995,
                  MAX(CASE WHEN yr = 1996 THEN q END) AS q_1996
           FROM b GROUP BY cust)
SELECT q_1995, q_1996, CAST(COUNT(*) AS BIGINT) AS n_cust
FROM p WHERE q_1995 IS NOT NULL AND q_1996 IS NOT NULL
GROUP BY q_1995, q_1996 ORDER BY q_1995, q_1996
""")


# ---------------------------------------------------------------- B553
# SCD Type-3 snapshot: current + previous attribute value per key in
# fixed columns (the limited-history warehouse pattern; SCD2 keeps the
# full interval history, q154).
_q("q511_scd3_snapshot", """
WITH v AS (SELECT user_id, event_type, ts, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC)
                    AS rk
           FROM events)
SELECT cur.user_id,
       cur.event_type AS current_type,
       prev.event_type AS previous_type,
       CAST(CASE WHEN prev.event_type IS NULL
                   OR cur.event_type = prev.event_type
                 THEN 0 ELSE 1 END AS BIGINT) AS changed
FROM (SELECT * FROM v WHERE rk = 1) cur
LEFT JOIN (SELECT * FROM v WHERE rk = 2) prev
       ON prev.user_id = cur.user_id
ORDER BY cur.user_id
""")

# ---------------------------------------------------------------- B554
# Late-arriving-dimension lookup: each fact takes the dim version
# valid at its timestamp, and facts predating the dim's first version
# FALL BACK to that earliest version (the standard late-arriving
# pattern) — validity join + per-fact COALESCE rank.
_q("q512_late_arriving_dim", """
WITH dim AS (SELECT user_id, event_type AS attr, ts AS valid_from,
                    COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                             TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS vn
             FROM events WHERE event_type IN ('signup', 'purchase')),
     fact AS (SELECT event_id, user_id, ts,
                     CAST(ROUND(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'click'),
     hit AS (SELECT f.event_id, f.user_id, f.cents, d.attr
             FROM fact f JOIN dim d
               ON d.user_id = f.user_id
              AND f.ts >= d.valid_from AND f.ts < d.valid_to),
     fb AS (SELECT f.event_id, f.user_id, f.cents, d.attr
            FROM fact f JOIN dim d
              ON d.user_id = f.user_id AND d.vn = 1
            WHERE NOT EXISTS (SELECT 1 FROM hit h
                              WHERE h.event_id = f.event_id))
SELECT event_id, user_id, cents, attr, 'effective' AS src FROM hit
UNION ALL
SELECT event_id, user_id, cents, attr, 'fallback' AS src FROM fb
ORDER BY event_id
""")

# ---------------------------------------------------------------- B555
# Header–detail reconciliation report: order headers vs the exact
# cent sum of their lines — match counts and the worst absolute
# discrepancies, the daily finance-ops integrity check.
_q("q513_header_detail_recon", """
WITH l AS (SELECT l_orderkey,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS lc,
                  CAST(COUNT(*) AS BIGINT) AS n_lines
           FROM lineitem GROUP BY l_orderkey),
     j AS (SELECT o.o_orderkey,
                  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS hc,
                  COALESCE(l.lc, 0) AS lc, COALESCE(l.n_lines, 0) AS nl
           FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN nl = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS headless_lines,
       CAST(SUM(CASE WHEN hc = lc THEN 1 ELSE 0 END) AS BIGINT)
         AS exact_match,
       CAST(MAX(ABS(hc - lc)) AS BIGINT) AS max_abs_diff_cents,
       CAST(SUM(ABS(hc - lc)) AS BIGINT) AS total_abs_diff_cents
FROM j
""")

# ---------------------------------------------------------------- B556
# Effective-dated currency conversion: an inline rate table with
# validity windows, converted revenue per month — the as-of dim join
# every multi-currency warehouse runs.
_q("q514_currency_conversion", """
WITH rates AS (SELECT * FROM (VALUES
                 (DATE '1992-01-01', DATE '1996-01-01', 110),
                 (DATE '1996-01-01', DATE '1999-01-01', 125),
                 (DATE '1999-01-01', DATE '2101-01-01', 96))
               AS r(valid_from, valid_to, rate_pct)),
     o AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mon,
                  CAST(o_orderdate AS DATE) AS d,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT o.mon, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.cents) AS BIGINT) AS usd_cents,
       CAST(SUM(CAST(FLOOR(o.cents * r.rate_pct / 100.0) AS BIGINT))
            AS BIGINT) AS converted_cents
FROM o JOIN rates r ON o.d >= r.valid_from AND o.d < r.valid_to
GROUP BY o.mon ORDER BY o.mon
""")

# ---------------------------------------------------------------- B557
# ISO week-year boundary corners: days whose ISO week-year differs
# from the calendar year (the early-January / late-December rows that
# break naive week rollups).
_q("q515_iso_week_corners",
   oracle="""
WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
SELECT day,
       CAST(EXTRACT(YEAR FROM day) AS BIGINT) AS cal_year,
       CAST(ISOYEAR(day) AS BIGINT) AS iso_year,
       CAST(WEEKOFYEAR(day) AS BIGINT) AS iso_week
FROM d
WHERE EXTRACT(YEAR FROM day) <> ISOYEAR(day)
ORDER BY day
""",
   engine_sql="""
WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
SELECT day,
       CAST(EXTRACT(YEAR FROM day) AS BIGINT) AS cal_year,
       CAST(EXTRACT(YEAROFWEEK FROM day) AS BIGINT) AS iso_year,
       CAST(WEEKOFYEAR(day) AS BIGINT) AS iso_week
FROM d
WHERE EXTRACT(YEAR FROM day) <> EXTRACT(YEAROFWEEK FROM day)
ORDER BY day
""")

# ---------------------------------------------------------------- B558
# Retail 4-5-4 fiscal calendar mapping: ISO weeks grouped into the
# repeating 4-5-4 month pattern within the fiscal quarter — pure
# integer arithmetic from the ISO week number.
_q("q516_fiscal_454",
   oracle="""
WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
     w AS (SELECT day, CAST(ISOYEAR(day) AS BIGINT) AS fy,
                  CAST(LEAST(WEEKOFYEAR(day), 52) - 1 AS BIGINT) AS w0
           FROM d),
     m AS (SELECT day, fy, w0, w0 // 13 AS fq,
                  CASE WHEN w0 % 13 < 4 THEN 1
                       WHEN w0 % 13 < 9 THEN 2 ELSE 3 END AS mq
           FROM w)
SELECT fy, CAST(fq + 1 AS BIGINT) AS fiscal_quarter,
       CAST(fq * 3 + mq AS BIGINT) AS fiscal_month,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM m GROUP BY fy, fq, mq ORDER BY fy, fiscal_quarter, fiscal_month
""",
   engine_sql="""
WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
     w AS (SELECT day, CAST(EXTRACT(YEAROFWEEK FROM day) AS BIGINT) AS fy,
                  CAST(LEAST(WEEKOFYEAR(day), 52) - 1 AS BIGINT) AS w0
           FROM d),
     m AS (SELECT day, fy, w0, w0 DIV 13 AS fq,
                  CASE WHEN w0 % 13 < 4 THEN 1
                       WHEN w0 % 13 < 9 THEN 2 ELSE 3 END AS mq
           FROM w)
SELECT fy, CAST(fq + 1 AS BIGINT) AS fiscal_quarter,
       CAST(fq * 3 + mq AS BIGINT) AS fiscal_month,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM m GROUP BY fy, fq, mq ORDER BY fy, fiscal_quarter, fiscal_month
""")

# ---------------------------------------------------------------- B559
# Partition-design audit: rows and exact byte-proxy per (year, month)
# partition plus the max/median balance ratio — the check run before
# committing a partitioning scheme.
_q("q517_partition_audit", """
WITH p AS (SELECT EXTRACT(YEAR FROM l_shipdate) AS y,
                  EXTRACT(MONTH FROM l_shipdate) AS m,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1, 2),
     s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
                  CAST(MAX(n) AS BIGINT) AS max_rows,
                  CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY n)
                       AS BIGINT) AS med_rows,
                  CAST(MIN(n) AS BIGINT) AS min_rows,
                  CAST(SUM(n) AS BIGINT) AS total_rows
           FROM p)
SELECT n_parts, total_rows, min_rows, med_rows, max_rows,
       FLOOR(max_rows * 100.0 / med_rows) / 100.0 AS max_over_median
FROM s
""")

# ---------------------------------------------------------------- B560
# Dictionary-encoding benefit estimate per column: distinct ratio and
# projected dict+codes size vs raw bytes (the layout-tuning heuristic
# a storage engineer runs before rewriting a table).
_q("q518_compression_estimate", """
WITH c AS (SELECT 'o_orderstatus' AS col,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d,
                  CAST(SUM(LENGTH(o_orderstatus)) AS BIGINT) AS raw
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority' AS col,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d,
                  CAST(SUM(LENGTH(o_orderpriority)) AS BIGINT) AS raw
           FROM orders
           UNION ALL
           SELECT 'c_mktsegment' AS col,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS d,
                  CAST(SUM(LENGTH(c_mktsegment)) AS BIGINT) AS raw
           FROM customer)
SELECT col, n, d,
       FLOOR(d * 1000000.0 / n) / 1000000.0 AS distinct_ratio, raw,
       CAST(d * 16 + n * CAST(CEIL(LN(d + 1) / LN(2) / 8) AS BIGINT)
            AS BIGINT) AS dict_bytes_est
FROM c ORDER BY col
""")

# ---------------------------------------------------------------- B561
# Bloom-filter sizing calculator: optimal bits (m) and hash count (k)
# for the OBSERVED distinct-key count at 1% and 0.1% target FPR —
# the closed-form ln2 arithmetic behind q417's filter.
_q("q519_bloom_sizing", """
WITH n AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS nd
           FROM lineitem)
SELECT CAST(nd AS BIGINT) AS n_keys,
       CAST(CEIL(-nd * LN(0.01) / (LN(2) * LN(2))) AS BIGINT)
         AS m_bits_fpr1,
       CAST(ROUND(-LN(0.01) / LN(2)) AS BIGINT) AS k_hashes_fpr1,
       CAST(CEIL(-nd * LN(0.001) / (LN(2) * LN(2))) AS BIGINT)
         AS m_bits_fpr01,
       CAST(ROUND(-LN(0.001) / LN(2)) AS BIGINT) AS k_hashes_fpr01
FROM n
""")

# ---------------------------------------------------------------- B562
# Shuffle-partition advisor: byte-proxy volume vs a 4 KB-per-
# partition target plus a measured hash-balance check of the
# RECOMMENDED partition count (max/avg row share across hash buckets).
_q("q520_shuffle_advisor",
   oracle="""
WITH v AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
                  CAST(COUNT(*) AS BIGINT) AS n FROM documents),
     rec AS (SELECT bytes_total, n,
                    GREATEST(CAST(CEIL(bytes_total / 4096.0) AS BIGINT), 1)
                      AS n_parts
             FROM v),
     h AS (SELECT CAST('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) % rec.n_parts AS b
           FROM documents d CROSS JOIN rec),
     bal AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY b)
SELECT rec.bytes_total, rec.n_parts,
       CAST(MAX(bal.c) AS BIGINT) AS max_bucket_rows,
       FLOOR(MAX(bal.c) * 100.0 * rec.n_parts / rec.n) / 100.0
         AS max_over_avg
FROM rec CROSS JOIN bal
GROUP BY rec.bytes_total, rec.n_parts, rec.n
""",
   engine_sql="""
WITH v AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
                  CAST(COUNT(*) AS BIGINT) AS n FROM documents),
     rec AS (SELECT bytes_total, n,
                    GREATEST(CAST(CEIL(bytes_total / 4096.0) AS BIGINT), 1)
                      AS n_parts
             FROM v),
     h AS (SELECT CAST(CONV(SUBSTR(MD5(CAST(d.doc_id AS STRING)),
                        1, 8), 16, 10) AS BIGINT) % rec.n_parts AS b
           FROM documents d CROSS JOIN rec),
     bal AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY b)
SELECT rec.bytes_total, rec.n_parts,
       CAST(MAX(bal.c) AS BIGINT) AS max_bucket_rows,
       FLOOR(MAX(bal.c) * 100.0 * rec.n_parts / rec.n) / 100.0
         AS max_over_avg
FROM rec CROSS JOIN bal
GROUP BY rec.bytes_total, rec.n_parts, rec.n
""")


# ---------------------------------------------------------------- B563
# Partial autocorrelation (PACF lags 1–3, Durbin–Levinson closed
# form): series centered ×n so every correlation numerator folds
# exact integers; the AR-order diagnostic.
_q("q521_pacf", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 1000000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     s AS (SELECT day, k, COUNT(*) OVER () AS n,
                  SUM(k) OVER () AS sk
           FROM d),
     x AS (SELECT day, n * k - sk AS xc,
                  LAG(n * k - sk, 1) OVER (ORDER BY day) AS x1,
                  LAG(n * k - sk, 2) OVER (ORDER BY day) AS x2,
                  LAG(n * k - sk, 3) OVER (ORDER BY day) AS x3
           FROM s),
     r AS (SELECT SUM(xc * xc) AS s0,
                  SUM(CASE WHEN x1 IS NOT NULL THEN xc * x1 END) AS s1,
                  SUM(CASE WHEN x2 IS NOT NULL THEN xc * x2 END) AS s2,
                  SUM(CASE WHEN x3 IS NOT NULL THEN xc * x3 END) AS s3
           FROM x),
     c AS (SELECT CAST(s1 AS DOUBLE) / s0 AS r1,
                  CAST(s2 AS DOUBLE) / s0 AS r2,
                  CAST(s3 AS DOUBLE) / s0 AS r3
           FROM r)
SELECT FLOOR(r1 * 10000) / 10000.0 AS pacf1,
       FLOOR((r2 - r1 * r1) / (1 - r1 * r1) * 10000) / 10000.0 AS pacf2,
       FLOOR(((r3 - r1 * r2)
              - (r2 - r1 * r1) / (1 - r1 * r1) * (r2 - r1 * r1))
             / ((1 - r1 * r1)
                - (r2 - r1 * r1) / (1 - r1 * r1) * (r2 - r1 * r1) * 1.0)
             * 10000) / 10000.0 AS pacf3_dl
FROM c
""")

# ---------------------------------------------------------------- B564
# Dominant-period detection: argmax autocorrelation over lags 2–14 of
# the daily series (the "is there weekly seasonality" probe), exact
# centered-integer correlations.
_q("q522_period_detection",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 1000000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     s AS (SELECT day, COUNT(*) OVER () * k - SUM(k) OVER () AS xc,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d),
     lagd AS (SELECT g.l AS lag, a.xc AS xa, b.xc AS xb
              FROM (SELECT UNNEST(GENERATE_SERIES(2, 14)) AS l) g
              JOIN s a ON TRUE
              JOIN s b ON b.rn = a.rn - g.l),
     -- DECIMAL(38,0) products: xc ~ n_days*k grows with revenue,
     -- so SUM(xc*xc) passes 2^63 at sf100 (ANSI Spark threw in the
     -- r10 profile; DuckDB widens to HUGEINT) — exact in both engines
     s0 AS (SELECT SUM(CAST(xc AS DECIMAL(38,0)) * xc) AS v FROM s),
     r AS (SELECT lag, SUM(CAST(xa AS DECIMAL(38,0)) * xb) AS num
           FROM lagd GROUP BY lag),
     best AS (SELECT r.lag, CAST(r.num AS DOUBLE) / s0.v AS acf,
                     ROW_NUMBER() OVER (
                       ORDER BY CAST(r.num AS DOUBLE) / s0.v DESC, r.lag)
                       AS rk
              FROM r CROSS JOIN s0)
SELECT CAST(lag AS BIGINT) AS detected_period,
       FLOOR(acf * 10000) / 10000.0 AS acf_at_peak
FROM best WHERE rk = 1
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 1000000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     s AS (SELECT day, COUNT(*) OVER () * k - SUM(k) OVER () AS xc,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d),
     lagd AS (SELECT g.l AS lag, a.xc AS xa, b.xc AS xb
              FROM (SELECT EXPLODE(SEQUENCE(2, 14)) AS l) g
              JOIN s a ON TRUE
              JOIN s b ON b.rn = a.rn - g.l),
     -- DECIMAL(38,0) products: xc ~ n_days*k grows with revenue,
     -- so SUM(xc*xc) passes 2^63 at sf100 (ANSI Spark threw in the
     -- r10 profile; DuckDB widens to HUGEINT) — exact in both engines
     s0 AS (SELECT SUM(CAST(xc AS DECIMAL(38,0)) * xc) AS v FROM s),
     r AS (SELECT lag, SUM(CAST(xa AS DECIMAL(38,0)) * xb) AS num
           FROM lagd GROUP BY lag),
     best AS (SELECT r.lag, CAST(r.num AS DOUBLE) / s0.v AS acf,
                     ROW_NUMBER() OVER (
                       ORDER BY CAST(r.num AS DOUBLE) / s0.v DESC, r.lag)
                       AS rk
              FROM r CROSS JOIN s0)
SELECT CAST(lag AS BIGINT) AS detected_period,
       FLOOR(acf * 10000) / 10000.0 AS acf_at_peak
FROM best WHERE rk = 1
""")

# ---------------------------------------------------------------- B565
# Laspeyres & Paasche price indices 1995→1996 per brand: per-part
# integer unit prices (floored cents) weighted by base/current-year
# quantities — the economics-style basket arithmetic, all BIGINT.
_q("q523_price_indices", """
WITH py AS (SELECT p.p_brand AS brand, l.l_partkey AS part,
                   EXTRACT(YEAR FROM l.l_shipdate) AS yr,
                   CAST(FLOOR(
                     SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                     * 1.0 / SUM(CAST(ROUND(l.l_quantity) AS BIGINT)))
                     AS BIGINT) AS unit_cents,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS qty
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE EXTRACT(YEAR FROM l.l_shipdate) IN (1995, 1996)
            GROUP BY p.p_brand, l.l_partkey,
                     EXTRACT(YEAR FROM l.l_shipdate)),
     b AS (SELECT a.brand, a.part,
                  a.unit_cents AS p0, a.qty AS q0,
                  c.unit_cents AS p1, c.qty AS q1
           FROM py a JOIN py c
             ON c.brand = a.brand AND c.part = a.part
           WHERE a.yr = 1995 AND c.yr = 1996)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
       FLOOR(SUM(p1 * q0) * 10000.0 / SUM(p0 * q0)) / 10000.0
         AS laspeyres,
       FLOOR(SUM(p1 * q1) * 10000.0 / SUM(p0 * q1)) / 10000.0
         AS paasche
FROM b GROUP BY brand HAVING COUNT(*) >= 3 ORDER BY brand
""")

# ---------------------------------------------------------------- B566
# Heaps'-law vocabulary growth: cumulative vocabulary vs cumulative
# tokens at 500-token checkpoints over a bounded doc block, plus the
# log-log slope (the β exponent) from the checkpoint pairs.
_q("q524_heaps_law",
   oracle="""
WITH tok AS (SELECT d.doc_id, g.i AS pos, t.tok[g.i] AS w
             FROM (SELECT doc_id, STRING_SPLIT(text,' ') AS tok
                   FROM documents WHERE doc_id < 100) t
             JOIN documents d ON d.doc_id = t.doc_id,
             UNNEST(GENERATE_SERIES(1, LEN(t.tok))) AS g(i)),
     o AS (SELECT w, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS t,
                  ROW_NUMBER() OVER (PARTITION BY w
                                     ORDER BY doc_id, pos) AS occ
           FROM tok),
     c AS (SELECT t,
                  SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                    OVER (ORDER BY t) AS v
           FROM o),
     ck AS (SELECT t, v FROM c WHERE t % 500 = 0),
     f AS (SELECT LN(CAST(t AS DOUBLE)) AS lx,
                  LN(CAST(v AS DOUBLE)) AS ly
           FROM ck),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(lx) AS sx,
                  SUM(ly) AS sy, SUM(lx * ly) AS sxy,
                  SUM(lx * lx) AS sxx
           FROM f)
SELECT CAST(n AS BIGINT) AS checkpoints,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000)
         / 10000.0 AS heaps_beta
FROM m
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, pos, w
             FROM (SELECT doc_id, text FROM documents WHERE doc_id < 100)
             LATERAL VIEW POSEXPLODE(SPLIT(text, ' ')) t AS pos, w),
     o AS (SELECT w, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS t,
                  ROW_NUMBER() OVER (PARTITION BY w
                                     ORDER BY doc_id, pos) AS occ
           FROM tok),
     c AS (SELECT t,
                  SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                    OVER (ORDER BY t) AS v
           FROM o),
     ck AS (SELECT t, v FROM c WHERE t % 500 = 0),
     f AS (SELECT LN(CAST(t AS DOUBLE)) AS lx,
                  LN(CAST(v AS DOUBLE)) AS ly
           FROM ck),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(lx) AS sx,
                  SUM(ly) AS sy, SUM(lx * ly) AS sxy,
                  SUM(lx * lx) AS sxx
           FROM f)
SELECT CAST(n AS BIGINT) AS checkpoints,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000)
         / 10000.0 AS heaps_beta
FROM m
""")

# ---------------------------------------------------------------- B567
# Gibberish screen: longest consonant run per document (keyboard-mash
# heuristic) — regexp run extraction + per-doc max, flag at >7.
_q("q525_gibberish_runs",
   oracle="""
WITH r AS (SELECT doc_id,
                  COALESCE((SELECT MAX(LENGTH(x))
                            FROM UNNEST(REGEXP_EXTRACT_ALL(text,
                              '[bcdfghjklmnpqrstvwxz]+')) AS u(x)), 0)
                    AS max_run
           FROM documents)
SELECT doc_id, CAST(max_run AS BIGINT) AS max_consonant_run,
       CAST(CASE WHEN max_run > 7 THEN 1 ELSE 0 END AS BIGINT)
         AS gibberish_flag
FROM r ORDER BY doc_id
""",
   engine_sql="""
WITH r AS (SELECT doc_id,
                  COALESCE(ARRAY_MAX(TRANSFORM(
                    REGEXP_EXTRACT_ALL(text, '[bcdfghjklmnpqrstvwxz]+', 0),
                    x -> LENGTH(x))), 0) AS max_run
           FROM documents)
SELECT doc_id, CAST(max_run AS BIGINT) AS max_consonant_run,
       CAST(CASE WHEN max_run > 7 THEN 1 ELSE 0 END AS BIGINT)
         AS gibberish_flag
FROM r ORDER BY doc_id
""")

# ---------------------------------------------------------------- B568
# Pairwise-similarity histogram (dedup-threshold tuning view): exact
# token-set Jaccard over a bounded doc block, bucketed to 0.1 bands —
# where on the S-curve the corpus actually lives.
_q("q526_similarity_histogram",
   oracle="""
WITH t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 120),
     p AS (SELECT LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
                  / LEN(LIST_DISTINCT(a.s || b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id),
     h AS (SELECT LEAST(CAST(FLOOR(jac * 10) AS BIGINT), 9) AS bucket
           FROM p)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM h GROUP BY bucket ORDER BY bucket
""",
   engine_sql="""
WITH t AS (SELECT doc_id, ARRAY_DISTINCT(SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 120),
     p AS (SELECT SIZE(ARRAY_INTERSECT(a.s, b.s)) * 1.0
                  / SIZE(ARRAY_UNION(a.s, b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id),
     h AS (SELECT LEAST(CAST(FLOOR(jac * 10) AS BIGINT), 9) AS bucket
           FROM p)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM h GROUP BY bucket ORDER BY bucket
""")

# ---------------------------------------------------------------- B569
# Portable SQL MinHash (8 permutations): md5 token hashes,
# min((h·a+b) mod p) per permutation — the ORACLE-PAIRED tier of the
# operator family (operators/dedup.py uses xxhash64 and is pinned by
# tests; this tier is engine-independent arithmetic end to end).
_q("q527_minhash_portable",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, tok FROM documents,
               UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
             WHERE doc_id < 200),
     h AS (SELECT doc_id,
                  CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) AS hv
           FROM tok)
SELECT doc_id,
       MIN((hv * 1299721 + 15485863) % 2147483647) AS sig1,
       MIN((hv * 1299827 + 32452843) % 2147483647) AS sig2,
       MIN((hv * 1299853 + 49979687) % 2147483647) AS sig3,
       MIN((hv * 1299869 + 67867967) % 2147483647) AS sig4,
       MIN((hv * 1299721 + 86028121) % 2147483647) AS sig5,
       MIN((hv * 1299827 + 104395301) % 2147483647) AS sig6,
       MIN((hv * 1299853 + 122949823) % 2147483647) AS sig7,
       MIN((hv * 1299869 + 141650939) % 2147483647) AS sig8
FROM h GROUP BY doc_id ORDER BY doc_id
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                   FROM documents WHERE doc_id < 200) x),
     h AS (SELECT doc_id,
                  CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) AS BIGINT)
                    AS hv
           FROM tok)
SELECT doc_id,
       MIN((hv * 1299721 + 15485863) % 2147483647) AS sig1,
       MIN((hv * 1299827 + 32452843) % 2147483647) AS sig2,
       MIN((hv * 1299853 + 49979687) % 2147483647) AS sig3,
       MIN((hv * 1299869 + 67867967) % 2147483647) AS sig4,
       MIN((hv * 1299721 + 86028121) % 2147483647) AS sig5,
       MIN((hv * 1299827 + 104395301) % 2147483647) AS sig6,
       MIN((hv * 1299853 + 122949823) % 2147483647) AS sig7,
       MIN((hv * 1299869 + 141650939) % 2147483647) AS sig8
FROM h GROUP BY doc_id ORDER BY doc_id
""")

# ---------------------------------------------------------------- B570
# LSH band-bucket size distribution over the portable signatures
# (4 bands × 2 rows): the banding-skew observability view — how many
# buckets of each size the equi-join would see.
_q("q528_band_buckets",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, tok FROM documents,
               UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
             WHERE doc_id < 200),
     h AS (SELECT doc_id,
                  CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MIN((hv * 1299721 + 15485863) % 2147483647) AS s1,
                    MIN((hv * 1299827 + 32452843) % 2147483647) AS s2,
                    MIN((hv * 1299853 + 49979687) % 2147483647) AS s3,
                    MIN((hv * 1299869 + 67867967) % 2147483647) AS s4,
                    MIN((hv * 1299721 + 86028121) % 2147483647) AS s5,
                    MIN((hv * 1299827 + 104395301) % 2147483647) AS s6,
                    MIN((hv * 1299853 + 122949823) % 2147483647) AS s7,
                    MIN((hv * 1299869 + 141650939) % 2147483647) AS s8
             FROM h GROUP BY doc_id),
     bands AS (SELECT doc_id, 1 AS band,
                      MD5(CAST(s1 AS VARCHAR) || ':'
                          || CAST(s2 AS VARCHAR)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 2 AS band,
                      MD5(CAST(s3 AS VARCHAR) || ':'
                          || CAST(s4 AS VARCHAR)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 3 AS band,
                      MD5(CAST(s5 AS VARCHAR) || ':'
                          || CAST(s6 AS VARCHAR)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 4 AS band,
                      MD5(CAST(s7 AS VARCHAR) || ':'
                          || CAST(s8 AS VARCHAR)) AS bh FROM sig),
     bu AS (SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS sz
            FROM bands GROUP BY band, bh)
SELECT sz AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM bu GROUP BY sz ORDER BY sz
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                   FROM documents WHERE doc_id < 200) x),
     h AS (SELECT doc_id,
                  CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) AS BIGINT)
                    AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MIN((hv * 1299721 + 15485863) % 2147483647) AS s1,
                    MIN((hv * 1299827 + 32452843) % 2147483647) AS s2,
                    MIN((hv * 1299853 + 49979687) % 2147483647) AS s3,
                    MIN((hv * 1299869 + 67867967) % 2147483647) AS s4,
                    MIN((hv * 1299721 + 86028121) % 2147483647) AS s5,
                    MIN((hv * 1299827 + 104395301) % 2147483647) AS s6,
                    MIN((hv * 1299853 + 122949823) % 2147483647) AS s7,
                    MIN((hv * 1299869 + 141650939) % 2147483647) AS s8
             FROM h GROUP BY doc_id),
     bands AS (SELECT doc_id, 1 AS band,
                      MD5(CAST(s1 AS STRING) || ':'
                          || CAST(s2 AS STRING)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 2 AS band,
                      MD5(CAST(s3 AS STRING) || ':'
                          || CAST(s4 AS STRING)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 3 AS band,
                      MD5(CAST(s5 AS STRING) || ':'
                          || CAST(s6 AS STRING)) AS bh FROM sig
               UNION ALL
               SELECT doc_id, 4 AS band,
                      MD5(CAST(s7 AS STRING) || ':'
                          || CAST(s8 AS STRING)) AS bh FROM sig),
     bu AS (SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS sz
            FROM bands GROUP BY band, bh)
SELECT sz AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM bu GROUP BY sz ORDER BY sz
""")

# ---------------------------------------------------------------- B571
# MinHash estimator quality: |signature-agreement/8 − exact Jaccard|
# over a bounded pair block — MAE and worst case of the 8-perm
# estimator, fully oracle-paired (the SQL-portable validation of what
# the operator tests pin with xxhash64).
_q("q529_minhash_estimation_error",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, tok FROM documents,
               UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
             WHERE doc_id < 80),
     h AS (SELECT doc_id,
                  CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MIN((hv * 1299721 + 15485863) % 2147483647) AS s1,
                    MIN((hv * 1299827 + 32452843) % 2147483647) AS s2,
                    MIN((hv * 1299853 + 49979687) % 2147483647) AS s3,
                    MIN((hv * 1299869 + 67867967) % 2147483647) AS s4,
                    MIN((hv * 1299721 + 86028121) % 2147483647) AS s5,
                    MIN((hv * 1299827 + 104395301) % 2147483647) AS s6,
                    MIN((hv * 1299853 + 122949823) % 2147483647) AS s7,
                    MIN((hv * 1299869 + 141650939) % 2147483647) AS s8
             FROM h GROUP BY doc_id),
     t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 80),
     p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                  LEN(LIST_INTERSECT(ta.s, tb.s)) * 1.0
                  / LEN(LIST_DISTINCT(ta.s || tb.s)) AS jac,
                  ((CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s8 = b.s8 THEN 1 ELSE 0 END)) / 8.0
                    AS est
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           JOIN t ta ON ta.doc_id = a.doc_id
           JOIN t tb ON tb.doc_id = b.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(SUM(ABS(est - jac)) / COUNT(*) * 10000) / 10000.0 AS mae,
       FLOOR(MAX(ABS(est - jac)) * 10000) / 10000.0 AS max_err
FROM p
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                   FROM documents WHERE doc_id < 80) x),
     h AS (SELECT doc_id,
                  CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) AS BIGINT)
                    AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MIN((hv * 1299721 + 15485863) % 2147483647) AS s1,
                    MIN((hv * 1299827 + 32452843) % 2147483647) AS s2,
                    MIN((hv * 1299853 + 49979687) % 2147483647) AS s3,
                    MIN((hv * 1299869 + 67867967) % 2147483647) AS s4,
                    MIN((hv * 1299721 + 86028121) % 2147483647) AS s5,
                    MIN((hv * 1299827 + 104395301) % 2147483647) AS s6,
                    MIN((hv * 1299853 + 122949823) % 2147483647) AS s7,
                    MIN((hv * 1299869 + 141650939) % 2147483647) AS s8
             FROM h GROUP BY doc_id),
     t AS (SELECT doc_id, ARRAY_DISTINCT(SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 80),
     p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                  SIZE(ARRAY_INTERSECT(ta.s, tb.s)) * 1.0
                  / SIZE(ARRAY_UNION(ta.s, tb.s)) AS jac,
                  ((CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END)
                   + (CASE WHEN a.s8 = b.s8 THEN 1 ELSE 0 END)) / 8.0
                    AS est
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           JOIN t ta ON ta.doc_id = a.doc_id
           JOIN t tb ON tb.doc_id = b.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(SUM(ABS(est - jac)) / COUNT(*) * 10000) / 10000.0 AS mae,
       FLOOR(MAX(ABS(est - jac)) * 10000) / 10000.0 AS max_err
FROM p
""")


# ---------------------------------------------------------------- B572
# Item-item collaborative filtering (co-purchase cosine, top-3
# neighbors per part): purchase sets over a bounded item block,
# shared-customer candidate join, exact integer co-counts.
_q("q530_item_knn", """
WITH ip AS (SELECT DISTINCT l.l_partkey AS part, o.o_custkey AS cust
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE l.l_partkey <= 300),
     deg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n
             FROM ip GROUP BY part),
     co AS (SELECT a.part AS i, b.part AS j,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM ip a JOIN ip b
              ON b.cust = a.cust AND a.part <> b.part
            GROUP BY a.part, b.part),
     sim AS (SELECT co.i, co.j,
                    co.c / (SQRT(CAST(da.n AS DOUBLE))
                            * SQRT(CAST(db.n AS DOUBLE))) AS s
             FROM co JOIN deg da ON da.part = co.i
                     JOIN deg db ON db.part = co.j),
     r AS (SELECT i, j, s,
                  ROW_NUMBER() OVER (PARTITION BY i
                                     ORDER BY s DESC, j) AS rk
           FROM sim)
SELECT i AS item, CAST(rk AS BIGINT) AS rank, j AS neighbor,
       FLOOR(s * 10000) / 10000.0 AS cosine
FROM r WHERE rk <= 3 ORDER BY item, rank
""")

# ---------------------------------------------------------------- B573
# Churn-feature assembly: the one-pass feature-store row per customer
# — recency, frequency, monetary, mean inter-order gap, and order-
# priority entropy, every float fed exact integers.
_q("q532_churn_features",
   oracle="""
WITH mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
     g AS (SELECT o_custkey,
                  DATEDIFF('day', CAST(o_orderdate AS DATE),
                           LEAD(CAST(o_orderdate AS DATE))
                             OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey))
                    AS gap
           FROM orders),
     gp AS (SELECT o_custkey, SUM(gap) AS sg,
                   COUNT(gap) AS ng
            FROM g GROUP BY o_custkey),
     pe AS (SELECT o_custkey, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY o_custkey, o_orderpriority),
     pt AS (SELECT o_custkey, SUM(c) AS tot FROM pe GROUP BY o_custkey),
     ent AS (SELECT pe.o_custkey,
                    -SUM((pe.c * 1.0 / pt.tot)
                         * LN(pe.c * 1.0 / pt.tot)) AS h
             FROM pe JOIN pt ON pt.o_custkey = pe.o_custkey
             GROUP BY pe.o_custkey),
     base AS (SELECT o.o_custkey,
                     CAST(COUNT(*) AS BIGINT) AS frequency,
                     CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS monetary_cents,
                     MAX(CAST(o.o_orderdate AS DATE)) AS last_d
              FROM orders o GROUP BY o.o_custkey)
SELECT base.o_custkey AS custkey,
       CAST(DATEDIFF('day', base.last_d, mx.d1) AS BIGINT) AS recency_d,
       base.frequency, base.monetary_cents,
       CAST(CASE WHEN gp.ng > 0
                 THEN FLOOR(gp.sg * 100.0 / gp.ng) END AS BIGINT)
         AS mean_gap_centidays,
       FLOOR(ent.h * 10000) / 10000.0 AS priority_entropy
FROM base CROSS JOIN mx
LEFT JOIN gp ON gp.o_custkey = base.o_custkey
JOIN ent ON ent.o_custkey = base.o_custkey
ORDER BY custkey
""",
   engine_sql="""
WITH mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
     g AS (SELECT o_custkey,
                  DATEDIFF(LEAD(CAST(o_orderdate AS DATE))
                             OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey),
                           CAST(o_orderdate AS DATE)) AS gap
           FROM orders),
     gp AS (SELECT o_custkey, SUM(gap) AS sg,
                   COUNT(gap) AS ng
            FROM g GROUP BY o_custkey),
     pe AS (SELECT o_custkey, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY o_custkey, o_orderpriority),
     pt AS (SELECT o_custkey, SUM(c) AS tot FROM pe GROUP BY o_custkey),
     ent AS (SELECT pe.o_custkey,
                    -SUM((pe.c * 1.0 / pt.tot)
                         * LN(pe.c * 1.0 / pt.tot)) AS h
             FROM pe JOIN pt ON pt.o_custkey = pe.o_custkey
             GROUP BY pe.o_custkey),
     base AS (SELECT o.o_custkey,
                     CAST(COUNT(*) AS BIGINT) AS frequency,
                     CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS monetary_cents,
                     MAX(CAST(o.o_orderdate AS DATE)) AS last_d
              FROM orders o GROUP BY o.o_custkey)
SELECT base.o_custkey AS custkey,
       CAST(DATEDIFF(mx.d1, base.last_d) AS BIGINT) AS recency_d,
       base.frequency, base.monetary_cents,
       CAST(CASE WHEN gp.ng > 0
                 THEN FLOOR(gp.sg * 100.0 / gp.ng) END AS BIGINT)
         AS mean_gap_centidays,
       FLOOR(ent.h * 10000) / 10000.0 AS priority_entropy
FROM base CROSS JOIN mx
LEFT JOIN gp ON gp.o_custkey = base.o_custkey
JOIN ent ON ent.o_custkey = base.o_custkey
ORDER BY custkey
""")

# ---------------------------------------------------------------- B574
# Hashed cross features (segment × priority → 32 buckets): bucket
# occupancy and collision count — the feature-hashing trick applied
# to a categorical cross.
_q("q533_feature_crosses",
   oracle="""
WITH x AS (SELECT c.c_mktsegment || 'x' || o.o_orderpriority AS cross_v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     h AS (SELECT cross_v,
                  CAST('0x' || SUBSTR(MD5(cross_v), 1, 8) AS BIGINT) % 32
                    AS b
           FROM x)
SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT cross_v) AS BIGINT) AS n_distinct_crosses
FROM h GROUP BY b ORDER BY bucket
""",
   engine_sql="""
WITH x AS (SELECT c.c_mktsegment || 'x' || o.o_orderpriority AS cross_v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     h AS (SELECT cross_v,
                  CAST(CONV(SUBSTR(MD5(cross_v), 1, 8), 16, 10)
                       AS BIGINT) % 32 AS b
           FROM x)
SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT cross_v) AS BIGINT) AS n_distinct_crosses
FROM h GROUP BY b ORDER BY bucket
""")

# ---------------------------------------------------------------- B575
# Phrase mining by NPMI (normalized PMI, support ≥ 3): adjacent
# bigrams scored ln(p(xy)/p(x)p(y)) / −ln p(xy) — the [-1, 1]
# collocation measure that PMI alone distorts for rare pairs.
_q("q534_npmi_phrases",
   oracle="""
WITH tok AS (SELECT d.doc_id, g.i AS pos, t.tok[g.i] AS w
             FROM (SELECT doc_id, STRING_SPLIT(text,' ') AS tok
                   FROM documents) t
             JOIN documents d ON d.doc_id = t.doc_id,
             UNNEST(GENERATE_SERIES(1, LEN(t.tok))) AS g(i)),
     bg AS (SELECT w AS w1,
                   LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM tok),
     bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nxy
            FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2),
     uc AS (SELECT w1 AS w, SUM(nxy) AS nx FROM bc GROUP BY w1),
     vc AS (SELECT w2 AS w, SUM(nxy) AS ny FROM bc GROUP BY w2),
     nt AS (SELECT SUM(nxy) AS n FROM bc),
     s AS (SELECT bc.w1, bc.w2, bc.nxy,
                  LN(CAST(bc.nxy AS DOUBLE) * nt.n / (uc.nx * vc.ny))
                  / (-LN(CAST(bc.nxy AS DOUBLE) / nt.n)) AS npmi
           FROM bc JOIN uc ON uc.w = bc.w1
                   JOIN vc ON vc.w = bc.w2
                   CROSS JOIN nt
           WHERE bc.nxy >= 3)
SELECT w1, w2, nxy, FLOOR(npmi * 10000) / 10000.0 AS npmi
FROM s ORDER BY npmi DESC, w1, w2 LIMIT 15
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, pos, w
             FROM documents
             LATERAL VIEW POSEXPLODE(SPLIT(text, ' ')) t AS pos, w),
     bg AS (SELECT w AS w1,
                   LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM tok),
     bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nxy
            FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2),
     uc AS (SELECT w1 AS w, SUM(nxy) AS nx FROM bc GROUP BY w1),
     vc AS (SELECT w2 AS w, SUM(nxy) AS ny FROM bc GROUP BY w2),
     nt AS (SELECT SUM(nxy) AS n FROM bc),
     s AS (SELECT bc.w1, bc.w2, bc.nxy,
                  LN(CAST(bc.nxy AS DOUBLE) * nt.n / (uc.nx * vc.ny))
                  / (-LN(CAST(bc.nxy AS DOUBLE) / nt.n)) AS npmi
           FROM bc JOIN uc ON uc.w = bc.w1
                   JOIN vc ON vc.w = bc.w2
                   CROSS JOIN nt
           WHERE bc.nxy >= 3)
SELECT w1, w2, nxy, FLOOR(npmi * 10000) / 10000.0 AS npmi
FROM s ORDER BY npmi DESC, w1, w2 LIMIT 15
""")

# ---------------------------------------------------------------- B576
# Multi-horizon conversion (signup → purchase within 1 / 3 / 7 days):
# first-touch pairing per user, horizon indicator rollup — the cohort
# conversion curve in one pass.
_q("q535_conversion_horizons",
   oracle="""
WITH su AS (SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
     pu AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'purchase' GROUP BY user_id),
     j AS (SELECT su.user_id,
                  (EPOCH(pu.t1) - EPOCH(su.t0)) / 86400.0 AS days
           FROM su LEFT JOIN pu ON pu.user_id = su.user_id
                               AND pu.t1 >= su.t0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(CASE WHEN days <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_1d,
       CAST(SUM(CASE WHEN days <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_3d,
       CAST(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_7d,
       FLOOR(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END) * 1000000.0
             / COUNT(*)) / 1000000.0 AS rate_7d
FROM j
""",
   engine_sql="""
WITH su AS (SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
     pu AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'purchase' GROUP BY user_id),
     j AS (SELECT su.user_id,
                  (UNIX_MICROS(CAST(pu.t1 AS TIMESTAMP))
                   - UNIX_MICROS(CAST(su.t0 AS TIMESTAMP)))
                  / 86400000000.0 AS days
           FROM su LEFT JOIN pu ON pu.user_id = su.user_id
                               AND pu.t1 >= su.t0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(CASE WHEN days <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_1d,
       CAST(SUM(CASE WHEN days <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_3d,
       CAST(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS conv_7d,
       FLOOR(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END) * 1000000.0
             / COUNT(*)) / 1000000.0 AS rate_7d
FROM j
""")

# ---------------------------------------------------------------- B577
# M/M/1 queueing estimate from event telemetry: arrival rate from
# purchase interarrivals, service rate from the value field, ρ and Lq
# by the closed form — the capacity-planning back-of-envelope, exactly.
_q("q536_mm1_queue",
   oracle="""
WITH a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  (EPOCH(MAX(ts)) - EPOCH(MIN(ts))) / 3600.0 AS span_h
           FROM events WHERE event_type = 'purchase'),
     s AS (SELECT SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sv,
                  CAST(COUNT(*) AS BIGINT) AS ns
           FROM events WHERE event_type = 'purchase'),
     r AS (SELECT (a.n - 1) / a.span_h AS lam,
                  3600.0 / (s.sv / (100.0 * s.ns)) AS mu
           FROM a CROSS JOIN s)
SELECT FLOOR(lam * 10000) / 10000.0 AS lambda_per_h,
       FLOOR(mu * 10000) / 10000.0 AS mu_per_h,
       FLOOR(lam / mu * 10000) / 10000.0 AS rho,
       CASE WHEN lam / mu < 1
            THEN FLOOR((lam / mu) * (lam / mu) / (1 - lam / mu) * 10000)
                 / 10000.0 END AS lq
FROM r
""",
   engine_sql="""
WITH a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  (UNIX_MICROS(CAST(MAX(ts) AS TIMESTAMP))
                   - UNIX_MICROS(CAST(MIN(ts) AS TIMESTAMP)))
                  / 3600000000.0 AS span_h
           FROM events WHERE event_type = 'purchase'),
     s AS (SELECT SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sv,
                  CAST(COUNT(*) AS BIGINT) AS ns
           FROM events WHERE event_type = 'purchase'),
     r AS (SELECT (a.n - 1) / a.span_h AS lam,
                  3600.0 / (s.sv / (100.0 * s.ns)) AS mu
           FROM a CROSS JOIN s)
SELECT FLOOR(lam * 10000) / 10000.0 AS lambda_per_h,
       FLOOR(mu * 10000) / 10000.0 AS mu_per_h,
       FLOOR(lam / mu * 10000) / 10000.0 AS rho,
       CASE WHEN lam / mu < 1
            THEN FLOOR((lam / mu) * (lam / mu) / (1 - lam / mu) * 10000)
                 / 10000.0 END AS lq
FROM r
""")

# ---------------------------------------------------------------- B578
# Stylometry fingerprint + attribution: 4 style features per source
# quantized to exact micro-ints, nearest other source by integer L2 —
# the authorship-attribution shape.
_q("q537_stylometry",
   oracle="""
WITH tok AS (SELECT d.source, tok FROM documents d,
               UNNEST(STRING_SPLIT(d.text, ' ')) AS u(tok)),
     f AS (SELECT source,
                  CAST(FLOOR(SUM(LENGTH(tok)) * 1000000.0 / COUNT(*))
                       AS BIGINT) AS awl,
                  CAST(FLOOR(COUNT(DISTINCT tok) * 1000000.0 / COUNT(*))
                       AS BIGINT) AS ttr,
                  CAST(FLOOR(SUM(CASE WHEN tok IN ('a', 'the')
                                 THEN 1 ELSE 0 END) * 1000000.0
                             / COUNT(*)) AS BIGINT) AS swr
           FROM tok GROUP BY source),
     p AS (SELECT a.source AS s, b.source AS o,
                  (a.awl - b.awl) * (a.awl - b.awl)
                  + (a.ttr - b.ttr) * (a.ttr - b.ttr)
                  + (a.swr - b.swr) * (a.swr - b.swr) AS d2,
                  ROW_NUMBER() OVER (PARTITION BY a.source
                    ORDER BY (a.awl - b.awl) * (a.awl - b.awl)
                             + (a.ttr - b.ttr) * (a.ttr - b.ttr)
                             + (a.swr - b.swr) * (a.swr - b.swr),
                             b.source) AS rk
           FROM f a JOIN f b ON a.source <> b.source)
SELECT s AS source, o AS nearest_style,
       CAST(d2 AS BIGINT) AS dist_sq_micro
FROM p WHERE rk = 1 ORDER BY source
""",
   engine_sql="""
WITH tok AS (SELECT source, tok
             FROM (SELECT source, EXPLODE(SPLIT(text, ' ')) AS tok
                   FROM documents) x),
     f AS (SELECT source,
                  CAST(FLOOR(SUM(LENGTH(tok)) * 1000000.0 / COUNT(*))
                       AS BIGINT) AS awl,
                  CAST(FLOOR(COUNT(DISTINCT tok) * 1000000.0 / COUNT(*))
                       AS BIGINT) AS ttr,
                  CAST(FLOOR(SUM(CASE WHEN tok IN ('a', 'the')
                                 THEN 1 ELSE 0 END) * 1000000.0
                             / COUNT(*)) AS BIGINT) AS swr
           FROM tok GROUP BY source),
     p AS (SELECT a.source AS s, b.source AS o,
                  (a.awl - b.awl) * (a.awl - b.awl)
                  + (a.ttr - b.ttr) * (a.ttr - b.ttr)
                  + (a.swr - b.swr) * (a.swr - b.swr) AS d2,
                  ROW_NUMBER() OVER (PARTITION BY a.source
                    ORDER BY (a.awl - b.awl) * (a.awl - b.awl)
                             + (a.ttr - b.ttr) * (a.ttr - b.ttr)
                             + (a.swr - b.swr) * (a.swr - b.swr),
                             b.source) AS rk
           FROM f a JOIN f b ON a.source <> b.source)
SELECT s AS source, o AS nearest_style,
       CAST(d2 AS BIGINT) AS dist_sq_micro
FROM p WHERE rk = 1 ORDER BY source
""")

# ---------------------------------------------------------------- B579
# Entropy rate of the event Markov chain: Σ πᵢ·H(next|i) with the
# empirical state distribution as π — the single-number sequence-
# predictability summary over q200/q406's transition machinery.
_q("q538_entropy_rate", """
WITH s AS (SELECT user_id, event_type AS cur, ts, event_id,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
           FROM events),
     t AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
           FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
     ct AS (SELECT cur, SUM(c) AS tot FROM t GROUP BY cur),
     h AS (SELECT t.cur,
                  -SUM((t.c * 1.0 / ct.tot)
                       * LN(t.c * 1.0 / ct.tot)) AS hc,
                  MAX(ct.tot) AS tot
           FROM t JOIN ct ON ct.cur = t.cur GROUP BY t.cur),
     n AS (SELECT SUM(tot) AS nt FROM h)
SELECT FLOOR(SUM(h.hc * h.tot / n.nt) * 10000) / 10000.0
         AS entropy_rate_nats,
       CAST(COUNT(*) AS BIGINT) AS n_states
FROM h CROSS JOIN n
""")

# ---------------------------------------------------------------- B580
# LZ-style complexity proxy: distinct-4-gram ratio per document (low
# ratio = templated/repetitive, the compression-based quality signal
# without a compressor).
_q("q539_lz_complexity",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS tok FROM documents),
     g AS (SELECT doc_id,
                  ARRAY_TO_STRING(tok[i : i + 3], ' ') AS gram
           FROM t, UNNEST(GENERATE_SERIES(1, LEN(tok) - 3)) AS u(i)),
     s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT gram) AS BIGINT) AS d
           FROM g GROUP BY doc_id)
SELECT doc_id, n AS n_4grams, d AS distinct_4grams,
       FLOOR(d * 1000000.0 / n) / 1000000.0 AS complexity_ratio
FROM s ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text,' ') AS tok FROM documents),
     g AS (SELECT doc_id,
                  ARRAY_JOIN(SLICE(tok, i, 4), ' ') AS gram
           -- total (IF, not WHERE): the descending SEQUENCE would
           -- feed SLICE(tok, i<=0, ·), which throws (see q143)
           FROM t LATERAL VIEW EXPLODE(
                  IF(SIZE(tok) >= 4, SEQUENCE(1, SIZE(tok) - 3),
                     ARRAY())) u AS i),
     s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT gram) AS BIGINT) AS d
           FROM g GROUP BY doc_id)
SELECT doc_id, n AS n_4grams, d AS distinct_4grams,
       FLOOR(d * 1000000.0 / n) / 1000000.0 AS complexity_ratio
FROM s ORDER BY doc_id
""")

# ---------------------------------------------------------------- B581
# Curation impact report: corpus stats before vs after the quality
# gates + template dedup (keep-first within a 2-token-prefix family)
# — the one-view summary of what a pipeline run did.
_q("q540_curation_impact",
   oracle="""
WITH sw AS (SELECT doc_id,
                   AVG(CASE WHEN tok IN ('a','the') THEN 1.0 ELSE 0 END)
                     AS swr,
                   COUNT(*) AS n_tok
            FROM documents, UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            GROUP BY doc_id),
     pre AS (SELECT doc_id,
                    ARRAY_TO_STRING(STRING_SPLIT(text,' ')[1:2],' ')
                      AS pfx
             FROM documents),
     keep AS (SELECT d.doc_id, sw.n_tok,
                     CASE WHEN d.n_chars BETWEEN 60 AND 500
                           AND sw.swr < 0.15
                           AND d.doc_id = fam.first_doc
                          THEN 1 ELSE 0 END AS kept
              FROM documents d
              JOIN sw ON sw.doc_id = d.doc_id
              JOIN pre ON pre.doc_id = d.doc_id
              JOIN (SELECT pfx, MIN(doc_id) AS first_doc
                    FROM pre GROUP BY pfx) fam ON fam.pfx = pre.pfx)
SELECT 'docs' AS metric,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep) AS before_v,
       CAST(SUM(kept) AS BIGINT) AS after_v
FROM keep
UNION ALL
SELECT 'tokens' AS metric,
       CAST(SUM(n_tok) AS BIGINT) AS before_v,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS after_v
FROM keep
ORDER BY metric
""",
   engine_sql="""
WITH sw AS (SELECT doc_id,
                   AVG(CASE WHEN tok IN ('a','the') THEN 1.0 ELSE 0 END)
                     AS swr,
                   COUNT(*) AS n_tok
            FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM documents) x
            GROUP BY doc_id),
     pre AS (SELECT doc_id,
                    ARRAY_JOIN(SLICE(SPLIT(text,' '), 1, 2),' ') AS pfx
             FROM documents),
     keep AS (SELECT d.doc_id, sw.n_tok,
                     CASE WHEN d.n_chars BETWEEN 60 AND 500
                           AND sw.swr < 0.15
                           AND d.doc_id = fam.first_doc
                          THEN 1 ELSE 0 END AS kept
              FROM documents d
              JOIN sw ON sw.doc_id = d.doc_id
              JOIN pre ON pre.doc_id = d.doc_id
              JOIN (SELECT pfx, MIN(doc_id) AS first_doc
                    FROM pre GROUP BY pfx) fam ON fam.pfx = pre.pfx)
SELECT 'docs' AS metric,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep) AS before_v,
       CAST(SUM(kept) AS BIGINT) AS after_v
FROM keep
UNION ALL
SELECT 'tokens' AS metric,
       CAST(SUM(n_tok) AS BIGINT) AS before_v,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS after_v
FROM keep
ORDER BY metric
""")


# ---------------------------------------------------------------- B582
# Recommendation-list quality metrics over the q465 batch-ANN top-3
# lists: catalog coverage (share of the corpus ever recommended) and
# mean inter-list overlap (redundancy across queries) — the recsys
# health panel.
_q("q531_rec_list_metrics",
   oracle="""
WITH v AS (SELECT vec_id, g.i AS i,
                  CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000)
                       AS BIGINT) AS q
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
           WHERE vec_id < 500),
     n AS (SELECT vec_id, SUM(q * q) AS n2 FROM v GROUP BY vec_id
            HAVING SUM(q * q) > 0),
     d AS (SELECT a.vec_id AS qi, b.vec_id AS ni, SUM(a.q * b.q) AS dot
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
           WHERE a.vec_id IN (0, 1, 2, 3, 4)
           GROUP BY a.vec_id, b.vec_id),
     s AS (SELECT d.qi, d.ni,
                  ROW_NUMBER() OVER (PARTITION BY d.qi
                    ORDER BY d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                             * SQRT(CAST(nb.n2 AS DOUBLE))) DESC, d.ni)
                    AS rk
           FROM d JOIN n na ON na.vec_id = d.qi
                  JOIN n nb ON nb.vec_id = d.ni),
     top AS (SELECT qi, ni FROM s WHERE rk <= 3),
     cov AS (SELECT CAST(COUNT(DISTINCT ni) AS BIGINT) AS n_rec FROM top),
     ov AS (SELECT a.qi AS q1, b.qi AS q2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM top a JOIN top b ON b.ni = a.ni AND a.qi < b.qi
            GROUP BY a.qi, b.qi)
SELECT cov.n_rec AS distinct_recommended,
       FLOOR(cov.n_rec * 1000000.0 / 499) / 1000000.0
         AS catalog_coverage,
       CAST(COALESCE((SELECT SUM(shared) FROM ov), 0) AS BIGINT)
         AS total_shared,
       FLOOR(COALESCE((SELECT SUM(shared) FROM ov), 0)
             * 1000000.0 / (10 * 3)) / 1000000.0 AS mean_overlap
FROM cov
""",
   engine_sql="""
WITH v AS (SELECT vec_id, pos AS i,
                  CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val
           WHERE vec_id < 500),
     n AS (SELECT vec_id, SUM(q * q) AS n2 FROM v GROUP BY vec_id
            HAVING SUM(q * q) > 0),
     d AS (SELECT a.vec_id AS qi, b.vec_id AS ni, SUM(a.q * b.q) AS dot
           FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
           WHERE a.vec_id IN (0, 1, 2, 3, 4)
           GROUP BY a.vec_id, b.vec_id),
     s AS (SELECT d.qi, d.ni,
                  ROW_NUMBER() OVER (PARTITION BY d.qi
                    ORDER BY d.dot / (SQRT(CAST(na.n2 AS DOUBLE))
                             * SQRT(CAST(nb.n2 AS DOUBLE))) DESC, d.ni)
                    AS rk
           FROM d JOIN n na ON na.vec_id = d.qi
                  JOIN n nb ON nb.vec_id = d.ni),
     top AS (SELECT qi, ni FROM s WHERE rk <= 3),
     cov AS (SELECT CAST(COUNT(DISTINCT ni) AS BIGINT) AS n_rec FROM top),
     ov AS (SELECT a.qi AS q1, b.qi AS q2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM top a JOIN top b ON b.ni = a.ni AND a.qi < b.qi
            GROUP BY a.qi, b.qi)
SELECT cov.n_rec AS distinct_recommended,
       FLOOR(cov.n_rec * 1000000.0 / 499) / 1000000.0
         AS catalog_coverage,
       CAST(COALESCE((SELECT SUM(shared) FROM ov), 0) AS BIGINT)
         AS total_shared,
       FLOOR(COALESCE((SELECT SUM(shared) FROM ov), 0)
             * 1000000.0 / (10 * 3)) / 1000000.0 AS mean_overlap
FROM cov
""")


# ---------------------------------------------------------------- B583
# k-NN regression smoother: predict each customer's balance from its
# 5 nearest neighbors in the hash-plane (grid-free bounded block) —
# integer squared distances, exact neighbor-mean cents.
_q("q541_knn_regression", """
WITH p AS (SELECT c_custkey AS id,
                  c_custkey * 7919 % 1000 AS x,
                  c_custkey * 104729 % 1000 AS y,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer WHERE c_custkey <= 400),
     d AS (SELECT a.id, a.cents, b.cents AS bc,
                  ROW_NUMBER() OVER (PARTITION BY a.id
                    ORDER BY (a.x - b.x) * (a.x - b.x)
                             + (a.y - b.y) * (a.y - b.y), b.id) AS rk
           FROM p a JOIN p b ON a.id <> b.id)
SELECT id, CAST(cents AS BIGINT) AS actual_cents,
       CAST(FLOOR(SUM(bc) * 1.0 / COUNT(*)) AS BIGINT) AS knn_pred_cents
FROM d WHERE rk <= 5 GROUP BY id, cents ORDER BY id
""")

# ---------------------------------------------------------------- B584
# LOF-lite local outlier factor: each point's mean 3-NN distance over
# the mean of its neighbors' mean 3-NN distances (>1.5 flags) — the
# density-ratio outlier detector, bounded block, integer distances.
_q("q542_lof_lite", """
WITH p AS (SELECT c_custkey AS id,
                  c_custkey * 7919 % 1000 AS x,
                  c_custkey * 104729 % 1000 AS y
           FROM customer WHERE c_custkey <= 300),
     nn AS (SELECT a.id, b.id AS nb,
                   SQRT(CAST((a.x - b.x) * (a.x - b.x)
                             + (a.y - b.y) * (a.y - b.y) AS DOUBLE))
                     AS dist,
                   ROW_NUMBER() OVER (PARTITION BY a.id
                     ORDER BY (a.x - b.x) * (a.x - b.x)
                              + (a.y - b.y) * (a.y - b.y), b.id) AS rk
            FROM p a JOIN p b ON a.id <> b.id),
     kd AS (SELECT id, SUM(dist) / 3.0 AS mean_d,
                   MAX(CASE WHEN rk = 1 THEN nb END) AS n1,
                   MAX(CASE WHEN rk = 2 THEN nb END) AS n2,
                   MAX(CASE WHEN rk = 3 THEN nb END) AS n3
            FROM nn WHERE rk <= 3 GROUP BY id),
     lof AS (SELECT a.id, a.mean_d,
                    (b1.mean_d + b2.mean_d + b3.mean_d) / 3.0 AS nb_d
             FROM kd a JOIN kd b1 ON b1.id = a.n1
                       JOIN kd b2 ON b2.id = a.n2
                       JOIN kd b3 ON b3.id = a.n3)
SELECT id, FLOOR(mean_d * 100) / 100.0 AS knn_dist,
       FLOOR(mean_d / nb_d * 10000) / 10000.0 AS lof,
       CAST(CASE WHEN mean_d / nb_d > 1.5 THEN 1 ELSE 0 END AS BIGINT)
         AS outlier_flag
FROM lof ORDER BY id
""")

# ---------------------------------------------------------------- B585
# DBSCAN point classification (eps=40, minPts=4): neighbor counts via
# a 3×3 GRID-BLOCKED join (the scale-correct prefilter — candidates
# come from adjacent cells only, never all pairs), then core / border
# / noise labels.
_q("q543_dbscan_classify", """
WITH p AS (SELECT c_custkey AS id,
                  c_custkey * 7919 % 1000 AS x,
                  c_custkey * 104729 % 1000 AS y
           FROM customer WHERE c_custkey <= 600),
     g AS (SELECT id, x, y,
                  CAST(FLOOR(x / 40.0) AS BIGINT) AS gx,
                  CAST(FLOOR(y / 40.0) AS BIGINT) AS gy
           FROM p),
     nb AS (SELECT a.id,
                   CAST(COUNT(*) AS BIGINT) AS n_eps
            FROM g a JOIN g b
              ON b.id <> a.id
             AND b.gx BETWEEN a.gx - 1 AND a.gx + 1
             AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
             AND (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y) <= 1600
            GROUP BY a.id),
     core AS (SELECT id FROM nb WHERE n_eps >= 4),
     lab AS (SELECT g.id,
                    CASE WHEN core.id IS NOT NULL THEN 'core'
                         WHEN EXISTS (
                           SELECT 1 FROM g b JOIN core c ON c.id = b.id
                           WHERE b.gx BETWEEN g.gx - 1 AND g.gx + 1
                             AND b.gy BETWEEN g.gy - 1 AND g.gy + 1
                             AND (g.x - b.x) * (g.x - b.x)
                                 + (g.y - b.y) * (g.y - b.y) <= 1600)
                         THEN 'border' ELSE 'noise' END AS label
             FROM g LEFT JOIN core ON core.id = g.id)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points
FROM lab GROUP BY label ORDER BY label
""")

# ---------------------------------------------------------------- B586
# Grid-blocked kNN JOIN: every point's 3 nearest neighbors, candidate
# pairs restricted to the surrounding 5×5 cells (the spatial-join
# shape that replaces the all-pairs cross at scale).
_q("q544_grid_knn_join", """
WITH p AS (SELECT c_custkey AS id,
                  c_custkey * 7919 % 1000 AS x,
                  c_custkey * 104729 % 1000 AS y
           FROM customer WHERE c_custkey <= 500),
     g AS (SELECT id, x, y,
                  CAST(FLOOR(x / 100.0) AS BIGINT) AS gx,
                  CAST(FLOOR(y / 100.0) AS BIGINT) AS gy
           FROM p),
     cand AS (SELECT a.id, b.id AS nb,
                     (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS d2
              FROM g a JOIN g b
                ON b.id <> a.id
               AND b.gx BETWEEN a.gx - 2 AND a.gx + 2
               AND b.gy BETWEEN a.gy - 2 AND a.gy + 2),
     r AS (SELECT id, nb, d2,
                  ROW_NUMBER() OVER (PARTITION BY id
                                     ORDER BY d2, nb) AS rk,
                  CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS nc
           FROM cand)
SELECT id, CAST(rk AS BIGINT) AS rank, nb AS neighbor,
       CAST(d2 AS BIGINT) AS dist_sq
FROM r WHERE rk <= 3 AND nc >= 3 ORDER BY id, rank
""")

# ---------------------------------------------------------------- B587
# Signature-identical clusters: docs whose FULL 8-perm portable
# MinHash signatures coincide form equivalence classes (no iteration
# needed — exact tuple equality IS transitive), with member stats.
_q("q545_sig_identical_clusters",
   oracle="""
WITH tok AS (SELECT DISTINCT doc_id, tok FROM documents,
               UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)),
     h AS (SELECT doc_id,
                  CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MD5(CAST(MIN((hv * 1299721 + 15485863) % 2147483647)
                             AS VARCHAR) || ':' ||
                        CAST(MIN((hv * 1299827 + 32452843) % 2147483647)
                             AS VARCHAR) || ':' ||
                        CAST(MIN((hv * 1299853 + 49979687) % 2147483647)
                             AS VARCHAR) || ':' ||
                        CAST(MIN((hv * 1299869 + 67867967) % 2147483647)
                             AS VARCHAR)) AS sg
             FROM h GROUP BY doc_id)
SELECT sg AS cluster_sig, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS representative
FROM sig GROUP BY sg HAVING COUNT(*) >= 2 ORDER BY cluster_sig
""",
   engine_sql="""
WITH tok AS (SELECT DISTINCT doc_id, tok
             FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                   FROM documents) x),
     h AS (SELECT doc_id,
                  CAST(CONV(SUBSTR(MD5(tok), 1, 8), 16, 10) AS BIGINT)
                    AS hv
           FROM tok),
     sig AS (SELECT doc_id,
                    MD5(CAST(MIN((hv * 1299721 + 15485863) % 2147483647)
                             AS STRING) || ':' ||
                        CAST(MIN((hv * 1299827 + 32452843) % 2147483647)
                             AS STRING) || ':' ||
                        CAST(MIN((hv * 1299853 + 49979687) % 2147483647)
                             AS STRING) || ':' ||
                        CAST(MIN((hv * 1299869 + 67867967) % 2147483647)
                             AS STRING)) AS sg
             FROM h GROUP BY doc_id)
SELECT sg AS cluster_sig, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS representative
FROM sig GROUP BY sg HAVING COUNT(*) >= 2 ORDER BY cluster_sig
""")

# ---------------------------------------------------------------- B588
# Simpson's-paradox detector: per-segment price↔quantity correlation
# sign vs the pooled sign — segments whose within-group slope
# CONTRADICTS the aggregate, from exact integer moments.
_q("q546_simpsons_paradox", """
WITH v AS (SELECT c.c_mktsegment AS seg,
                  CAST(ROUND(l.l_quantity) AS BIGINT) AS x,
                  CAST(FLOOR(CAST(ROUND(l.l_extendedprice * 100)
                                  AS BIGINT) / 100) AS BIGINT) AS y
           FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy
           FROM v GROUP BY seg),
     t AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
                  SUM(sxy) AS sxy
           FROM g)
SELECT g.seg,
       CAST(SIGN(CAST(g.n AS DOUBLE) * g.sxy
                 - CAST(g.sx AS DOUBLE) * g.sy) AS BIGINT) AS seg_sign,
       CAST(SIGN(CAST(t.n AS DOUBLE) * t.sxy
                 - CAST(t.sx AS DOUBLE) * t.sy) AS BIGINT)
         AS pooled_sign,
       CAST(CASE WHEN SIGN(CAST(g.n AS DOUBLE) * g.sxy
                           - CAST(g.sx AS DOUBLE) * g.sy)
                      <> SIGN(CAST(t.n AS DOUBLE) * t.sxy
                              - CAST(t.sx AS DOUBLE) * t.sy)
                 THEN 1 ELSE 0 END AS BIGINT) AS paradox_flag
FROM g CROSS JOIN t ORDER BY g.seg
""")

# ---------------------------------------------------------------- B589
# Rolling-origin backtest (3 folds × 7 days): seasonal-naive MAE per
# fold — does forecast skill hold across origins, exact k$ errors.
_q("q547_rolling_backtest", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     mx AS (SELECT MAX(day) AS d1 FROM d),
     s AS (SELECT d.day, d.k,
                  LAG(d.k, 7) OVER (ORDER BY d.day) AS f,
                  CASE WHEN d.day > mx.d1 - INTERVAL 7 DAY THEN 3
                       WHEN d.day > mx.d1 - INTERVAL 14 DAY THEN 2
                       WHEN d.day > mx.d1 - INTERVAL 21 DAY THEN 1
                       ELSE 0 END AS fold
           FROM d CROSS JOIN mx)
SELECT CAST(fold AS BIGINT) AS fold, CAST(COUNT(*) AS BIGINT) AS n_days,
       FLOOR(SUM(ABS(k - f)) * 100.0 / COUNT(*)) / 100.0 AS mae_k
FROM s WHERE fold > 0 AND f IS NOT NULL
GROUP BY fold ORDER BY fold
""")

# ---------------------------------------------------------------- B590
# Hierarchical-fallback estimate: customers with <3 orders take their
# SEGMENT's mean order value, others their own (the cold-start
# smoothing ladder), with provenance flags — exact cent means.
_q("q548_hierarchical_fallback", """
WITH cu AS (SELECT o.o_custkey, c.c_mktsegment AS seg,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS s
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY o.o_custkey, c.c_mktsegment),
     sg AS (SELECT seg, SUM(s) AS ss, SUM(n) AS sn FROM cu GROUP BY seg)
SELECT cu.o_custkey AS custkey, cu.n AS n_orders,
       CAST(CASE WHEN cu.n >= 3
                 THEN FLOOR(cu.s * 1.0 / cu.n)
                 ELSE FLOOR(sg.ss * 1.0 / sg.sn) END AS BIGINT)
         AS est_order_cents,
       CASE WHEN cu.n >= 3 THEN 'own' ELSE 'segment' END AS source
FROM cu JOIN sg ON sg.seg = cu.seg ORDER BY custkey
""")

# ---------------------------------------------------------------- B591
# Metric drill-down contribution: which segment DROVE the 1995→1996
# revenue change — per-segment deltas as exact shares of the total
# delta (the dashboard "why did the number move" table).
_q("q549_drilldown_contribution", """
WITH y AS (SELECT c.c_mktsegment AS seg,
                  EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE EXTRACT(YEAR FROM o.o_orderdate) IN (1995, 1996)
           GROUP BY c.c_mktsegment, EXTRACT(YEAR FROM o.o_orderdate)),
     p AS (SELECT a.seg, b.rc - a.rc AS delta
           FROM y a JOIN y b ON b.seg = a.seg
           WHERE a.yr = 1995 AND b.yr = 1996),
     t AS (SELECT SUM(delta) AS total_delta FROM p)
SELECT p.seg, CAST(p.delta AS BIGINT) AS delta_cents,
       FLOOR(p.delta * 1000000.0 / t.total_delta) / 1000000.0
         AS share_of_change
FROM p CROSS JOIN t ORDER BY p.seg
""")

# ---------------------------------------------------------------- B592
# Composite health score per nation: z-scores of three KPIs (customer
# balance, supplier balance, order volume) from exact integer moments,
# weighted 50/25/25 into one ranked league table.
_q("q550_health_score", """
WITH k1 AS (SELECT c_nationkey AS nk,
                   SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS v
            FROM customer GROUP BY c_nationkey),
     k2 AS (SELECT s_nationkey AS nk,
                   SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS v
            FROM supplier GROUP BY s_nationkey),
     k3 AS (SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS v
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_nationkey),
     base AS (SELECT n.n_nationkey AS nk, n.n_name,
                     COALESCE(k1.v, 0) AS v1, COALESCE(k2.v, 0) AS v2,
                     COALESCE(k3.v, 0) AS v3
              FROM nation n
              LEFT JOIN k1 ON k1.nk = n.n_nationkey
              LEFT JOIN k2 ON k2.nk = n.n_nationkey
              LEFT JOIN k3 ON k3.nk = n.n_nationkey),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  -- squares as DOUBLE: v1 is a per-nation cents sum
                  -- (~2.7e9 at sf1), v1*v1 ~ 7e18 and the BIGINT sum
                  -- of 25 of them overflows (found by the sf1 sweep)
                  SUM(v1) AS s1, SUM(CAST(v1 AS DOUBLE) * v1) AS q1,
                  SUM(v2) AS s2, SUM(CAST(v2 AS DOUBLE) * v2) AS q2,
                  SUM(v3) AS s3, SUM(CAST(v3 AS DOUBLE) * v3) AS q3
           FROM base),
     z AS (SELECT base.nk, base.n_name,
                  (base.v1 - CAST(m.s1 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q1 AS DOUBLE)
                          - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                         / (m.n - 1)) AS z1,
                  (base.v2 - CAST(m.s2 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q2 AS DOUBLE)
                          - CAST(m.s2 AS DOUBLE) * m.s2 / m.n)
                         / (m.n - 1)) AS z2,
                  (base.v3 - CAST(m.s3 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q3 AS DOUBLE)
                          - CAST(m.s3 AS DOUBLE) * m.s3 / m.n)
                         / (m.n - 1)) AS z3
           FROM base CROSS JOIN m)
SELECT n_name,
       FLOOR((0.5 * z1 + 0.25 * z2 + 0.25 * z3) * 10000 + 1e-6) / 10000.0
         AS health_score
FROM z ORDER BY health_score DESC, n_name
""")


# ---------------------------------------------------------------- B593
# Positional-bias profile: tokens whose mean normalized position
# deviates most from 0.5 (front-loaded boilerplate vs trailing
# signatures) — positional explode + per-token position moments.
_q("q551_positional_bias",
   oracle="""
WITH tok AS (SELECT d.doc_id, g.i AS pos, LEN(t.tok) AS n,
                    t.tok[g.i] AS w
             FROM (SELECT doc_id, STRING_SPLIT(text,' ') AS tok
                   FROM documents) t
             JOIN documents d ON d.doc_id = t.doc_id,
             UNNEST(GENERATE_SERIES(1, LEN(t.tok))) AS g(i)),
     s AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
                  SUM(CAST(pos - 1 AS DOUBLE) / (n - 1)) AS sp
           FROM tok WHERE n > 1 GROUP BY w HAVING COUNT(*) >= 50)
SELECT w AS token, c AS occurrences,
       FLOOR(sp * 10000.0 / c) / 10000.0 AS mean_rel_pos,
       FLOOR(ABS(sp / c - 0.5) * 10000) / 10000.0 AS position_skew
FROM s ORDER BY ABS(sp / c - 0.5) DESC, w LIMIT 10
""",
   engine_sql="""
WITH tok AS (SELECT doc_id, pos + 1 AS pos,
                    SIZE(SPLIT(text, ' ')) AS n, w
             FROM documents
             LATERAL VIEW POSEXPLODE(SPLIT(text, ' ')) t AS pos, w),
     s AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
                  SUM(CAST(pos - 1 AS DOUBLE) / (n - 1)) AS sp
           FROM tok WHERE n > 1 GROUP BY w HAVING COUNT(*) >= 50)
SELECT w AS token, c AS occurrences,
       FLOOR(sp * 10000.0 / c) / 10000.0 AS mean_rel_pos,
       FLOOR(ABS(sp / c - 0.5) * 10000) / 10000.0 AS position_skew
FROM s ORDER BY ABS(sp / c - 0.5) DESC, w LIMIT 10
""")

# ---------------------------------------------------------------- B594
# Train/test split leakage audit: distinct 5-grams shared across the
# hash-split halves (q239's split rule) — the within-dataset
# contamination check run before training.
_q("q552_split_leakage",
   oracle="""
WITH sp AS (SELECT doc_id, text,
                   CASE WHEN CAST('0x' || SUBSTR(MD5(
                          CAST(doc_id AS VARCHAR) || ':split'), 1, 8)
                          AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     t AS (SELECT part, doc_id, STRING_SPLIT(text,' ') AS tok FROM sp),
     g AS (SELECT DISTINCT part,
                  ARRAY_TO_STRING(tok[i : i + 4], ' ') AS gram
           FROM t, UNNEST(GENERATE_SERIES(1, LEN(tok) - 4)) AS u(i)),
     tr AS (SELECT gram FROM g WHERE part = 'train'),
     te AS (SELECT gram FROM g WHERE part = 'test'),
     ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS shared
            FROM te JOIN tr ON tr.gram = te.gram),
     nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM te)
SELECT nt.n_test AS test_5grams, ov.shared AS leaked_5grams,
       FLOOR(ov.shared * 1000000.0 / nt.n_test) / 1000000.0
         AS leakage_rate
FROM nt CROSS JOIN ov
""",
   engine_sql="""
WITH sp AS (SELECT doc_id, text,
                   CASE WHEN CAST(CONV(SUBSTR(MD5(
                          CAST(doc_id AS STRING) || ':split'), 1, 8),
                          16, 10) AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     t AS (SELECT part, doc_id, SPLIT(text,' ') AS tok FROM sp),
     g AS (SELECT DISTINCT part,
                  ARRAY_JOIN(SLICE(tok, i, 5), ' ') AS gram
           -- total (IF, not WHERE): see q143 / q539
           FROM t LATERAL VIEW EXPLODE(
                  IF(SIZE(tok) >= 5, SEQUENCE(1, SIZE(tok) - 4),
                     ARRAY())) u AS i),
     tr AS (SELECT gram FROM g WHERE part = 'train'),
     te AS (SELECT gram FROM g WHERE part = 'test'),
     ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS shared
            FROM te JOIN tr ON tr.gram = te.gram),
     nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM te)
SELECT nt.n_test AS test_5grams, ov.shared AS leaked_5grams,
       FLOOR(ov.shared * 1000000.0 / nt.n_test) / 1000000.0
         AS leakage_rate
FROM nt CROSS JOIN ov
""")

# ---------------------------------------------------------------- B595
# Token-budget allocation across sources: 100k-token budget split by
# quality-weighted share (tokens × (1 − stopword rate)), Hamilton
# largest-remainder so allocations sum exactly.
_q("q553_domain_budget",
   oracle="""
WITH t AS (SELECT d.source, tok FROM documents d,
             UNNEST(STRING_SPLIT(d.text,' ')) AS u(tok)),
     s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
                  CAST(SUM(CASE WHEN tok IN ('a','the')
                           THEN 0 ELSE 1 END) AS BIGINT) AS w
           FROM t GROUP BY source),
     tt AS (SELECT SUM(w) AS tw FROM s),
     b AS (SELECT s.source, s.n_tok, s.w, tt.tw,
                  CAST(FLOOR(100000.0 * s.w / tt.tw) AS BIGINT) AS base,
                  (100000 * s.w) % tt.tw AS frac
           FROM s CROSS JOIN tt),
     lo AS (SELECT 100000 - SUM(base) AS leftover FROM b),
     r AS (SELECT b.*, ROW_NUMBER() OVER (ORDER BY b.frac DESC,
                                          b.source) AS rk
           FROM b)
SELECT r.source, r.n_tok AS corpus_tokens,
       CAST(r.base + CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS budget_tokens
FROM r CROSS JOIN lo ORDER BY r.source
""",
   engine_sql="""
WITH t AS (SELECT source, EXPLODE(SPLIT(text, ' ')) AS tok
           FROM documents),
     s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
                  CAST(SUM(CASE WHEN tok IN ('a','the')
                           THEN 0 ELSE 1 END) AS BIGINT) AS w
           FROM t GROUP BY source),
     tt AS (SELECT SUM(w) AS tw FROM s),
     b AS (SELECT s.source, s.n_tok, s.w, tt.tw,
                  CAST(FLOOR(100000.0 * s.w / tt.tw) AS BIGINT) AS base,
                  (100000 * s.w) % tt.tw AS frac
           FROM s CROSS JOIN tt),
     lo AS (SELECT 100000 - SUM(base) AS leftover FROM b),
     r AS (SELECT b.*, ROW_NUMBER() OVER (ORDER BY b.frac DESC,
                                          b.source) AS rk
           FROM b)
SELECT r.source, r.n_tok AS corpus_tokens,
       CAST(r.base + CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS budget_tokens
FROM r CROSS JOIN lo ORDER BY r.source
""")

# ---------------------------------------------------------------- B596
# Sampling-temperature sweep: language mixture weights at T = 0.5, 1,
# 2 side by side (wᵢ ∝ pᵢ^(1/T), renormalized) — how flat each
# temperature makes the mixture, one table.
# The z normalizers sum a handful of DOUBLES; Spark's partial-agg
# merge order is task-completion-dependent, so a plain SUM can drift
# one ulp between runs and flip a FLOOR(x*1e6) boundary (observed once
# in a contended sweep). Both dialects therefore fold a SORTED list —
# the same left fold over the same sequence is bit-deterministic.
_q("q554_temperature_sweep",
   oracle="""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
           GROUP BY lang),
     t AS (SELECT SUM(n) AS nt FROM c),
     p AS (SELECT c.lang, c.n, CAST(c.n AS DOUBLE) / t.nt AS pr
           FROM c CROSS JOIN t),
     e AS (SELECT lang, n, pr,
                  POWER(pr, 2.0) AS e05,
                  pr AS e10,
                  POWER(pr, 0.5) AS e20
           FROM p),
     z AS (SELECT LIST_REDUCE(LIST_SORT(LIST(e05)), (a, b) -> a + b) AS z05,
                  LIST_REDUCE(LIST_SORT(LIST(e10)), (a, b) -> a + b) AS z10,
                  LIST_REDUCE(LIST_SORT(LIST(e20)), (a, b) -> a + b) AS z20
           FROM e)
SELECT e.lang, e.n,
       FLOOR(e.e05 * 1000000.0 / z.z05) / 1000000.0 AS w_t05,
       FLOOR(e.e10 * 1000000.0 / z.z10) / 1000000.0 AS w_t10,
       FLOOR(e.e20 * 1000000.0 / z.z20) / 1000000.0 AS w_t20
FROM e CROSS JOIN z ORDER BY e.lang
""",
   engine_sql="""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
           GROUP BY lang),
     t AS (SELECT SUM(n) AS nt FROM c),
     p AS (SELECT c.lang, c.n, CAST(c.n AS DOUBLE) / t.nt AS pr
           FROM c CROSS JOIN t),
     e AS (SELECT lang, n, pr,
                  POWER(pr, 2.0) AS e05,
                  pr AS e10,
                  POWER(pr, 0.5) AS e20
           FROM p),
     z AS (SELECT AGGREGATE(SORT_ARRAY(COLLECT_LIST(e05)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b) AS z05,
                  AGGREGATE(SORT_ARRAY(COLLECT_LIST(e10)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b) AS z10,
                  AGGREGATE(SORT_ARRAY(COLLECT_LIST(e20)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b) AS z20
           FROM e)
SELECT e.lang, e.n,
       FLOOR(e.e05 * 1000000.0 / z.z05) / 1000000.0 AS w_t05,
       FLOOR(e.e10 * 1000000.0 / z.z10) / 1000000.0 AS w_t10,
       FLOOR(e.e20 * 1000000.0 / z.z20) / 1000000.0 AS w_t20
FROM e CROSS JOIN z ORDER BY e.lang
""")

# ---------------------------------------------------------------- B597
# Schema-diff report between two catalog versions (inline metadata
# tables): added / dropped / type-changed columns — the migration
# pre-flight diff as a relational full-outer join.
_q("q555_schema_diff", """
WITH v1 AS (SELECT * FROM (VALUES
              ('id', 'BIGINT'), ('name', 'VARCHAR'),
              ('price', 'DOUBLE'), ('qty', 'INT'),
              ('updated', 'TIMESTAMP'))
            AS t(col, typ)),
     v2 AS (SELECT * FROM (VALUES
              ('id', 'BIGINT'), ('name', 'VARCHAR'),
              ('price', 'DECIMAL'), ('category', 'VARCHAR'),
              ('updated', 'TIMESTAMP'))
            AS t(col, typ))
SELECT COALESCE(v1.col, v2.col) AS col,
       v1.typ AS old_type, v2.typ AS new_type,
       CASE WHEN v1.col IS NULL THEN 'added'
            WHEN v2.col IS NULL THEN 'dropped'
            WHEN v1.typ <> v2.typ THEN 'type_changed'
            ELSE 'unchanged' END AS change
FROM v1 FULL JOIN v2 ON v2.col = v1.col
ORDER BY col
""")

# ---------------------------------------------------------------- B598
# Lineage impact analysis: transitive downstream tables within 3 hops
# of a changed source (inline edge list, bounded-hop expansion) — the
# "what breaks if I change this" query.
_q("q556_lineage_fanout", """
WITH e AS (SELECT * FROM (VALUES
             ('raw_orders', 'stg_orders'), ('raw_lines', 'stg_lines'),
             ('stg_orders', 'fct_sales'), ('stg_lines', 'fct_sales'),
             ('fct_sales', 'agg_daily'), ('fct_sales', 'agg_customer'),
             ('agg_daily', 'dash_exec'), ('agg_customer', 'dash_crm'))
           AS t(src, dst)),
     h1 AS (SELECT dst FROM e WHERE src = 'raw_orders'),
     h2 AS (SELECT e.dst FROM e JOIN h1 ON h1.dst = e.src),
     h3 AS (SELECT e.dst FROM e JOIN h2 ON h2.dst = e.src),
     all_d AS (SELECT dst, 1 AS hop FROM h1
               UNION ALL SELECT dst, 2 AS hop FROM h2
               UNION ALL SELECT dst, 3 AS hop FROM h3)
SELECT dst AS downstream_table,
       CAST(MIN(hop) AS BIGINT) AS min_hops
FROM all_d GROUP BY dst ORDER BY min_hops, downstream_table
""")

# ---------------------------------------------------------------- B599
# Snapshot-retention policy evaluation (keep 7 daily + 4 weekly + 12
# monthly): every candidate day labeled keep/delete with the rule that
# retained it — rank windows per retention bucket over the distinct
# event days.
_q("q557_retention_plan",
   oracle="""
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS snap FROM events),
     mx AS (SELECT MAX(snap) AS d1 FROM d),
     lab AS (SELECT d.snap,
                    ROW_NUMBER() OVER (ORDER BY d.snap DESC) AS rd,
                    ROW_NUMBER() OVER (
                      PARTITION BY ISOYEAR(d.snap), WEEKOFYEAR(d.snap)
                      ORDER BY d.snap DESC) AS rw,
                    ROW_NUMBER() OVER (
                      PARTITION BY DATE_TRUNC('month', d.snap)
                      ORDER BY d.snap DESC) AS rm,
                    DENSE_RANK() OVER (
                      ORDER BY ISOYEAR(d.snap) DESC,
                               WEEKOFYEAR(d.snap) DESC) AS wk_rank,
                    DENSE_RANK() OVER (
                      ORDER BY DATE_TRUNC('month', d.snap) DESC)
                      AS mo_rank
             FROM d CROSS JOIN mx)
SELECT snap,
       CASE WHEN rd <= 7 THEN 'daily'
            WHEN rw = 1 AND wk_rank <= 4 THEN 'weekly'
            WHEN rm = 1 AND mo_rank <= 12 THEN 'monthly'
            ELSE 'delete' END AS verdict
FROM lab ORDER BY snap
""",
   engine_sql="""
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS snap FROM events),
     mx AS (SELECT MAX(snap) AS d1 FROM d),
     lab AS (SELECT d.snap,
                    ROW_NUMBER() OVER (ORDER BY d.snap DESC) AS rd,
                    ROW_NUMBER() OVER (
                      PARTITION BY EXTRACT(YEAROFWEEK FROM d.snap),
                                   WEEKOFYEAR(d.snap)
                      ORDER BY d.snap DESC) AS rw,
                    ROW_NUMBER() OVER (
                      PARTITION BY DATE_TRUNC('month', d.snap)
                      ORDER BY d.snap DESC) AS rm,
                    DENSE_RANK() OVER (
                      ORDER BY EXTRACT(YEAROFWEEK FROM d.snap) DESC,
                               WEEKOFYEAR(d.snap) DESC) AS wk_rank,
                    DENSE_RANK() OVER (
                      ORDER BY DATE_TRUNC('month', d.snap) DESC)
                      AS mo_rank
             FROM d CROSS JOIN mx)
SELECT snap,
       CASE WHEN rd <= 7 THEN 'daily'
            WHEN rw = 1 AND wk_rank <= 4 THEN 'weekly'
            WHEN rm = 1 AND mo_rank <= 12 THEN 'monthly'
            ELSE 'delete' END AS verdict
FROM lab ORDER BY snap
""")

# ---------------------------------------------------------------- B600
# Dead-letter signature rollup: error events grouped by their JSON
# payload's sorted key-set signature — the triage view that collapses
# thousands of errors into a handful of shapes.
_q("q558_error_signatures",
   oracle="""
WITH e AS (SELECT event_id, props FROM events
           WHERE event_type = 'error'),
     k AS (SELECT event_id,
                  ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ',')
                    AS sig
           FROM e)
SELECT sig AS key_signature, CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM k GROUP BY sig ORDER BY n_errors DESC, sig
""",
   engine_sql="""
WITH e AS (SELECT event_id, props FROM events
           WHERE event_type = 'error'),
     k AS (SELECT event_id,
                  ARRAY_JOIN(SORT_ARRAY(JSON_OBJECT_KEYS(props)), ',')
                    AS sig
           FROM e)
SELECT sig AS key_signature, CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM k GROUP BY sig ORDER BY n_errors DESC, sig
""")

# ---------------------------------------------------------------- B601
# Histogram equalization: balances remapped onto a uniform 0–100
# scale by their exact percentile rank (the image-processing
# transform applied to tabular data), with a uniformity check over
# 10 output buckets.
def _q559_builder(spark: SparkSession) -> DataFrame:
    # Scale tier: PERCENT_RANK over every customer row becomes the
    # two-phase bucketed global rank. The order key (c, c_custkey) is
    # unique, so RANK == ROW_NUMBER and pr = (rn-1)/(N-1) exactly as
    # the oracle computes it (same double op order).
    from shredder_spark.operators.scale_windows import with_global_rank

    cust = spark.table("customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c"))
    n = cust.count()
    r = with_global_rank(cust, [("c", "asc"), ("c_custkey", "asc")],
                         out_col="rn")
    pr = (F.col("rn") - 1) / (n - 1)
    return (r.select(F.floor(F.floor(pr * 100) / 10.0).cast("long")
                     .alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("bucket"))


_q("q559_histogram_equalization", """
WITH v AS (SELECT c_custkey,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
           FROM customer),
     r AS (SELECT c_custkey, c,
                  PERCENT_RANK() OVER (ORDER BY c, c_custkey) AS pr
           FROM v),
     m AS (SELECT c_custkey, c,
                  CAST(FLOOR(pr * 100) AS BIGINT) AS equalized
           FROM r),
     b AS (SELECT CAST(FLOOR(equalized / 10.0) AS BIGINT) AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM m GROUP BY CAST(FLOOR(equalized / 10.0) AS BIGINT))
SELECT bucket, n FROM b ORDER BY bucket
""", builder=_q559_builder)

# ---------------------------------------------------------------- B602
# SLA attainment scorecard per priority: ship-within-30d rate, p95
# cycle time, and worst-line fill rate in ONE pass over the
# order–line join — the ops scorecard view.
_q("q560_sla_scorecard",
   oracle="""
WITH ol AS (SELECT o.o_orderpriority AS pri, o.o_orderkey,
                   MAX(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE))) AS worst_lag
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority, o.o_orderkey)
SELECT pri AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       FLOOR(SUM(CASE WHEN worst_lag <= 30 THEN 1 ELSE 0 END)
             * 1000000.0 / COUNT(*)) / 1000000.0 AS within_30d_rate,
       CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY worst_lag)
            AS BIGINT) AS p95_cycle_days
FROM ol GROUP BY pri ORDER BY pri
""",
   engine_sql="""
WITH ol AS (SELECT o.o_orderpriority AS pri, o.o_orderkey,
                   MAX(DATEDIFF(CAST(l.l_shipdate AS DATE),
                                CAST(o.o_orderdate AS DATE))) AS worst_lag
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority, o.o_orderkey)
SELECT pri AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       FLOOR(SUM(CASE WHEN worst_lag <= 30 THEN 1 ELSE 0 END)
             * 1000000.0 / COUNT(*)) / 1000000.0 AS within_30d_rate,
       CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY worst_lag)
            AS BIGINT) AS p95_cycle_days
FROM ol GROUP BY pri ORDER BY pri
""")


# ---------------------------------------------------------------- B603
# Revenue-maximizing price band: unit-price deciles (cutoff banding)
# vs total revenue, argmax band per brand — the discrete price-
# optimization readout.
_q("q561_price_band_argmax", """
WITH v AS (SELECT p.p_brand AS brand,
                  CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS pc,
                  CAST(ROUND(l.l_quantity) AS BIGINT) AS q
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
     cut AS (SELECT brand,
                    PERCENTILE_DISC(0.33) WITHIN GROUP (ORDER BY pc)
                      AS c1,
                    PERCENTILE_DISC(0.66) WITHIN GROUP (ORDER BY pc)
                      AS c2
             FROM v GROUP BY brand),
     b AS (SELECT v.brand,
                  CASE WHEN v.pc <= cut.c1 THEN 'low'
                       WHEN v.pc <= cut.c2 THEN 'mid'
                       ELSE 'high' END AS band,
                  v.pc, v.q
           FROM v JOIN cut ON cut.brand = v.brand),
     agg AS (SELECT brand, band,
                    SUM(pc) AS rev_cents, SUM(q) AS units,
                    ROW_NUMBER() OVER (PARTITION BY brand
                                       ORDER BY SUM(pc) DESC, band)
                      AS rk
             FROM b GROUP BY brand, band)
SELECT brand, band AS best_band,
       CAST(rev_cents AS BIGINT) AS revenue_cents,
       CAST(units AS BIGINT) AS units
FROM agg WHERE rk = 1 ORDER BY brand
""")

# ---------------------------------------------------------------- B604
# Discount waterfall: gross → discount → net → tax decomposition in
# exact cents with per-flag totals and component shares — the finance
# bridge table.
_q("q562_discount_waterfall", """
WITH l AS (SELECT l_returnflag AS flag,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS gross,
                  CAST(ROUND(l_extendedprice * l_discount * 100)
                       AS BIGINT) AS disc,
                  CAST(ROUND(l_extendedprice * (1 - l_discount)
                             * l_tax * 100) AS BIGINT) AS tax
           FROM lineitem)
SELECT flag,
       CAST(SUM(gross) AS BIGINT) AS gross_cents,
       CAST(SUM(disc) AS BIGINT) AS discount_cents,
       CAST(SUM(gross) - SUM(disc) AS BIGINT) AS net_cents,
       CAST(SUM(tax) AS BIGINT) AS tax_cents,
       CAST(SUM(gross) - SUM(disc) + SUM(tax) AS BIGINT) AS charged_cents,
       FLOOR(SUM(disc) * 1000000.0 / SUM(gross)) / 1000000.0
         AS discount_share
FROM l GROUP BY flag ORDER BY flag
""")

# ---------------------------------------------------------------- B605
# FIFO lot matching: receipts ('F' lines) consumed by issues ('O'
# lines) in ship-date order via running-sum INTERVAL OVERLAP — the
# set-based FIFO allocation (no loops): lot [r_lo, r_hi) × demand
# [i_lo, i_hi) overlap is the matched quantity.
_q("q563_fifo_matching", """
WITH r AS (SELECT l_partkey AS part, l_orderkey, l_linenumber,
                  CAST(ROUND(l_quantity) AS BIGINT) AS q,
                  SUM(CAST(ROUND(l_quantity) AS BIGINT))
                    OVER (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS hi
           FROM lineitem
           WHERE l_linestatus = 'F' AND l_partkey <= 40),
     i AS (SELECT l_partkey AS part, l_orderkey, l_linenumber,
                  CAST(ROUND(l_quantity) AS BIGINT) AS q,
                  SUM(CAST(ROUND(l_quantity) AS BIGINT))
                    OVER (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS hi
           FROM lineitem
           WHERE l_linestatus = 'O' AND l_partkey <= 40),
     m AS (SELECT r.part,
                  LEAST(r.hi, i.hi)
                  - GREATEST(r.hi - r.q, i.hi - i.q) AS alloc
           FROM r JOIN i
             ON i.part = r.part
            AND r.hi - r.q < i.hi AND i.hi - i.q < r.hi)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(alloc) AS BIGINT) AS matched_qty
FROM m GROUP BY part ORDER BY part
""")

# ---------------------------------------------------------------- B606
# Multi-level BOM explosion (inline 2-level bill of materials):
# path-multiplied leaf quantities per product — the manufacturing
# rollup as bounded joins, no recursion needed at fixed depth.
_q("q564_bom_explosion", """
WITH bom AS (SELECT * FROM (VALUES
               ('widget', 'frame', 2), ('widget', 'motor', 1),
               ('gadget', 'frame', 1), ('gadget', 'panel', 4),
               ('frame', 'rod', 4), ('frame', 'bolt', 8),
               ('motor', 'coil', 2), ('motor', 'bolt', 4),
               ('panel', 'sheet', 1), ('panel', 'bolt', 2))
             AS t(parent, child, qty)),
     tops AS (SELECT DISTINCT parent FROM bom
              WHERE parent NOT IN (SELECT child FROM bom)),
     l1 AS (SELECT tops.parent AS product, bom.child, bom.qty
            FROM tops JOIN bom ON bom.parent = tops.parent),
     l2 AS (SELECT l1.product, b2.child,
                   l1.qty * b2.qty AS qty
            FROM l1 JOIN bom b2 ON b2.parent = l1.child),
     leaves AS (SELECT product, child, qty FROM l1
                WHERE child NOT IN (SELECT DISTINCT parent FROM bom)
                UNION ALL
                SELECT product, child, qty FROM l2)
SELECT product, child AS component,
       CAST(SUM(qty) AS BIGINT) AS total_qty
FROM leaves GROUP BY product, child ORDER BY product, component
""")

# ---------------------------------------------------------------- B607
# Cohort retention triangle by first-order year: cohort size and
# counts still active +1/+2 years — the classic triangle in wide form
# (conditional distinct counts per offset).
_q("q565_cohort_triangle", """
WITH fo AS (SELECT o_custkey,
                   MIN(EXTRACT(YEAR FROM o_orderdate)) AS y0
            FROM orders GROUP BY o_custkey),
     act AS (SELECT DISTINCT o_custkey,
                    EXTRACT(YEAR FROM o_orderdate) AS y
             FROM orders)
SELECT CAST(fo.y0 AS BIGINT) AS cohort_year,
       CAST(COUNT(DISTINCT fo.o_custkey) AS BIGINT) AS cohort_size,
       CAST(COUNT(DISTINCT CASE WHEN act.y = fo.y0 + 1
                                THEN act.o_custkey END) AS BIGINT)
         AS active_plus1,
       CAST(COUNT(DISTINCT CASE WHEN act.y = fo.y0 + 2
                                THEN act.o_custkey END) AS BIGINT)
         AS active_plus2
FROM fo JOIN act ON act.o_custkey = fo.o_custkey
GROUP BY fo.y0 ORDER BY cohort_year
""")

# ---------------------------------------------------------------- B608
# NPS computation: the event value mapped to a 0–10 score, promoters
# (≥9) minus detractors (≤6) as a share of responses, per event type.
_q("q566_nps", """
WITH s AS (SELECT event_type,
                  LEAST(CAST(FLOOR(value / 10) AS BIGINT), 10) AS score
           FROM events WHERE value >= 0)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_responses,
       CAST(SUM(CASE WHEN score >= 9 THEN 1 ELSE 0 END) AS BIGINT)
         AS promoters,
       CAST(SUM(CASE WHEN score <= 6 THEN 1 ELSE 0 END) AS BIGINT)
         AS detractors,
       FLOOR((SUM(CASE WHEN score >= 9 THEN 1 ELSE 0 END)
              - SUM(CASE WHEN score <= 6 THEN 1 ELSE 0 END))
             * 1000000.0 / COUNT(*)) / 1000000.0 AS nps
FROM s GROUP BY event_type ORDER BY event_type
""")

# ---------------------------------------------------------------- B609
# Outlier attribution: for each 2σ-plus order, WHICH of three
# features (price, line count, avg qty) carries the largest |z| —
# the "why is this row an outlier" explanation column.
_q("q567_outlier_attribution", """
WITH f AS (SELECT o.o_orderkey,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS f1,
                  CAST(COUNT(*) AS BIGINT) AS f2,
                  CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT))
                       AS BIGINT) AS f3
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           GROUP BY o.o_orderkey, o.o_totalprice),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  -- squares accumulate in DECIMAL(38,0): Σ f1² is
                  -- ~5.4e19 at sf100 (> 2^63; ANSI Spark threw in the
                  -- r10 sf100 profile, DuckDB silently widens to
                  -- HUGEINT) — exact in both engines, headroom
                  -- through sf1000
                  SUM(f1) AS s1,
                  SUM(CAST(f1 AS DECIMAL(38,0)) * f1) AS q1,
                  SUM(f2) AS s2,
                  SUM(CAST(f2 AS DECIMAL(38,0)) * f2) AS q2,
                  SUM(f3) AS s3,
                  SUM(CAST(f3 AS DECIMAL(38,0)) * f3) AS q3
           FROM f),
     z AS (SELECT f.o_orderkey,
                  ABS(f.f1 - CAST(m.s1 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q1 AS DOUBLE)
                          - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                         / (m.n - 1)) AS z1,
                  ABS(f.f2 - CAST(m.s2 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q2 AS DOUBLE)
                          - CAST(m.s2 AS DOUBLE) * m.s2 / m.n)
                         / (m.n - 1)) AS z2,
                  ABS(f.f3 - CAST(m.s3 AS DOUBLE) / m.n)
                  / SQRT((CAST(m.q3 AS DOUBLE)
                          - CAST(m.s3 AS DOUBLE) * m.s3 / m.n)
                         / (m.n - 1)) AS z3
           FROM f CROSS JOIN m)
SELECT o_orderkey,
       FLOOR(GREATEST(z1, z2, z3) * 10000) / 10000.0 AS max_z,
       CASE WHEN z1 >= z2 AND z1 >= z3 THEN 'total_price'
            WHEN z2 >= z3 THEN 'line_count'
            ELSE 'total_qty' END AS driver
FROM z WHERE GREATEST(z1, z2, z3) > 2 ORDER BY o_orderkey
""")

# ---------------------------------------------------------------- B610
# CAGR per segment between its first and last full year: POWER of the
# exact revenue ratio over the year span — the growth summary.
_q("q568_cagr", """
WITH y AS (SELECT c.c_mktsegment AS seg,
                  EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment, EXTRACT(YEAR FROM o.o_orderdate)),
     b AS (SELECT seg, MIN(yr) AS y0, MAX(yr) AS y1 FROM y
           GROUP BY seg HAVING MAX(yr) > MIN(yr)),
     j AS (SELECT b.seg, b.y0, b.y1, a.rc AS r0, c.rc AS r1
           FROM b JOIN y a ON a.seg = b.seg AND a.yr = b.y0
                  JOIN y c ON c.seg = b.seg AND c.yr = b.y1)
SELECT seg, CAST(y0 AS BIGINT) AS first_year,
       CAST(y1 AS BIGINT) AS last_year,
       CASE WHEN r0 > 0 AND r1 > 0 THEN
         FLOOR((POWER(CAST(r1 AS DOUBLE) / r0, 1.0 / (y1 - y0)) - 1)
               * 1000000) / 1000000.0 END AS cagr
FROM j ORDER BY seg
""")

# ---------------------------------------------------------------- B611
# Days-sales-outstanding proxy: open ('O') order value as receivables
# over annualized revenue — the working-capital KPI per segment.
_q("q569_dso_proxy", """
WITH s AS (SELECT c.c_mktsegment AS seg,
                  SUM(CASE WHEN o.o_orderstatus = 'O'
                      THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS open_cents,
                  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS total_cents
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment)
SELECT seg, CAST(open_cents AS BIGINT) AS receivables_cents,
       FLOOR(open_cents * 365.0 * 100 / total_cents) / 100.0
         AS dso_days_proxy
FROM s ORDER BY seg
""")

# ---------------------------------------------------------------- B612
# Executive annual summary: revenue, orders, AOV, YoY growth and the
# year's top segment in one table — the multi-metric rollup with a
# partitioned top-1 joined back.
_q("q570_annual_summary", """
WITH y AS (SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders GROUP BY EXTRACT(YEAR FROM o_orderdate)),
     seg AS (SELECT EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                    c.c_mktsegment AS seg,
                    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rc,
                    ROW_NUMBER() OVER (
                      PARTITION BY EXTRACT(YEAR FROM o.o_orderdate)
                      ORDER BY SUM(CAST(ROUND(o.o_totalprice * 100)
                                        AS BIGINT)) DESC,
                               c.c_mktsegment) AS rk
             FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             GROUP BY EXTRACT(YEAR FROM o.o_orderdate), c.c_mktsegment)
SELECT CAST(y.yr AS BIGINT) AS yr, y.n_orders,
       CAST(y.rc AS BIGINT) AS revenue_cents,
       CAST(FLOOR(y.rc * 1.0 / y.n_orders) AS BIGINT) AS aov_cents,
       FLOOR((y.rc - LAG(y.rc) OVER (ORDER BY y.yr))
             * 1000000.0 / NULLIF(LAG(y.rc) OVER (ORDER BY y.yr), 0))
         / 1000000.0
         AS yoy_growth,
       seg.seg AS top_segment
FROM y JOIN seg ON seg.yr = y.yr AND seg.rk = 1
ORDER BY yr
""")


# ---------------------------------------------------------------- B613
# XmR individuals control chart: moving range |Δx|, limits
# x̄ ± 2.66·m̄R, out-of-control days flagged — the SPC chart on the
# daily k$ series, all exact integer inputs.
_q("q571_xmr_chart", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     mr AS (SELECT day, k,
                   ABS(k - LAG(k) OVER (ORDER BY day)) AS r
            FROM d),
     lim AS (SELECT SUM(k) * 1.0 / COUNT(*) AS xbar,
                    SUM(r) * 1.0 / COUNT(r) AS rbar
             FROM mr)
SELECT mr.day, CAST(mr.k AS BIGINT) AS k,
       FLOOR((lim.xbar + 2.66 * lim.rbar) * 100) / 100.0 AS ucl,
       FLOOR((lim.xbar - 2.66 * lim.rbar) * 100) / 100.0 AS lcl,
       CAST(CASE WHEN mr.k > lim.xbar + 2.66 * lim.rbar
                   OR mr.k < lim.xbar - 2.66 * lim.rbar
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM mr CROSS JOIN lim ORDER BY mr.day
""")

# ---------------------------------------------------------------- B614
# X̄-S subgroup control chart: daily subgroups of order values, the
# grand mean and pooled within-subgroup σ set the limits; subgroup
# means outside ±3σ/√n flag. Exact cent moments per subgroup.
_q("q572_xbar_s_chart", """
WITH g AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sx,
                  SUM(CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)
                      * CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                        AS BIGINT) / 100) AS BIGINT))
                    AS qxd,
                  SUM(CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)) AS sxd
           FROM orders GROUP BY CAST(o_orderdate AS DATE)
           HAVING COUNT(*) >= 3),
     s AS (SELECT day, n, sx, sxd, qxd,
                  (CAST(qxd AS DOUBLE) - CAST(sxd AS DOUBLE) * sxd / n)
                  / (n - 1) AS var_d
           FROM g),
     lim AS (SELECT SUM(sxd) * 1.0 / SUM(n) AS grand_mean,
                    SQRT(SUM((n - 1) * var_d) / SUM(n - 1)) AS pooled_sd
             FROM s)
SELECT s.day, CAST(s.n AS BIGINT) AS n,
       FLOOR(s.sxd * 100.0 / s.n) / 100.0 AS subgroup_mean,
       CAST(CASE WHEN ABS(s.sxd * 1.0 / s.n - lim.grand_mean)
                      > 3 * lim.pooled_sd / SQRT(s.n)
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM s CROSS JOIN lim ORDER BY s.day
""")

# ---------------------------------------------------------------- B615
# Process capability Cp / Cpk against declared spec limits: how many
# σ of headroom the order-value process has inside [500, 400000] —
# exact dollar moments.
_q("q573_process_capability", """
WITH v AS (SELECT CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
                  SUM(x * x) AS sxx
           FROM v),
     s AS (SELECT CAST(sx AS DOUBLE) / n AS mu,
                  SQRT((CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) AS sd
           FROM m)
SELECT FLOOR(mu * 100) / 100.0 AS mean_dollars,
       FLOOR(sd * 100) / 100.0 AS sd_dollars,
       FLOOR((400000 - 500) / (6 * sd) * 10000) / 10000.0 AS cp,
       FLOOR(LEAST((400000 - mu) / (3 * sd), (mu - 500) / (3 * sd))
             * 10000) / 10000.0 AS cpk
FROM s
""")

# ---------------------------------------------------------------- B616
# OEE-style telemetry rollup per day: availability (non-error event
# share), performance (mean value vs best-day mean), and their
# product — the manufacturing KPI shape on the events stream.
_q("q574_oee", """
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS errs,
                  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sv
           FROM events GROUP BY CAST(ts AS DATE)),
     best AS (SELECT MAX(CAST(sv AS DOUBLE) / n) AS best_rate FROM d)
SELECT d.day,
       FLOOR((d.n - d.errs) * 1000000.0 / d.n) / 1000000.0
         AS availability,
       FLOOR((CAST(d.sv AS DOUBLE) / d.n) * 1000000.0 / best.best_rate)
         / 1000000.0 AS performance,
       FLOOR((CAST(d.n - d.errs AS DOUBLE) / d.n)
             * ((CAST(d.sv AS DOUBLE) / d.n) / best.best_rate) * 1000000)
         / 1000000.0 AS oee_proxy
FROM d CROSS JOIN best ORDER BY d.day
""")

# ---------------------------------------------------------------- B617
# Little's-law consistency check: L (time-average sessions in system)
# vs λ·W from arrivals and mean duration — the queueing identity
# verified numerically on the sessionized stream.
_q("q575_littles_law",
   oracle="""
WITH s AS (SELECT user_id, ts,
                  CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                         OR ts > LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
     g AS (SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sid
           FROM s),
     iv AS (SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
            FROM g GROUP BY user_id, sid
            HAVING MIN(ts) < MAX(ts)),
     horiz AS (SELECT EPOCH(MAX(t1)) - EPOCH(MIN(t0)) AS span_s
               FROM iv),
     agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
                    SUM(EPOCH(t1) - EPOCH(t0)) AS busy_s
             FROM iv)
SELECT agg.n_sessions,
       FLOOR(agg.busy_s * 10000.0 / horiz.span_s) / 10000.0 AS l_direct,
       FLOOR((agg.n_sessions * 1.0 / horiz.span_s)
             * (agg.busy_s * 1.0 / agg.n_sessions) * 10000) / 10000.0
         AS lambda_times_w
FROM agg CROSS JOIN horiz
""",
   engine_sql="""
WITH s AS (SELECT user_id, ts, event_id,
                  CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                         OR ts > LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
     g AS (SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sid
           FROM s),
     iv AS (SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
            FROM g GROUP BY user_id, sid
            HAVING MIN(ts) < MAX(ts)),
     horiz AS (SELECT (UNIX_MICROS(CAST(MAX(t1) AS TIMESTAMP))
                       - UNIX_MICROS(CAST(MIN(t0) AS TIMESTAMP)))
                      / 1000000 AS span_s
               FROM iv),
     agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
                    SUM((UNIX_MICROS(CAST(t1 AS TIMESTAMP))
                         - UNIX_MICROS(CAST(t0 AS TIMESTAMP)))
                        / 1000000) AS busy_s
             FROM iv)
SELECT agg.n_sessions,
       FLOOR(agg.busy_s * 10000.0 / horiz.span_s) / 10000.0 AS l_direct,
       FLOOR((agg.n_sessions * 1.0 / horiz.span_s)
             * (agg.busy_s * 1.0 / agg.n_sessions) * 10000) / 10000.0
         AS lambda_times_w
FROM agg CROSS JOIN horiz
""")

# ---------------------------------------------------------------- B618
# Erlang-C wait probability for 1..6 agents at the observed offered
# load: the staffing table, with the factorial series evaluated
# relationally (series explode + POWER/FACTORIAL folds).
_q("q576_erlang_c",
   oracle="""
WITH a AS (SELECT CAST(COUNT(*) AS DOUBLE)
                  / ((EPOCH(MAX(ts)) - EPOCH(MIN(ts))) / 3600.0) / 20.0
                  / (CAST(COUNT(DISTINCT user_id) AS DOUBLE) / 1500.0)
                    AS load_erl
           -- per-1500-user load: scale-invariant (10x events at sf1
           -- otherwise pushes the load past every agent count and
           -- the result goes empty)
           FROM events WHERE event_type = 'purchase'),
     k AS (SELECT UNNEST(GENERATE_SERIES(1, 6)) AS c),
     terms AS (SELECT k.c, a.load_erl, g.j,
                      POWER(a.load_erl, g.j) / FACTORIAL(CAST(g.j AS INTEGER)) AS t
               FROM k CROSS JOIN a,
                    UNNEST(GENERATE_SERIES(0, 6)) AS g(j)
               WHERE g.j < k.c),
     s AS (SELECT c, load_erl, SUM(t) AS s0 FROM terms
           GROUP BY c, load_erl),
     e AS (SELECT c, load_erl, s0,
                  POWER(load_erl, c) / FACTORIAL(CAST(c AS INTEGER))
                  * (c / GREATEST(c - load_erl, 1e-9)) AS top
           FROM s WHERE load_erl < c)
SELECT CAST(c AS BIGINT) AS agents,
       FLOOR(load_erl * 10000) / 10000.0 AS offered_load,
       FLOOR(top / (s0 + top) * 1000000) / 1000000.0 AS p_wait
FROM e ORDER BY agents
""",
   engine_sql="""
WITH a AS (SELECT CAST(COUNT(*) AS DOUBLE)
                  / ((UNIX_MICROS(CAST(MAX(ts) AS TIMESTAMP))
                      - UNIX_MICROS(CAST(MIN(ts) AS TIMESTAMP)))
                     / 3600000000.0) / 20.0
                  / (CAST(COUNT(DISTINCT user_id) AS DOUBLE) / 1500.0)
                    AS load_erl
           -- per-1500-user load: see oracle text
           FROM events WHERE event_type = 'purchase'),
     k AS (SELECT EXPLODE(SEQUENCE(1, 6)) AS c),
     terms AS (SELECT k.c, a.load_erl, g.j,
                      POWER(a.load_erl, g.j) / FACTORIAL(g.j) AS t
               FROM k CROSS JOIN a
               LATERAL VIEW EXPLODE(SEQUENCE(0, 6)) g AS j
               WHERE g.j < k.c),
     s AS (SELECT c, load_erl, SUM(t) AS s0 FROM terms
           GROUP BY c, load_erl),
     e AS (SELECT c, load_erl, s0,
                  POWER(load_erl, c) / FACTORIAL(c)
                  * (c / GREATEST(c - load_erl, 1e-9)) AS top
           FROM s WHERE load_erl < c)
SELECT CAST(c AS BIGINT) AS agents,
       FLOOR(load_erl * 10000) / 10000.0 AS offered_load,
       FLOOR(top / (s0 + top) * 1000000) / 1000000.0 AS p_wait
FROM e ORDER BY agents
""")

# ---------------------------------------------------------------- B619
# Latency-budget decomposition: per-stage p50/p99 (event types as
# stages) vs the end-to-end percentile — the sum-of-p99s ≥ e2e-p99
# non-additivity a latency budget must respect.
_q("q577_latency_budget", """
WITH st AS (SELECT event_type AS stage,
                   CAST(ROUND(value * 100) AS BIGINT) AS lat
            FROM events),
     per AS (SELECT stage,
                    CAST(PERCENTILE_DISC(0.5)
                         WITHIN GROUP (ORDER BY lat) AS BIGINT) AS p50,
                    CAST(PERCENTILE_DISC(0.99)
                         WITHIN GROUP (ORDER BY lat) AS BIGINT) AS p99
             FROM st GROUP BY stage),
     e2e AS (SELECT user_id, SUM(lat) AS total
             FROM (SELECT user_id,
                          CAST(ROUND(value * 100) AS BIGINT) AS lat
                   FROM events) x GROUP BY user_id),
     ep AS (SELECT CAST(PERCENTILE_DISC(0.99)
                        WITHIN GROUP (ORDER BY total) AS BIGINT)
                     AS e2e_p99
            FROM e2e)
SELECT per.stage, per.p50, per.p99,
       (SELECT CAST(SUM(p99) AS BIGINT) FROM per) AS sum_of_p99s,
       ep.e2e_p99
FROM per CROSS JOIN ep ORDER BY per.stage
""")

# ---------------------------------------------------------------- B620
# Throughput-saturation knee: revenue-per-line vs load band (lines
# per day decile bands), knee = max negative second difference of the
# efficiency curve — the capacity-knee finder.
_q("q578_saturation_knee", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n_lines,
                  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rc
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     cut AS (SELECT PERCENTILE_DISC(0.25) WITHIN GROUP
                      (ORDER BY n_lines) AS c1,
                    PERCENTILE_DISC(0.5) WITHIN GROUP
                      (ORDER BY n_lines) AS c2,
                    PERCENTILE_DISC(0.75) WITHIN GROUP
                      (ORDER BY n_lines) AS c3
             FROM d),
     b AS (SELECT CASE WHEN d.n_lines <= cut.c1 THEN 1
                       WHEN d.n_lines <= cut.c2 THEN 2
                       WHEN d.n_lines <= cut.c3 THEN 3 ELSE 4 END AS band,
                  d.n_lines, d.rc
           FROM d CROSS JOIN cut),
     eff AS (SELECT band, SUM(rc) AS rc, SUM(n_lines) AS nl,
                    FLOOR(SUM(rc) * 1.0 / SUM(n_lines)) AS rev_per_line
             FROM b GROUP BY band),
     dd AS (SELECT band, rev_per_line,
                   rev_per_line - LAG(rev_per_line)
                     OVER (ORDER BY band) AS d1
            FROM eff),
     d2 AS (SELECT band, rev_per_line, d1,
                   d1 - LAG(d1) OVER (ORDER BY band) AS curv
            FROM dd)
SELECT CAST(band AS BIGINT) AS load_band,
       CAST(rev_per_line AS BIGINT) AS rev_per_line_cents,
       CAST(curv AS BIGINT) AS second_diff
FROM d2 ORDER BY load_band
""")

# ---------------------------------------------------------------- B621
# Capacity forecast: days until a 2× storage limit at the fitted
# linear growth of cumulative corpus bytes — OLS on exact integer
# (day-index, cumulative-bytes) pairs, solved for the limit crossing.
_q("q579_capacity_forecast", """
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS b
           FROM events GROUP BY CAST(ts AS DATE)),
     c AS (SELECT day,
                  ROW_NUMBER() OVER (ORDER BY day) AS t,
                  SUM(b) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
           FROM d),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(t) AS st,
                  SUM(cum) AS sc, SUM(t * cum) AS stc,
                  SUM(t * t) AS stt, MAX(cum) AS last_cum,
                  MAX(t) AS last_t
           FROM c),
     fit AS (SELECT n, last_cum, last_t,
                    (CAST(n AS DOUBLE) * stc
                     - CAST(st AS DOUBLE) * sc)
                    / (CAST(n AS DOUBLE) * stt
                       - CAST(st AS DOUBLE) * st) AS slope
             FROM m)
SELECT CAST(last_cum AS BIGINT) AS current_bytes,
       FLOOR(slope * 100) / 100.0 AS daily_growth,
       CAST(CEIL((2.0 * last_cum - last_cum) / slope) AS BIGINT)
         AS days_to_2x
FROM fit
""")

# ---------------------------------------------------------------- B622
# SLO error-budget burn: error share vs a 1% budget over trailing
# 7-day windows — burn-rate multiple and projected budget exhaustion,
# the SRE alerting arithmetic on exact counts.
_q("q580_error_budget", """
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS e
           FROM events GROUP BY CAST(ts AS DATE)),
     w AS (SELECT day,
                  SUM(n) OVER w7 AS n7, SUM(e) OVER w7 AS e7,
                  COUNT(*) OVER w7 AS days7
           FROM d
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT day,
       FLOOR(e7 * 1000000.0 / n7) / 1000000.0 AS error_rate_7d,
       FLOOR(e7 * 100.0 / (n7 * 0.01)) / 100.0 AS burn_rate_x,
       CAST(CASE WHEN e7 * 100 > n7 THEN 1 ELSE 0 END AS BIGINT)
         AS budget_exhausted
FROM w WHERE days7 = 7 ORDER BY day
""")


# ---------------------------------------------------------------- B623
# GROUPING SETS filtered to subtotal rows via GROUPING() in HAVING —
# emit ONLY the per-flag and grand-total rows of a two-key rollup
# (the "subtotals report" shape).
_q("q581_grouping_sets_having", """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), ())
HAVING GROUPING(l_linestatus) = 1
ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
""")

# ---------------------------------------------------------------- B624
# Correlated EXISTS with an aggregate subquery: customers whose
# single largest order exceeds 2× their own average — the correlated
# HAVING-in-EXISTS shape Catalyst rewrites to joins.
_q("q582_correlated_exists_agg", """
SELECT c.c_custkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
              GROUP BY o.o_custkey
              HAVING MAX(o.o_totalprice) > 2 * AVG(o.o_totalprice))
ORDER BY c.c_custkey
""")

# ---------------------------------------------------------------- B625
# Fill-in-middle span planning: deterministic (hash-positioned)
# prefix/middle/suffix boundaries per doc with the middle constrained
# to 20–40% of the token count — the FIM data-prep layout.
_q("q583_fim_spans",
   oracle="""
WITH t AS (SELECT doc_id,
                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n,
                  CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                       || ':fim'), 1, 8) AS BIGINT) AS h
           FROM documents),
     p AS (SELECT doc_id, n,
                  (n * 20 + (h % 21) * n) // 100 AS mid_len,
                  h // 64 AS h2
           FROM t WHERE n >= 10),
     s AS (SELECT doc_id, n, mid_len,
                  1 + h2 % GREATEST(n - mid_len - 1, 1) AS mid_start
           FROM p)
SELECT doc_id, n AS n_tokens,
       CAST(mid_start AS BIGINT) AS middle_start,
       CAST(mid_len AS BIGINT) AS middle_len,
       CAST(n - mid_start - mid_len AS BIGINT) AS suffix_len
FROM s ORDER BY doc_id
""",
   engine_sql="""
WITH t AS (SELECT doc_id,
                  CAST(SIZE(SPLIT(text, ' ')) AS BIGINT) AS n,
                  CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                       || ':fim'), 1, 8), 16, 10) AS BIGINT) AS h
           FROM documents),
     p AS (SELECT doc_id, n,
                  (n * 20 + (h % 21) * n) DIV 100 AS mid_len,
                  h DIV 64 AS h2
           FROM t WHERE n >= 10),
     s AS (SELECT doc_id, n, mid_len,
                  1 + h2 % GREATEST(n - mid_len - 1, 1) AS mid_start
           FROM p)
SELECT doc_id, n AS n_tokens,
       CAST(mid_start AS BIGINT) AS middle_start,
       CAST(mid_len AS BIGINT) AS middle_len,
       CAST(n - mid_start - mid_len AS BIGINT) AS suffix_len
FROM s ORDER BY doc_id
""")

# ---------------------------------------------------------------- B626
# Packing-efficiency report: greedy 128-token context packing
# (q236's bucket trick) scored — bins used, mean fill, waste share —
# the packing observability view.
def _q584_builder(spark: SparkSession) -> DataFrame:
    # Scale tier: the global running token sum becomes the two-phase
    # bucketed running sum (doc_id is the leading key — numeric and
    # unique, so range bucketing is clean). Double prefix sums are
    # exact below 2^53 total tokens, far beyond the declared use.
    from shredder_spark.operators.scale_windows import (
        with_global_running_sum,
    )

    docs = spark.table("documents")
    d = docs.select(
        "doc_id",
        (F.length("text")
         - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("n_tok"))
    r = with_global_running_sum(d, [("doc_id", "asc")], F.col("n_tok"),
                                out_col="run")
    b = r.select("n_tok",
                 F.floor((F.col("run") - F.col("n_tok")) / 128.0)
                 .cast("long").alias("bin"))
    fill = (b.groupBy("bin")
            .agg(F.sum("n_tok").alias("toks"),
                 F.count(F.lit(1)).cast("long").alias("n_docs")))
    return fill.agg(
        F.count(F.lit(1)).cast("long").alias("bins_used"),
        F.sum("toks").cast("long").alias("total_tokens"),
        (F.floor(F.sum("toks") * 1000000.0
                 / (F.count(F.lit(1)) * 128)) / 1000000.0)
        .alias("mean_fill"),
        (F.floor(F.sum(F.when(F.col("toks") > 128, F.col("toks") - 128)
                       .otherwise(0)) * 1000000.0 / F.sum("toks"))
         / 1000000.0).alias("overflow_share"))


_q("q584_packing_efficiency", """
WITH d AS (SELECT doc_id,
                  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                       AS BIGINT) AS n_tok
           FROM documents),
     r AS (SELECT doc_id, n_tok,
                  SUM(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run
           FROM d),
     b AS (SELECT doc_id, n_tok,
                  CAST(FLOOR((run - n_tok) / 128.0) AS BIGINT) AS bin
           FROM r),
     fill AS (SELECT bin, SUM(n_tok) AS toks,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM b GROUP BY bin)
SELECT CAST(COUNT(*) AS BIGINT) AS bins_used,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       FLOOR(SUM(toks) * 1000000.0 / (COUNT(*) * 128)) / 1000000.0
         AS mean_fill,
       FLOOR(SUM(CASE WHEN toks > 128 THEN toks - 128 ELSE 0 END)
             * 1000000.0 / SUM(toks)) / 1000000.0 AS overflow_share
FROM fill
""", builder=_q584_builder)

# ---------------------------------------------------------------- B627
# Dedup-threshold sensitivity: keeper counts at Jaccard thresholds
# 0.5/0.6/0.7/0.8 from ONE exact pair computation over a bounded
# block — how aggressive each setting would be.
_q("q585_dedup_threshold_sensitivity",
   oracle="""
WITH t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 150),
     p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                  LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
                  / LEN(LIST_DISTINCT(a.s || b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id),
     th AS (SELECT UNNEST([0.5, 0.6, 0.7, 0.8]) AS thr),
     drops AS (SELECT th.thr,
                      CAST(COUNT(DISTINCT p.j) AS BIGINT) AS dropped
               FROM th LEFT JOIN p ON p.jac >= th.thr
               GROUP BY th.thr),
     n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t)
SELECT drops.thr AS threshold, n.total - drops.dropped AS keepers,
       drops.dropped
FROM drops CROSS JOIN n ORDER BY threshold
""",
   engine_sql="""
WITH t AS (SELECT doc_id, ARRAY_DISTINCT(SPLIT(text,' ')) AS s
           FROM documents WHERE doc_id < 150),
     p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                  SIZE(ARRAY_INTERSECT(a.s, b.s)) * 1.0
                  / SIZE(ARRAY_UNION(a.s, b.s)) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id),
     th AS (SELECT EXPLODE(ARRAY(0.5D, 0.6D, 0.7D, 0.8D)) AS thr),
     drops AS (SELECT th.thr,
                      CAST(COUNT(DISTINCT p.j) AS BIGINT) AS dropped
               FROM th LEFT JOIN p ON p.jac >= th.thr
               GROUP BY th.thr),
     n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t)
SELECT drops.thr AS threshold, n.total - drops.dropped AS keepers,
       drops.dropped
FROM drops CROSS JOIN n ORDER BY threshold
""")

# ---------------------------------------------------------------- B628
# Multi-epoch sampling overlap: two 50% hash samples with different
# seeds — overlap size vs the ~25% expectation (the epoch-resampling
# independence check).
_q("q586_epoch_overlap",
   oracle="""
WITH e1 AS (SELECT doc_id FROM documents
            WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                  || ':ep1'), 1, 8) AS BIGINT) % 2 = 0),
     e2 AS (SELECT doc_id FROM documents
            WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                  || ':ep2'), 1, 8) AS BIGINT) % 2 = 0),
     ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS both_n
            FROM e1 JOIN e2 ON e2.doc_id = e1.doc_id),
     c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n1,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n2,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n)
SELECT c.n1 AS epoch1_n, c.n2 AS epoch2_n, ov.both_n,
       FLOOR(ov.both_n * 1000000.0 / c.n) / 1000000.0 AS overlap_share
FROM c CROSS JOIN ov
""",
   engine_sql="""
WITH e1 AS (SELECT doc_id FROM documents
            WHERE CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                  || ':ep1'), 1, 8), 16, 10) AS BIGINT) % 2 = 0),
     e2 AS (SELECT doc_id FROM documents
            WHERE CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                  || ':ep2'), 1, 8), 16, 10) AS BIGINT) % 2 = 0),
     ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS both_n
            FROM e1 JOIN e2 ON e2.doc_id = e1.doc_id),
     c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n1,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n2,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n)
SELECT c.n1 AS epoch1_n, c.n2 AS epoch2_n, ov.both_n,
       FLOOR(ov.both_n * 1000000.0 / c.n) / 1000000.0 AS overlap_share
FROM c CROSS JOIN ov
""")

# ---------------------------------------------------------------- B629
# Vocabulary-truncation sweep: corpus OOV rate at top-10/20/30 vocab
# sizes from one ranked vocabulary — q201's single point widened to
# the tuning curve.
_q("q587_vocab_truncation_sweep",
   oracle="""
WITH t AS (SELECT tok FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)),
     f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t
           GROUP BY tok),
     r AS (SELECT tok, c,
                  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
           FROM f),
     n AS (SELECT SUM(c) AS total FROM f),
     sizes AS (SELECT UNNEST(GENERATE_SERIES(10, 30, 10)) AS v)
SELECT CAST(sizes.v AS BIGINT) AS vocab_size,
       FLOOR(SUM(CASE WHEN r.rk > sizes.v THEN r.c ELSE 0 END)
             * 1000000.0 / MAX(n.total)) / 1000000.0 AS oov_rate
FROM sizes CROSS JOIN r CROSS JOIN n
GROUP BY sizes.v ORDER BY vocab_size
""",
   engine_sql="""
WITH t AS (SELECT EXPLODE(SPLIT(text, ' ')) AS tok FROM documents),
     f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t
           GROUP BY tok),
     -- the sweep only asks about the top-30 vocabulary, but token
     -- TYPES grow ~n^beta (Heaps): rank the 30-row TakeOrdered
     -- prefix instead of the whole vocabulary, and recover the
     -- OOV mass as total - in-vocab mass (exact integer sums).
     top AS (SELECT tok, c FROM f ORDER BY c DESC, tok LIMIT 30),
     r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
           FROM top),
     n AS (SELECT SUM(c) AS total FROM f),
     sizes AS (SELECT EXPLODE(SEQUENCE(10, 30, 10)) AS v)
SELECT CAST(sizes.v AS BIGINT) AS vocab_size,
       FLOOR((MAX(n.total)
              - SUM(CASE WHEN r.rk <= sizes.v THEN r.c ELSE 0 END))
             * 1000000.0 / MAX(n.total)) / 1000000.0 AS oov_rate
FROM sizes CROSS JOIN r CROSS JOIN n
GROUP BY sizes.v ORDER BY vocab_size
""")

# ---------------------------------------------------------------- B630
# Context-window planning: docs fitting whole vs splits needed
# (Σ⌈n/w⌉) at 64/128/256-token windows — the batch-shape forecast
# before training.
_q("q588_context_window_plan",
   oracle="""
WITH d AS (SELECT doc_id,
                  CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS n
           FROM documents),
     w AS (SELECT UNNEST([64, 128, 256]) AS win)
SELECT CAST(w.win AS BIGINT) AS window_tokens,
       CAST(SUM(CASE WHEN d.n <= w.win THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_fitting,
       CAST(SUM(CAST(CEIL(d.n * 1.0 / w.win) AS BIGINT)) AS BIGINT)
         AS total_chunks
FROM w CROSS JOIN d GROUP BY w.win ORDER BY window_tokens
""",
   engine_sql="""
WITH d AS (SELECT doc_id,
                  CAST(SIZE(SPLIT(text, ' ')) AS BIGINT) AS n
           FROM documents),
     w AS (SELECT EXPLODE(ARRAY(64, 128, 256)) AS win)
SELECT CAST(w.win AS BIGINT) AS window_tokens,
       CAST(SUM(CASE WHEN d.n <= w.win THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_fitting,
       CAST(SUM(CAST(CEIL(d.n * 1.0 / w.win) AS BIGINT)) AS BIGINT)
         AS total_chunks
FROM w CROSS JOIN d GROUP BY w.win ORDER BY window_tokens
""")

# ---------------------------------------------------------------- B631
# Maskable-token share per source: stopwords plus ≥3-doc boilerplate
# chunks (q388's rule) — the share of tokens a loss mask would zero.
_q("q589_maskable_share",
   oracle="""
WITH t AS (SELECT doc_id, source, STRING_SPLIT(text,' ') AS toks
           FROM documents),
     ch AS (SELECT doc_id, source,
                   LEAST(i * 8 + 8, LEN(toks)) - i * 8 AS clen,
                   MD5(ARRAY_TO_STRING(
                     toks[i * 8 + 1 : LEAST(i * 8 + 8, LEN(toks))], ' '))
                     AS h
            FROM t, UNNEST(GENERATE_SERIES(
                    0, CAST(CEIL(LEN(toks) / 8.0) AS BIGINT) - 1)) AS g(i)),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
     boiler AS (SELECT ch.source, SUM(ch.clen) AS all_tok,
                       SUM(CASE WHEN freq.nd >= 3 THEN ch.clen
                           ELSE 0 END) AS boiler_tok
                FROM ch JOIN freq ON freq.h = ch.h GROUP BY ch.source),
     sw AS (SELECT d.source,
                   CAST(SUM(CASE WHEN tok IN ('a','the')
                            THEN 1 ELSE 0 END) AS BIGINT) AS sw_tok
            FROM documents d, UNNEST(STRING_SPLIT(d.text,' ')) AS u(tok)
            GROUP BY d.source)
SELECT boiler.source,
       CAST(boiler.all_tok AS BIGINT) AS n_tokens,
       FLOOR(LEAST(boiler.boiler_tok + sw.sw_tok, boiler.all_tok)
             * 1000000.0 / boiler.all_tok) / 1000000.0
         AS maskable_share_ub
FROM boiler JOIN sw ON sw.source = boiler.source
ORDER BY boiler.source
""",
   engine_sql="""
WITH t AS (SELECT doc_id, source, SPLIT(text,' ') AS toks
           FROM documents),
     ch AS (SELECT doc_id, source,
                   LEAST(i * 8 + 8, SIZE(toks)) - i * 8 AS clen,
                   MD5(ARRAY_JOIN(SLICE(toks, i * 8 + 1,
                     LEAST(i * 8 + 8, SIZE(toks)) - i * 8), ' ')) AS h
            FROM t LATERAL VIEW EXPLODE(SEQUENCE(
                   0, CAST(CEIL(SIZE(toks) / 8.0) AS INT) - 1)) g AS i),
     freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
     boiler AS (SELECT ch.source, SUM(ch.clen) AS all_tok,
                       SUM(CASE WHEN freq.nd >= 3 THEN ch.clen
                           ELSE 0 END) AS boiler_tok
                FROM ch JOIN freq ON freq.h = ch.h GROUP BY ch.source),
     sw AS (SELECT source,
                   CAST(SUM(CASE WHEN tok IN ('a','the')
                            THEN 1 ELSE 0 END) AS BIGINT) AS sw_tok
            FROM (SELECT source, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM documents) x
            GROUP BY source)
SELECT boiler.source,
       CAST(boiler.all_tok AS BIGINT) AS n_tokens,
       FLOOR(LEAST(boiler.boiler_tok + sw.sw_tok, boiler.all_tok)
             * 1000000.0 / boiler.all_tok) / 1000000.0
         AS maskable_share_ub
FROM boiler JOIN sw ON sw.source = boiler.source
ORDER BY boiler.source
""")

# ---------------------------------------------------------------- B632
# Tokenizer-fertility proxy per language: bytes per whitespace token
# and characters per token — the "how expensive is this language to
# tokenize" planning metric.
_q("q590_tokenizer_fertility",
   oracle="""
WITH d AS (SELECT lang,
                  CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
                  CAST(SUM(LEN(STRING_SPLIT(text,' '))) AS BIGINT)
                    AS toks
           FROM documents GROUP BY lang)
SELECT lang, toks AS n_tokens,
       FLOOR(chars * 10000.0 / toks) / 10000.0 AS chars_per_token
FROM d ORDER BY lang
""",
   engine_sql="""
WITH d AS (SELECT lang,
                  CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
                  CAST(SUM(SIZE(SPLIT(text, ' ')))  AS BIGINT) AS toks
           FROM documents GROUP BY lang)
SELECT lang, toks AS n_tokens,
       FLOOR(chars * 10000.0 / toks) / 10000.0 AS chars_per_token
FROM d ORDER BY lang
""")


# ---------------------------------------------------------------- B633
# CUPED variance reduction: 1995 spend as the pre-period covariate
# for the 1996 metric — θ = cov/var(pre), variance-reduction share
# from exact k$ moments (the experimentation-platform adjustment).
_q("q591_cuped", """
WITH y AS (SELECT o_custkey,
                  SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1995
                      THEN CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                           AS BIGINT) / 100) AS BIGINT)
                      ELSE 0 END) AS pre,
                  SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1996
                      THEN CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                           AS BIGINT) / 100) AS BIGINT)
                      ELSE 0 END) AS post
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
           GROUP BY o_custkey),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(pre) AS sx, SUM(pre * pre) AS sxx,
                  SUM(post) AS sy, SUM(post * post) AS syy,
                  SUM(pre * post) AS sxy
           FROM y),
     c AS (SELECT n,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    AS cov_n,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    AS varx_n,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                    AS vary_n
           FROM m)
SELECT n AS n_customers,
       FLOOR(cov_n / varx_n * 10000) / 10000.0 AS theta,
       FLOOR((cov_n * cov_n / (varx_n * vary_n)) * 1000000) / 1000000.0
         AS variance_reduction
FROM c
""")

# ---------------------------------------------------------------- B634
# Stratified matched comparison: hash arms diffed WITHIN segment ×
# spend-band strata, then precision-weighted across strata — the
# confounder-robust A/B readout.
_q("q592_stratified_lift",
   oracle="""
WITH s AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o.o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  SUM(CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment, o.o_custkey),
     g AS (SELECT seg, arm, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(v) AS sv
           FROM s GROUP BY seg, arm),
     p AS (SELECT a.seg, a.n AS n0, c.n AS n1,
                  CAST(c.sv AS DOUBLE) / c.n
                  - CAST(a.sv AS DOUBLE) / a.n AS lift
           FROM g a JOIN g c ON c.seg = a.seg
           WHERE a.arm = 0 AND c.arm = 1)
SELECT seg, n0 AS n_control, n1 AS n_treat,
       FLOOR(lift * 100) / 100.0 AS lift_dollars
FROM p ORDER BY seg
""",
   engine_sql="""
WITH s AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o.o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  SUM(CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment, o.o_custkey),
     g AS (SELECT seg, arm, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(v) AS sv
           FROM s GROUP BY seg, arm),
     p AS (SELECT a.seg, a.n AS n0, c.n AS n1,
                  CAST(c.sv AS DOUBLE) / c.n
                  - CAST(a.sv AS DOUBLE) / a.n AS lift
           FROM g a JOIN g c ON c.seg = a.seg
           WHERE a.arm = 0 AND c.arm = 1)
SELECT seg, n0 AS n_control, n1 AS n_treat,
       FLOOR(lift * 100) / 100.0 AS lift_dollars
FROM p ORDER BY seg
""")

# ---------------------------------------------------------------- B635
# Winsorized A/B lift: per-arm means after clipping at the POOLED
# p5/p95 (DISC cutoffs) — the heavy-tail-robust lift estimate.
_q("q593_winsorized_lift",
   oracle="""
WITH s AS (SELECT o_custkey,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
     cut AS (SELECT PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY c)
               AS lo,
                    PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY c)
               AS hi
             FROM s),
     w AS (SELECT s.arm,
                  LEAST(GREATEST(s.c, cut.lo), cut.hi) AS wc
           FROM s CROSS JOIN cut),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(wc) AS sv
           FROM w GROUP BY arm)
SELECT (SELECT n FROM g WHERE arm = 0) AS n_control,
       (SELECT n FROM g WHERE arm = 1) AS n_treat,
       FLOOR(((SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 1)
              - (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 0))
             / 100.0 * 100) / 100.0 AS winsorized_lift_dollars
""",
   engine_sql="""
WITH s AS (SELECT o_custkey,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
     cut AS (SELECT PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY c)
               AS lo,
                    PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY c)
               AS hi
             FROM s),
     w AS (SELECT s.arm,
                  LEAST(GREATEST(s.c, cut.lo), cut.hi) AS wc
           FROM s CROSS JOIN cut),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(wc) AS sv
           FROM w GROUP BY arm)
SELECT (SELECT n FROM g WHERE arm = 0) AS n_control,
       (SELECT n FROM g WHERE arm = 1) AS n_treat,
       FLOOR(((SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 1)
              - (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 0))
             / 100.0 * 100) / 100.0 AS winsorized_lift_dollars
""")

# ---------------------------------------------------------------- B636
# Novelty-effect detector: weekly lift trajectory + OLS slope of lift
# on week index — does the treatment effect decay (the launch-effect
# diagnostic), exact integer weekly aggregates.
_q("q594_novelty_effect",
   oracle="""
WITH s AS (SELECT CAST(FLOOR((EXTRACT(YEAR FROM o_orderdate) - 1995)
                             * 12 + EXTRACT(MONTH FROM o_orderdate) - 1)
                       AS BIGINT) AS w,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
     g AS (SELECT w, arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS sv
           FROM s GROUP BY w, arm),
     lf AS (SELECT a.w,
                   CAST(c.sv AS DOUBLE) / c.n
                   - CAST(a.sv AS DOUBLE) / a.n AS lift
            FROM g a JOIN g c ON c.w = a.w
            WHERE a.arm = 0 AND c.arm = 1),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(w) AS sx,
                  SUM(lift) AS sy, SUM(w * lift) AS sxy,
                  SUM(w * w) AS sxx
           FROM lf)
SELECT CAST(n AS BIGINT) AS n_periods,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000)
         / 10000.0 AS lift_slope_per_period
FROM m
""",
   engine_sql="""
WITH s AS (SELECT CAST(FLOOR((EXTRACT(YEAR FROM o_orderdate) - 1995)
                             * 12 + EXTRACT(MONTH FROM o_orderdate) - 1)
                       AS BIGINT) AS w,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
     g AS (SELECT w, arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS sv
           FROM s GROUP BY w, arm),
     lf AS (SELECT a.w,
                   CAST(c.sv AS DOUBLE) / c.n
                   - CAST(a.sv AS DOUBLE) / a.n AS lift
            FROM g a JOIN g c ON c.w = a.w
            WHERE a.arm = 0 AND c.arm = 1),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(w) AS sx,
                  SUM(lift) AS sy, SUM(w * lift) AS sxy,
                  SUM(w * w) AS sxx
           FROM lf)
SELECT CAST(n AS BIGINT) AS n_periods,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000)
         / 10000.0 AS lift_slope_per_period
FROM m
""")

# ---------------------------------------------------------------- B637
# Heterogeneous-treatment-effect report: per-segment lift sign vs the
# overall lift sign, interaction flag where they disagree — the HTE
# screen before shipping a "works on average" change.
_q("q595_hte_report",
   oracle="""
WITH s AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o.o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT seg, arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS sv
           FROM s GROUP BY seg, arm),
     seg_l AS (SELECT a.seg,
                      CAST(c.sv AS DOUBLE) / c.n
                      - CAST(a.sv AS DOUBLE) / a.n AS lift
               FROM g a JOIN g c ON c.seg = a.seg
               WHERE a.arm = 0 AND c.arm = 1),
     tot AS (SELECT SUM(CASE WHEN arm = 1 THEN sv ELSE 0 END) * 1.0
                    / SUM(CASE WHEN arm = 1 THEN n ELSE 0 END)
                    - SUM(CASE WHEN arm = 0 THEN sv ELSE 0 END) * 1.0
                    / SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS lift
             FROM g)
SELECT seg_l.seg, FLOOR(seg_l.lift * 100) / 100.0 AS seg_lift,
       FLOOR(tot.lift * 100) / 100.0 AS overall_lift,
       CAST(CASE WHEN SIGN(seg_l.lift) <> SIGN(tot.lift)
                 THEN 1 ELSE 0 END AS BIGINT) AS interaction_flag
FROM seg_l CROSS JOIN tot ORDER BY seg_l.seg
""",
   engine_sql="""
WITH s AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o.o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT seg, arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS sv
           FROM s GROUP BY seg, arm),
     seg_l AS (SELECT a.seg,
                      CAST(c.sv AS DOUBLE) / c.n
                      - CAST(a.sv AS DOUBLE) / a.n AS lift
               FROM g a JOIN g c ON c.seg = a.seg
               WHERE a.arm = 0 AND c.arm = 1),
     tot AS (SELECT SUM(CASE WHEN arm = 1 THEN CAST(sv AS DOUBLE)
                        ELSE 0 END)
                    / SUM(CASE WHEN arm = 1 THEN n ELSE 0 END)
                    - SUM(CASE WHEN arm = 0 THEN CAST(sv AS DOUBLE)
                          ELSE 0 END)
                    / SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS lift
             FROM g)
SELECT seg_l.seg, FLOOR(seg_l.lift * 100) / 100.0 AS seg_lift,
       FLOOR(tot.lift * 100) / 100.0 AS overall_lift,
       CAST(CASE WHEN SIGN(seg_l.lift) <> SIGN(tot.lift)
                 THEN 1 ELSE 0 END AS BIGINT) AS interaction_flag
FROM seg_l CROSS JOIN tot ORDER BY seg_l.seg
""")

# ---------------------------------------------------------------- B638
# Enrollment progress monitor: cumulative per-arm n by month vs the
# q506-style required n — percent-complete trajectory, exact counts.
_q("q596_enrollment_monitor",
   oracle="""
WITH s AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mon,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm
           FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
     m AS (SELECT mon, arm, CAST(COUNT(*) AS BIGINT) AS n
           FROM s GROUP BY mon, arm),
     c AS (SELECT mon, arm, n,
                  SUM(n) OVER (PARTITION BY arm ORDER BY mon) AS cum
           FROM m)
SELECT mon, CAST(arm AS BIGINT) AS arm, CAST(cum AS BIGINT) AS cum_n,
       FLOOR(LEAST(cum * 1000000.0 / 5000, 1000000.0)) / 10000.0
         AS pct_of_required
FROM c ORDER BY mon, arm
""",
   engine_sql="""
WITH s AS (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mon,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm
           FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
     m AS (SELECT mon, arm, CAST(COUNT(*) AS BIGINT) AS n
           FROM s GROUP BY mon, arm),
     c AS (SELECT mon, arm, n,
                  SUM(n) OVER (PARTITION BY arm ORDER BY mon) AS cum
           FROM m)
SELECT mon, CAST(arm AS BIGINT) AS arm, CAST(cum AS BIGINT) AS cum_n,
       FLOOR(LEAST(cum * 1000000.0 / 5000, 1000000.0)) / 10000.0
         AS pct_of_required
FROM c ORDER BY mon, arm
""")

# ---------------------------------------------------------------- B639
# Minimum detectable effect at the CURRENT sample size: the q506
# power formula inverted — what lift this experiment could actually
# see at α=.05, power .8.
_q("q597_mde", """
WITH base AS (SELECT CAST(SUM(CASE WHEN o_totalprice > 200000
                              THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*) AS p0,
                     CAST(COUNT(*) AS DOUBLE) / 2 AS n_arm
              FROM orders)
SELECT CAST(FLOOR(n_arm) AS BIGINT) AS n_per_arm,
       FLOOR(p0 * 1000000) / 1000000.0 AS baseline_rate,
       FLOOR((1.959964 + 0.841621)
             * SQRT(2 * p0 * (1 - p0) / n_arm) * 1000000) / 1000000.0
         AS mde_abs
FROM base
""")

# ---------------------------------------------------------------- B640
# Experiment health panel: SRM chi-square, per-segment exposure
# imbalance, and the pre-period A/A difference in one report — the
# gates read BEFORE the metric.
_q("q598_experiment_health",
   oracle="""
WITH s AS (SELECT o.o_custkey, c.c_mktsegment AS seg,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o.o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT seg,
                  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n0,
                  CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n1,
                  SUM(CASE WHEN arm = 0 AND yr = 1994 THEN v
                      ELSE 0 END) AS pre0,
                  SUM(CASE WHEN arm = 1 AND yr = 1994 THEN v
                      ELSE 0 END) AS pre1
           FROM s GROUP BY seg)
SELECT seg, CAST(n0 AS BIGINT) AS n_control,
       CAST(n1 AS BIGINT) AS n_treat,
       FLOOR((POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
              + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2))
             * 10000) / 10000.0 AS srm_chi2,
       CAST(pre1 - pre0 AS BIGINT) AS preperiod_diff_dollars
FROM g ORDER BY seg
""",
   engine_sql="""
WITH s AS (SELECT o.o_custkey, c.c_mktsegment AS seg,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o.o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  EXTRACT(YEAR FROM o.o_orderdate) AS yr,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT seg,
                  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n0,
                  CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS n1,
                  SUM(CASE WHEN arm = 0 AND yr = 1994 THEN v
                      ELSE 0 END) AS pre0,
                  SUM(CASE WHEN arm = 1 AND yr = 1994 THEN v
                      ELSE 0 END) AS pre1
           FROM s GROUP BY seg)
SELECT seg, CAST(n0 AS BIGINT) AS n_control,
       CAST(n1 AS BIGINT) AS n_treat,
       FLOOR((POWER(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
              + POWER(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2))
             * 10000) / 10000.0 AS srm_chi2,
       CAST(pre1 - pre0 AS BIGINT) AS preperiod_diff_dollars
FROM g ORDER BY seg
""")

# ---------------------------------------------------------------- B641
# Guardrail non-inferiority check: error rate and p95 value per arm,
# flags when treatment degrades beyond the declared margins — the
# ship/no-ship guardrail row.
_q("q599_guardrail_check",
   oracle="""
WITH s AS (SELECT CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(user_id AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
           FROM events),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS errs,
                  CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY v)
                       AS BIGINT) AS p95v
           FROM s GROUP BY arm)
SELECT (SELECT FLOOR(errs * 1000000.0 / n) / 1000000.0 FROM g
        WHERE arm = 0) AS err_rate_control,
       (SELECT FLOOR(errs * 1000000.0 / n) / 1000000.0 FROM g
        WHERE arm = 1) AS err_rate_treat,
       (SELECT p95v FROM g WHERE arm = 0) AS p95_control,
       (SELECT p95v FROM g WHERE arm = 1) AS p95_treat,
       CAST(CASE WHEN (SELECT errs * 1.0 / n FROM g WHERE arm = 1)
                      > (SELECT errs * 1.0 / n FROM g WHERE arm = 0)
                        + 0.01
                 THEN 1 ELSE 0 END AS BIGINT) AS error_guardrail_breach
""",
   engine_sql="""
WITH s AS (SELECT CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(user_id AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
           FROM events),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS errs,
                  CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY v)
                       AS BIGINT) AS p95v
           FROM s GROUP BY arm)
SELECT (SELECT FLOOR(errs * 1000000.0 / n) / 1000000.0 FROM g
        WHERE arm = 0) AS err_rate_control,
       (SELECT FLOOR(errs * 1000000.0 / n) / 1000000.0 FROM g
        WHERE arm = 1) AS err_rate_treat,
       (SELECT p95v FROM g WHERE arm = 0) AS p95_control,
       (SELECT p95v FROM g WHERE arm = 1) AS p95_treat,
       CAST(CASE WHEN (SELECT CAST(errs AS DOUBLE) / n FROM g
                       WHERE arm = 1)
                      > (SELECT CAST(errs AS DOUBLE) / n FROM g
                         WHERE arm = 0) + 0.01
                 THEN 1 ELSE 0 END AS BIGINT) AS error_guardrail_breach
""")

# ---------------------------------------------------------------- B642
# Experiment readout capstone: arms, n, exact means, absolute and
# relative lift, Welch z and a significance flag — the one table an
# experimentation platform ultimately renders.
_q("q600_experiment_readout",
   oracle="""
WITH s AS (SELECT CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(o_custkey AS VARCHAR) || ':arm'), 1, 8)
                       AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(v) AS sv, SUM(v * v) AS qv
           FROM s GROUP BY arm),
     w AS (SELECT
             (SELECT n FROM g WHERE arm = 0) AS n0,
             (SELECT n FROM g WHERE arm = 1) AS n1,
             (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 0) AS m0,
             (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 1) AS m1,
             (SELECT (CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)
                     / (n - 1) / n FROM g WHERE arm = 0) AS se0,
             (SELECT (CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)
                     / (n - 1) / n FROM g WHERE arm = 1) AS se1)
SELECT n0 AS n_control, n1 AS n_treat,
       FLOOR(m0 * 100) / 100.0 AS mean_control,
       FLOOR(m1 * 100) / 100.0 AS mean_treat,
       FLOOR((m1 - m0) * 100) / 100.0 AS abs_lift,
       FLOOR((m1 - m0) / m0 * 1000000) / 1000000.0 AS rel_lift,
       FLOOR((m1 - m0) / SQRT(se0 + se1) * 10000) / 10000.0 AS z,
       CAST(CASE WHEN ABS((m1 - m0) / SQRT(se0 + se1)) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM w
""",
   engine_sql="""
WITH s AS (SELECT CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(o_custkey AS STRING) || ':arm'), 1, 8),
                       16, 10) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END
                    AS arm,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders),
     g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(v) AS sv, SUM(v * v) AS qv
           FROM s GROUP BY arm),
     w AS (SELECT
             (SELECT n FROM g WHERE arm = 0) AS n0,
             (SELECT n FROM g WHERE arm = 1) AS n1,
             (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 0) AS m0,
             (SELECT CAST(sv AS DOUBLE) / n FROM g WHERE arm = 1) AS m1,
             (SELECT (CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)
                     / (n - 1) / n FROM g WHERE arm = 0) AS se0,
             (SELECT (CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)
                     / (n - 1) / n FROM g WHERE arm = 1) AS se1)
SELECT n0 AS n_control, n1 AS n_treat,
       FLOOR(m0 * 100) / 100.0 AS mean_control,
       FLOOR(m1 * 100) / 100.0 AS mean_treat,
       FLOOR((m1 - m0) * 100) / 100.0 AS abs_lift,
       FLOOR((m1 - m0) / m0 * 1000000) / 1000000.0 AS rel_lift,
       FLOOR((m1 - m0) / SQRT(se0 + se1) * 10000) / 10000.0 AS z,
       CAST(CASE WHEN ABS((m1 - m0) / SQRT(se0 + se1)) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM w
""")


# ---------------------------------------------------------------- B643
# Log-line parse round-trip: combined-format lines CONSTRUCTED from
# typed columns, then re-parsed with one regexp — parse(format(x)) = x
# pins the extraction groups (the ingestion-pipeline property).
_q("q601_log_parse_roundtrip", """
WITH src AS (SELECT event_id, user_id, event_type,
                    CAST(ROUND(value * 100) AS BIGINT) AS cents
             FROM events WHERE event_id < 300),
     line AS (SELECT event_id,
                     'uid=' || CAST(user_id AS STRING) || ' act="'
                     || event_type || '" val=' || CAST(cents AS STRING)
                       AS log_line
              FROM src),
     parsed AS (SELECT event_id,
                       CAST(REGEXP_EXTRACT(log_line,
                            'uid=([0-9]+) act="([a-z]*)" val=(-?[0-9]+)',
                            1) AS BIGINT) AS p_uid,
                       REGEXP_EXTRACT(log_line,
                            'uid=([0-9]+) act="([a-z]*)" val=(-?[0-9]+)',
                            2) AS p_act,
                       CAST(REGEXP_EXTRACT(log_line,
                            'uid=([0-9]+) act="([a-z]*)" val=(-?[0-9]+)',
                            3) AS BIGINT) AS p_val
                FROM line)
SELECT src.event_id,
       CAST(CASE WHEN src.user_id = parsed.p_uid
                  AND src.event_type = parsed.p_act
                  AND src.cents = parsed.p_val
                 THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok,
       parsed.p_act AS parsed_action
FROM src JOIN parsed ON parsed.event_id = src.event_id
ORDER BY src.event_id
""")

# ---------------------------------------------------------------- B644
# IPv4 dotted-quad arithmetic: synthetic addresses → 32-bit ints →
# /16 CIDR containment counts — the networking join done with integer
# math (neither engine needs an inet type).
_q("q602_ipv4_cidr", """
WITH ip AS (SELECT c_custkey AS id,
                   CONCAT('10.', CAST(c_custkey % 8 AS STRING), '.',
                          CAST((c_custkey * 7) % 256 AS STRING), '.',
                          CAST((c_custkey * 13) % 256 AS STRING))
                     AS addr
            FROM customer WHERE c_custkey <= 1000),
     n AS (SELECT id, addr,
                  CAST(SPLIT_PART(addr, '.', 1) AS BIGINT) * 16777216
                  + CAST(SPLIT_PART(addr, '.', 2) AS BIGINT) * 65536
                  + CAST(SPLIT_PART(addr, '.', 3) AS BIGINT) * 256
                  + CAST(SPLIT_PART(addr, '.', 4) AS BIGINT) AS ip_int
           FROM ip),
     blk AS (SELECT id, addr, ip_int,
                    ip_int - (ip_int % 65536) AS cidr16_base
             FROM n)
SELECT cidr16_base, CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(MIN(ip_int) AS BIGINT) AS lo_ip,
       CAST(MAX(ip_int) AS BIGINT) AS hi_ip
FROM blk GROUP BY cidr16_base
HAVING COUNT(*) >= 2 ORDER BY cidr16_base
""")

# ---------------------------------------------------------------- B645
# URL canonicalization: strip utm_* tracking params and fragments,
# lowercase the host — dedup counts before vs after (the crawl-dedup
# normalizer).
_q("q603_url_canonicalization",
   oracle="""
WITH u AS (SELECT doc_id,
                  CONCAT('https://Site', CAST(doc_id % 7 AS STRING),
                         '.example.com/p/', CAST(doc_id % 50 AS STRING),
                         CASE WHEN doc_id % 3 = 0
                              THEN '?utm_source=x&utm_campaign=y'
                              WHEN doc_id % 3 = 1 THEN '?ref=keep'
                              ELSE '' END,
                         CASE WHEN doc_id % 2 = 0 THEN '#frag'
                              ELSE '' END) AS url
           FROM documents),
     c AS (SELECT doc_id, url,
                  LOWER(REGEXP_REPLACE(
                    REGEXP_REPLACE(
                      REGEXP_REPLACE(url, '#.*$', '', 'g'),
                      '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
                    '\\\\?$', '')) AS canon
           FROM u)
SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS distinct_raw,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS distinct_canonical,
       CAST(COUNT(DISTINCT url) - COUNT(DISTINCT canon) AS BIGINT)
         AS collapsed
FROM c
""",
   engine_sql="""
WITH u AS (SELECT doc_id,
                  CONCAT('https://Site', CAST(doc_id % 7 AS STRING),
                         '.example.com/p/', CAST(doc_id % 50 AS STRING),
                         CASE WHEN doc_id % 3 = 0
                              THEN '?utm_source=x&utm_campaign=y'
                              WHEN doc_id % 3 = 1 THEN '?ref=keep'
                              ELSE '' END,
                         CASE WHEN doc_id % 2 = 0 THEN '#frag'
                              ELSE '' END) AS url
           FROM documents),
     c AS (SELECT doc_id, url,
                  LOWER(REGEXP_REPLACE(
                    REGEXP_REPLACE(
                      REGEXP_REPLACE(url, '#.*$', ''),
                      '[?&]utm_[a-z]+=[^&#]*', ''),
                    '\\\\?$', '')) AS canon
           FROM u)
SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS distinct_raw,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS distinct_canonical,
       CAST(COUNT(DISTINCT url) - COUNT(DISTINCT canon) AS BIGINT)
         AS collapsed
FROM c
""")

# ---------------------------------------------------------------- B646
# Short-ID encoding: order keys rendered base-36 — engine
# CONV(…, 10, 36) vs oracle TO_BASE, hash-compared digit for digit.
_q("q604_base36_ids",
   oracle="""
WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 2000)
SELECT o_orderkey,
       LOWER(TO_BASE(o_orderkey, 36)) AS short_id,
       CAST(LENGTH(TO_BASE(o_orderkey, 36)) AS BIGINT) AS id_len
FROM k ORDER BY o_orderkey
""",
   engine_sql="""
WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 2000)
SELECT o_orderkey,
       LOWER(CONV(CAST(o_orderkey AS STRING), 10, 36)) AS short_id,
       CAST(LENGTH(CONV(CAST(o_orderkey AS STRING), 10, 36)) AS BIGINT)
         AS id_len
FROM k ORDER BY o_orderkey
""")

# ---------------------------------------------------------------- B647
# k-anonymity audit: quasi-identifier groups (segment × nation ×
# balance band) smaller than k=5 — the privacy-release gate, with the
# violating-group inventory.
_q("q605_k_anonymity", """
WITH qi AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
                   CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band
            FROM customer),
     g AS (SELECT seg, nat, bal_band, CAST(COUNT(*) AS BIGINT) AS n
           FROM qi GROUP BY seg, nat, bal_band)
-- release-gate audit row, never empty: the violating-group inventory
-- legitimately goes to zero rows as data grows (at sf1 every
-- quasi-identifier group clears k=5), which the oracle gate cannot
-- verify; the audit aggregate carries the same decision
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(5 AS BIGINT) AS k
FROM g
""")

# ---------------------------------------------------------------- B648
# l-diversity companion: of the k-anonymous groups, how many carry
# fewer than l=2 distinct sensitive values (order priority) — the
# second privacy gate.
_q("q606_l_diversity", """
WITH j AS (SELECT c.c_mktsegment AS seg, c.c_nationkey AS nat,
                  CAST(FLOOR(c.c_acctbal / 2000.0) AS BIGINT) AS bal_band,
                  o.o_orderpriority AS sens
           FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey),
     g AS (SELECT seg, nat, bal_band,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_div
           FROM j GROUP BY seg, nat, bal_band)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS k_anonymous,
       CAST(SUM(CASE WHEN n >= 5 AND l_div < 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS l_diversity_violations
FROM g
""")

# ---------------------------------------------------------------- B649
# DP noise calibration table: Laplace scale b = Δ/ε for ε ∈
# {0.1, 0.5, 1, 2} at the count query's sensitivity 1, with the
# inverse-CDF noise magnitude at the 95th percentile — the
# privacy-engineering sizing arithmetic (deterministic, no sampling).
_q("q607_dp_calibration",
   oracle="""
WITH eps AS (SELECT UNNEST([0.1, 0.5, 1.0, 2.0]) AS e)
SELECT e AS epsilon,
       FLOOR(1.0 / e * 10000) / 10000.0 AS laplace_scale,
       FLOOR(-(1.0 / e) * LN(2 * (1 - 0.95)) * 10000) / 10000.0
         AS noise_p95
FROM eps ORDER BY epsilon
""",
   engine_sql="""
WITH eps AS (SELECT EXPLODE(ARRAY(0.1D, 0.5D, 1.0D, 2.0D)) AS e)
SELECT e AS epsilon,
       FLOOR(1.0 / e * 10000) / 10000.0 AS laplace_scale,
       FLOOR(-(1.0 / e) * LN(2 * (1 - 0.95)) * 10000) / 10000.0
         AS noise_p95
FROM eps ORDER BY epsilon
""")

# ---------------------------------------------------------------- B650
# User-agent family extraction: constructed UA strings classified by
# regexp family rules with version capture — the access-log
# enrichment shape.
_q("q608_ua_parse", """
WITH ua AS (SELECT event_id,
                   CASE WHEN event_id % 3 = 0 THEN
                     CONCAT('Mozilla/5.0 Chrome/',
                            CAST(90 + event_id % 10 AS STRING), '.0')
                        WHEN event_id % 3 = 1 THEN
                     CONCAT('Mozilla/5.0 Firefox/',
                            CAST(100 + event_id % 10 AS STRING), '.0')
                        ELSE
                     CONCAT('curl/', CAST(7 + event_id % 2 AS STRING),
                            '.88') END AS agent
            FROM events WHERE event_id < 400),
     p AS (SELECT event_id, agent,
                  CASE WHEN agent LIKE '%Chrome/%' THEN 'chrome'
                       WHEN agent LIKE '%Firefox/%' THEN 'firefox'
                       WHEN agent LIKE 'curl/%' THEN 'curl'
                       ELSE 'other' END AS family,
                  CAST(REGEXP_EXTRACT(agent, '/([0-9]+)', 1) AS BIGINT)
                    AS major
           FROM ua)
SELECT family, major, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY family, major ORDER BY family, major
""")

# ---------------------------------------------------------------- B651
# Nested-JSON flatten: two-level constructed JSON exploded to typed
# columns via schema'd parsing — the semi-structured landing-zone
# flatten in one pass.
_q("q609_nested_json_flatten",
   oracle="""
WITH j AS (SELECT event_id,
                  CASE WHEN user_id IS NOT NULL AND event_type IS NOT NULL
                            AND value IS NOT NULL
                  THEN CONCAT('{"meta":{"uid":', CAST(user_id AS STRING),
                         ',"kind":"', event_type, '"},"vals":[',
                         CAST(CAST(ROUND(value * 100) AS BIGINT)
                              AS STRING), ',7]}') END AS payload
           FROM events WHERE event_id < 300)
SELECT event_id,
       CAST(json_extract(payload, '$.meta.uid') AS BIGINT) AS uid,
       json_extract_string(payload, '$.meta.kind') AS kind,
       CAST(json_extract(payload, '$.vals[0]') AS BIGINT) AS v0,
       CAST(json_extract(payload, '$.vals[1]') AS BIGINT) AS v1
FROM j ORDER BY event_id
""",
   engine_sql="""
WITH j AS (SELECT event_id,
                  CASE WHEN user_id IS NOT NULL AND event_type IS NOT NULL
                            AND value IS NOT NULL
                  THEN CONCAT('{"meta":{"uid":', CAST(user_id AS STRING),
                         ',"kind":"', event_type, '"},"vals":[',
                         CAST(CAST(ROUND(value * 100) AS BIGINT)
                              AS STRING), ',7]}') END AS payload
           FROM events WHERE event_id < 300),
     p AS (SELECT event_id,
                  FROM_JSON(payload,
                    'meta STRUCT<uid: BIGINT, kind: STRING>, vals ARRAY<BIGINT>')
                    AS js
           FROM j)
SELECT event_id,
       js.meta.uid AS uid, js.meta.kind AS kind,
       js.vals[0] AS v0, js.vals[1] AS v1
FROM p ORDER BY event_id
""")

# ---------------------------------------------------------------- B652
# DST detection per IANA zone: UTC offsets in January vs July derived
# from CONVERT_TZ round-trips — zones whose offsets differ observe
# daylight saving (both engines share the IANA database).
_q("q610_dst_detection",
   oracle="""
WITH z AS (SELECT UNNEST(['America/New_York', 'Europe/Berlin',
                          'Asia/Tokyo', 'Australia/Sydney',
                          'UTC']) AS zone),
     o AS (SELECT zone,
                  CAST((EPOCH(TIMESTAMP '2024-01-15 12:00:00')
                        - EPOCH(TIMEZONE(zone,
                           TIMESTAMP '2024-01-15 12:00:00'))) / 3600
                       AS BIGINT) AS off_jan,
                  CAST((EPOCH(TIMESTAMP '2024-07-15 12:00:00')
                        - EPOCH(TIMEZONE(zone,
                           TIMESTAMP '2024-07-15 12:00:00'))) / 3600
                       AS BIGINT) AS off_jul
           FROM z)
SELECT zone, off_jan AS utc_offset_jan_h, off_jul AS utc_offset_jul_h,
       CAST(CASE WHEN off_jan <> off_jul THEN 1 ELSE 0 END AS BIGINT)
         AS observes_dst
FROM o ORDER BY zone
""",
   engine_sql="""
WITH z AS (SELECT EXPLODE(ARRAY('America/New_York', 'Europe/Berlin',
                                'Asia/Tokyo', 'Australia/Sydney',
                                'UTC')) AS zone),
     o AS (SELECT zone,
                  CAST((UNIX_MICROS(CAST(CONVERT_TIMEZONE('UTC', zone,
                         TIMESTAMP_NTZ'2024-01-15 12:00:00')
                         AS TIMESTAMP))
                        - UNIX_MICROS(TIMESTAMP'2024-01-15 12:00:00'))
                       / 3600000000 AS BIGINT) AS off_jan,
                  CAST((UNIX_MICROS(CAST(CONVERT_TIMEZONE('UTC', zone,
                         TIMESTAMP_NTZ'2024-07-15 12:00:00')
                         AS TIMESTAMP))
                        - UNIX_MICROS(TIMESTAMP'2024-07-15 12:00:00'))
                       / 3600000000 AS BIGINT) AS off_jul
           FROM z)
SELECT zone, off_jan AS utc_offset_jan_h, off_jul AS utc_offset_jul_h,
       CAST(CASE WHEN off_jan <> off_jul THEN 1 ELSE 0 END AS BIGINT)
         AS observes_dst
FROM o ORDER BY zone
""")


# ---------------------------------------------------------------- B653
# Image aspect-ratio bucketing: hash-derived (width, height) metadata
# classified portrait/landscape/square with AR-band counts — the
# vision-batch geometry rollup (resize-bucket planning input).
_q("q611_aspect_buckets",
   oracle="""
WITH m AS (SELECT doc_id,
                  256 + CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                       || ':w'), 1, 3) AS BIGINT) % 1792 AS w,
                  256 + CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                       || ':h'), 1, 3) AS BIGINT) % 1792 AS h
           FROM documents),
     c AS (SELECT doc_id, w, h,
                  CASE WHEN w * 10 > h * 12 THEN 'landscape'
                       WHEN h * 10 > w * 12 THEN 'portrait'
                       ELSE 'square-ish' END AS orient,
                  CAST(FLOOR(w * 4.0 / h) AS BIGINT) AS ar_band
           FROM m)
SELECT orient, ar_band, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(h) AS BIGINT) AS max_h
FROM c GROUP BY orient, ar_band ORDER BY orient, ar_band
""",
   engine_sql="""
WITH m AS (SELECT doc_id,
                  256 + CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                       || ':w'), 1, 3), 16, 10) AS BIGINT) % 1792 AS w,
                  256 + CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                       || ':h'), 1, 3), 16, 10) AS BIGINT) % 1792 AS h
           FROM documents),
     c AS (SELECT doc_id, w, h,
                  CASE WHEN w * 10 > h * 12 THEN 'landscape'
                       WHEN h * 10 > w * 12 THEN 'portrait'
                       ELSE 'square-ish' END AS orient,
                  CAST(FLOOR(w * 4.0 / h) AS BIGINT) AS ar_band
           FROM m)
SELECT orient, ar_band, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(h) AS BIGINT) AS max_h
FROM c GROUP BY orient, ar_band ORDER BY orient, ar_band
""")

# ---------------------------------------------------------------- B654
# Audio resample planning: per-clip 44.1 kHz → 16 kHz output sample
# counts (exact integer scaling) plus padding to 400-sample windows —
# the preprocessing batch-shape calculator.
_q("q612_resample_plan", """
WITH a AS (SELECT doc_id,
                  CAST(n_chars AS BIGINT) * 441 AS src_samples
           FROM documents),
     p AS (SELECT doc_id, src_samples,
                  CAST(FLOOR(src_samples * 16000.0 / 44100) AS BIGINT)
                    AS dst_samples
           FROM a)
SELECT doc_id, src_samples, dst_samples,
       CAST(CEIL(dst_samples / 400.0) * 400 - dst_samples AS BIGINT)
         AS pad_samples,
       CAST(CEIL(dst_samples / 400.0) AS BIGINT) AS n_windows
FROM p ORDER BY doc_id
""")

# ---------------------------------------------------------------- B655
# Video frame-sampling plan: clip durations → sample timestamps every
# 2 s capped at 8 frames (sequence explode) — the decode-work manifest
# a frame-extraction stage consumes.
_q("q613_frame_sampling",
   oracle="""
WITH v AS (SELECT doc_id,
                  CAST(n_chars AS BIGINT) % 30 + 2 AS dur_s
           FROM documents WHERE doc_id < 200),
     f AS (SELECT v.doc_id, v.dur_s, g.i AS frame_idx,
                  g.i * 2 AS ts_s
           FROM v, UNNEST(GENERATE_SERIES(0,
                   LEAST(CAST((v.dur_s - 1) // 2 AS BIGINT), 7))) AS g(i))
SELECT doc_id, CAST(dur_s AS BIGINT) AS duration_s,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(ts_s AS BIGINT) AS sample_at_s
FROM f ORDER BY doc_id, frame_idx
""",
   engine_sql="""
WITH v AS (SELECT doc_id,
                  CAST(n_chars AS BIGINT) % 30 + 2 AS dur_s
           FROM documents WHERE doc_id < 200),
     f AS (SELECT v.doc_id, v.dur_s, i AS frame_idx, i * 2 AS ts_s
           FROM v LATERAL VIEW EXPLODE(SEQUENCE(0,
                  CAST(LEAST((v.dur_s - 1) DIV 2, 7) AS INT))) g AS i)
SELECT doc_id, CAST(dur_s AS BIGINT) AS duration_s,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(ts_s AS BIGINT) AS sample_at_s
FROM f ORDER BY doc_id, frame_idx
""")

# ---------------------------------------------------------------- B656
# Caption–embedding pairing audit: every caption (document) should
# have its embedding row and vice versa — missing-pair counts plus
# caption-length stats for the paired set (cross-modal integrity).
_q("q614_pairing_audit", """
WITH d AS (SELECT doc_id, n_chars FROM documents),
     e AS (SELECT vec_id FROM embeddings)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_captions,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_embeddings,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.vec_id = d.doc_id))
         AS captions_missing_embedding,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e
        WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = e.vec_id))
         AS embeddings_missing_caption,
       (SELECT CAST(SUM(d.n_chars) AS BIGINT) FROM d
        JOIN e ON e.vec_id = d.doc_id) AS paired_caption_chars
""")

# ---------------------------------------------------------------- B657
# Modality-mix report per source: text tokens, hash-flagged
# image/audio attachment counts, and audio seconds — the corpus
# composition table a multimodal training plan starts from.
_q("q615_modality_mix",
   oracle="""
WITH m AS (SELECT doc_id, source,
                  CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS toks,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(doc_id AS VARCHAR) || ':img'), 1, 2)
                       AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END AS has_img,
                  CASE WHEN CAST('0x' || SUBSTR(MD5(
                       CAST(doc_id AS VARCHAR) || ':aud'), 1, 2)
                       AS BIGINT) % 8 = 0
                       THEN n_chars % 120 + 5 ELSE 0 END AS audio_s
           FROM documents)
SELECT source, CAST(SUM(toks) AS BIGINT) AS text_tokens,
       CAST(SUM(has_img) AS BIGINT) AS n_images,
       CAST(SUM(audio_s) AS BIGINT) AS audio_seconds
FROM m GROUP BY source ORDER BY source
""",
   engine_sql="""
WITH m AS (SELECT doc_id, source,
                  CAST(SIZE(SPLIT(text, ' ')) AS BIGINT) AS toks,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(doc_id AS STRING) || ':img'), 1, 2), 16, 10)
                       AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END AS has_img,
                  CASE WHEN CAST(CONV(SUBSTR(MD5(
                       CAST(doc_id AS STRING) || ':aud'), 1, 2), 16, 10)
                       AS BIGINT) % 8 = 0
                       THEN n_chars % 120 + 5 ELSE 0 END AS audio_s
           FROM documents)
SELECT source, CAST(SUM(toks) AS BIGINT) AS text_tokens,
       CAST(SUM(has_img) AS BIGINT) AS n_images,
       CAST(SUM(audio_s) AS BIGINT) AS audio_seconds
FROM m GROUP BY source ORDER BY source
""")

# ---------------------------------------------------------------- B658
# Modality-alignment score distribution: cosine between each vector
# and its offset-paired partner (i, i + n/2), bucketed 0.1 — the
# CLIP-score-style alignment histogram on exact quantized dots.
_q("q616_alignment_scores",
   oracle="""
WITH n2 AS (SELECT CAST(COUNT(*) AS BIGINT) // 2 AS half
            FROM embeddings),
     v AS (SELECT vec_id, g.i AS i,
                  CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000)
                       AS BIGINT) AS q
           FROM embeddings,
                UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)),
     d AS (SELECT a.vec_id AS i, SUM(a.q * b.q) AS dot,
                  SUM(a.q * a.q) AS na, SUM(b.q * b.q) AS nb
           FROM v a JOIN n2 ON TRUE
           JOIN v b ON b.vec_id = a.vec_id + n2.half AND b.i = a.i
           WHERE a.vec_id < n2.half
           GROUP BY a.vec_id
           HAVING SUM(a.q * a.q) > 0 AND SUM(b.q * b.q) > 0),
     s AS (SELECT i, dot / (SQRT(CAST(na AS DOUBLE))
                           * SQRT(CAST(nb AS DOUBLE))) AS cos
           FROM d)
SELECT CAST(FLOOR((cos + 1) * 5) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM s GROUP BY bucket ORDER BY bucket
""",
   engine_sql="""
WITH n2 AS (SELECT CAST(COUNT(*) AS BIGINT) DIV 2 AS half
            FROM embeddings),
     v AS (SELECT vec_id, pos AS i,
                  CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
           FROM embeddings
           LATERAL VIEW POSEXPLODE(embedding) t AS pos, val),
     d AS (SELECT a.vec_id AS i, SUM(a.q * b.q) AS dot,
                  SUM(a.q * a.q) AS na, SUM(b.q * b.q) AS nb
           FROM v a JOIN n2 ON TRUE
           JOIN v b ON b.vec_id = a.vec_id + n2.half AND b.i = a.i
           WHERE a.vec_id < n2.half
           GROUP BY a.vec_id
           HAVING SUM(a.q * a.q) > 0 AND SUM(b.q * b.q) > 0),
     s AS (SELECT i, dot / (SQRT(CAST(na AS DOUBLE))
                           * SQRT(CAST(nb AS DOUBLE))) AS cos
           FROM d)
SELECT CAST(FLOOR((cos + 1) * 5) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM s GROUP BY bucket ORDER BY bucket
""")

# ---------------------------------------------------------------- B659
# Hour-of-day load profile: event share per hour with the peak-hour
# concentration — the capacity-planning daily shape.
_q("q617_hourly_load", """
WITH h AS (SELECT EXTRACT(HOUR FROM ts) AS hr,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY EXTRACT(HOUR FROM ts)),
     t AS (SELECT SUM(n) AS nt, MAX(n) AS peak FROM h)
SELECT CAST(h.hr AS BIGINT) AS hour, h.n,
       FLOOR(h.n * 1000000.0 / t.nt) / 1000000.0 AS share,
       CAST(CASE WHEN h.n = t.peak THEN 1 ELSE 0 END AS BIGINT)
         AS is_peak
FROM h CROSS JOIN t ORDER BY hour
""")

# ---------------------------------------------------------------- B660
# Seasonal subseries summary: per-DOW median and IQR of daily revenue
# (the subseries-plot source table), exact DISC quantiles on cents.
_q("q618_dow_subseries",
   oracle="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  (ISODOW(CAST(o_orderdate AS DATE)) - 1) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p25_cents,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS median_cents,
       CAST(PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p75_cents
FROM d GROUP BY dow ORDER BY dow
""",
   engine_sql="""
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  PMOD(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 5, 7) AS dow,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
           FROM orders GROUP BY 1, 2)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p25_cents,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS median_cents,
       CAST(PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY c) AS BIGINT)
         AS p75_cents
FROM d GROUP BY dow ORDER BY dow
""")

# ---------------------------------------------------------------- B661
# Stale-partition detector: (year, month) partitions whose latest
# activity trails the corpus max by more than 24 months — the
# archive/tiering candidate list.
_q("q619_stale_partitions", """
WITH p AS (SELECT EXTRACT(YEAR FROM l_shipdate) AS y,
                  EXTRACT(MONTH FROM l_shipdate) AS m,
                  MAX(CAST(l_shipdate AS DATE)) AS last_act,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1, 2),
     mx AS (SELECT MAX(last_act) AS gmax FROM p)
SELECT CAST(p.y AS BIGINT) AS y, CAST(p.m AS BIGINT) AS m, p.n,
       p.last_act
FROM p CROSS JOIN mx
WHERE p.last_act < mx.gmax - INTERVAL 24 MONTH
ORDER BY y, m
""")

# ---------------------------------------------------------------- B662
# Catalog health panel: rows, key-distinctness and a byte proxy for
# three tables in one UNION ALL report — the nightly catalog summary.
_q("q620_catalog_panel", """
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey)
                 THEN 1 ELSE 0 END AS BIGINT) AS key_unique
FROM orders
UNION ALL
SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
       CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT c_custkey)
                 THEN 1 ELSE 0 END AS BIGINT) AS key_unique
FROM customer
UNION ALL
SELECT 'documents' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_keys,
       CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT doc_id)
                 THEN 1 ELSE 0 END AS BIGINT) AS key_unique
FROM documents
ORDER BY tbl
""")


# ---------------------------------------------------------------- B663
# Comparable-base growth: 1995→1996 revenue growth restricted to
# customers ACTIVE IN BOTH years (the "same-store sales" control for
# mix shift), next to the naive all-customer growth.
_q("q621_comparable_growth", """
WITH y AS (SELECT o_custkey, EXTRACT(YEAR FROM o_orderdate) AS yr,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders
           WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
           GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)),
     comp AS (SELECT a.o_custkey, a.rc AS r95, b.rc AS r96
              FROM y a JOIN y b ON b.o_custkey = a.o_custkey
              WHERE a.yr = 1995 AND b.yr = 1996),
     naive AS (SELECT SUM(CASE WHEN yr = 1995 THEN rc ELSE 0 END) AS r95,
                      SUM(CASE WHEN yr = 1996 THEN rc ELSE 0 END) AS r96
               FROM y)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM comp) AS comparable_custs,
       FLOOR((SELECT SUM(r96 - r95) FROM comp) * 1000000.0
             / (SELECT SUM(r95) FROM comp)) / 1000000.0
         AS comparable_growth,
       FLOOR((SELECT (r96 - r95) * 1000000.0 / r95 FROM naive))
         / 1000000.0 AS naive_growth
""")

# ---------------------------------------------------------------- B664
# Return rate by customer-tenure band: does the R-flag share fall
# with account age (first-order year bands) — cohort-quality signal.
_q("q622_returns_by_tenure", """
WITH fo AS (SELECT o_custkey,
                   MIN(EXTRACT(YEAR FROM o_orderdate)) AS y0
            FROM orders GROUP BY o_custkey),
     li AS (SELECT o.o_custkey, l.l_returnflag
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
     j AS (SELECT CAST(fo.y0 AS BIGINT) AS cohort_year,
                  CASE WHEN li.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM li JOIN fo ON fo.o_custkey = li.o_custkey)
SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(r) AS BIGINT) AS returned,
       FLOOR(SUM(r) * 1000000.0 / COUNT(*)) / 1000000.0 AS return_rate
FROM j GROUP BY cohort_year ORDER BY cohort_year
""")

# ---------------------------------------------------------------- B665
# Price stickiness: parts whose observed distinct yearly unit price
# (floored cents) changed at most once across their life — the
# pricing-governance screen.
_q("q623_price_stickiness", """
WITH py AS (SELECT l_partkey AS part,
                   EXTRACT(YEAR FROM l_shipdate) AS yr,
                   CAST(FLOOR(
                     SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                     * 1.0
                     / NULLIF(SUM(CAST(ROUND(l_quantity) AS BIGINT)), 0))
                     AS BIGINT) AS unit_cents
            FROM lineitem WHERE l_partkey <= 500
            GROUP BY l_partkey, EXTRACT(YEAR FROM l_shipdate)),
     s AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_years,
                  CAST(COUNT(DISTINCT unit_cents) AS BIGINT) AS n_prices
           FROM py GROUP BY part HAVING COUNT(*) >= 3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN n_prices <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS sticky_parts,
       FLOOR(SUM(CASE WHEN n_prices <= 2 THEN 1 ELSE 0 END)
             * 1000000.0 / COUNT(*)) / 1000000.0 AS sticky_share
FROM s
""")

# ---------------------------------------------------------------- B666
# Brand-affinity matrix: customer-set Jaccard between brand pairs
# (which brands share buyers) — the assortment/cannibalization view,
# exact distinct-customer counts.
_Q624_BC_CACHE = None


def _q624_builder(spark: SparkSession) -> DataFrame:
    # r11 second rewrite: the output is a |brands|x|brands| customer
    # co-occurrence matrix — V^T V over the (customer x brand) 0/1
    # membership matrix. Even pair-EXPLODING (first r11 form) still
    # generated ~4.5e9 rows at sf100 (502 s); as a bounded GEMM the
    # same 9.4e9 multiply-adds run in BLAS in seconds and NOTHING
    # pair-shaped is ever materialized: one distinct shuffle builds
    # (brand, cust), one groupBy builds per-customer brand id arrays,
    # mapInPandas accumulates a dense 25x25 int partial per Arrow
    # batch (<=625 rows emitted per partition), and a final tiny
    # groupBy sums partials. NULL custs excluded from pair counting
    # (the join form never matched them); the n() denominators keep
    # oracle semantics (COUNT(*) per brand over bc, NULL custs
    # included). 100 TB shape: cost = rows x |brands| flops, bounded
    # output at every stage after the distinct.
    import pandas as pd

    # cache lifecycle (r12 advice guard): bc must outlive the returned
    # lazy DataFrame's first action, so it is not unpersisted here;
    # instead each builder call unpersists the PREVIOUS invocation's
    # cache (the simhash_pairs module-handle pattern), capping pinned
    # storage at one copy across repeated harness/profiling calls.
    global _Q624_BC_CACHE
    if _Q624_BC_CACHE is not None:
        try:
            _Q624_BC_CACHE.unpersist()
        except Exception:  # session may be gone
            pass
    bc = spark.sql("""
        SELECT DISTINCT p.p_brand AS brand, o.o_custkey AS cust
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey""").persist()
    _Q624_BC_CACHE = bc
    # brand domain from the dimension table (bounded collect: the
    # p_brand domain is tiny at every sf; superset of bc's brands —
    # zero-customer brands get empty matrix rows and emit nothing)
    brands = sorted(r.p_brand for r in
                    spark.table("part").select("p_brand").distinct()
                    .collect() if r.p_brand is not None)
    assert 0 < len(brands) <= 4096, "brand domain too wide for dense GEMM"
    idx = {b: i for i, b in enumerate(brands)}
    nb = len(brands)
    bl = spark.createDataFrame(
        [(i, b) for b, i in idx.items()], "bi int, brand string")

    sets = (bc.filter(F.col("cust").isNotNull() &
                      F.col("brand").isNotNull())
            .join(F.broadcast(bl), "brand")
            .groupBy("cust").agg(F.collect_list("bi").alias("bis")))

    def _cooc(batches):
        import numpy as np

        m = np.zeros((nb, nb), dtype=np.int64)
        for pdf in batches:
            lists = pdf["bis"]
            flat = np.fromiter((b for l in lists for b in l), dtype=np.int32)
            rows = np.repeat(np.arange(len(lists), dtype=np.int32),
                             [len(l) for l in lists])
            x = np.zeros((len(lists), nb), dtype=np.float32)
            x[rows, flat] = 1.0
            m += (x.T @ x).astype(np.int64)
        i, j = np.nonzero(np.triu(m, 1))
        yield pd.DataFrame({"i": i.astype("int32"), "j": j.astype("int32"),
                            "c": m[i, j]})

    shared = (sets.mapInPandas(_cooc, "i int, j int, c long")
              .groupBy("i", "j").agg(F.sum("c").alias("shared")))
    n = bc.groupBy("brand").agg(F.count(F.lit(1)).alias("nc"))
    out = (shared
           .join(F.broadcast(bl).alias("b1"), F.col("i") == F.col("b1.bi"))
           .join(F.broadcast(bl).alias("b2"), F.col("j") == F.col("b2.bi"))
           .select(F.col("b1.brand").alias("b1"),
                   F.col("b2.brand").alias("b2"), "shared")
           .join(F.broadcast(n).alias("na"),
                 F.col("b1") == F.col("na.brand"))
           .join(F.broadcast(n).alias("nb"),
                 F.col("b2") == F.col("nb.brand"))
           .select("b1", "b2", F.col("shared").cast("long").alias("shared"),
                   (F.floor(F.col("shared") * 1000000.0
                            / (F.col("na.nc") + F.col("nb.nc")
                               - F.col("shared"))) / 1000000.0)
                   .alias("customer_jaccard"))
           .orderBy(F.desc("customer_jaccard"), "b1", "b2").limit(15))
    return out


_q("q624_brand_affinity",
   builder=_q624_builder,
   oracle="""
WITH bc AS (SELECT DISTINCT p.p_brand AS brand, o.o_custkey AS cust
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey),
     n AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS nc
           FROM bc GROUP BY brand),
     ov AS (SELECT a.brand AS b1, b.brand AS b2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM bc a JOIN bc b
              ON b.cust = a.cust AND a.brand < b.brand
            GROUP BY a.brand, b.brand)
SELECT ov.b1, ov.b2, ov.shared,
       FLOOR(ov.shared * 1000000.0
             / (na.nc + nb.nc - ov.shared)) / 1000000.0
         AS customer_jaccard
FROM ov JOIN n na ON na.brand = ov.b1
        JOIN n nb ON nb.brand = ov.b2
ORDER BY customer_jaccard DESC, b1, b2 LIMIT 15
""",
   engine_sql="""
-- r11 scale rewrite (r10 verdict #5): the naive form self-joins the
-- (brand, cust) set on cust — TWO shuffles of bc plus ~4.5e9
-- materialized join rows at sf100 feeding a 300-group aggregate
-- (DNF'd in the sharded sf100 profile). Instead: ONE shuffle groups
-- brands per customer (<=25 brands in the domain, so the set is
-- tiny), ordered pairs are generated map-side from the sorted array
-- (i<j slices keep b1<b2 without a comparison join), and partial
-- aggregation collapses the exploded pairs to <=300 groups per task
-- before the final shuffle. Same exact counts, no fact-scale join.
WITH bc AS (SELECT DISTINCT p.p_brand AS brand, o.o_custkey AS cust
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey),
     n AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS nc
           FROM bc GROUP BY brand),
     -- cust IS NOT NULL: the self-join form this replaces can never
     -- match a NULL customer (NULL = NULL is not true), but GROUP BY
     -- would collapse all NULL custs into one group and emit
     -- spurious pairs; brand NULLs need no guard (COLLECT_SET drops
     -- them, as a.brand < b.brand drops them in the join form)
     cb AS (SELECT cust, SORT_ARRAY(COLLECT_SET(brand)) AS brands
            FROM bc WHERE cust IS NOT NULL GROUP BY cust),
     ov AS (SELECT pr.b1 AS b1, pr.b2 AS b2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM cb
            LATERAL VIEW EXPLODE(
              FLATTEN(TRANSFORM(brands, (x, i) ->
                TRANSFORM(SLICE(brands, i + 2, SIZE(brands)), y ->
                  STRUCT(x AS b1, y AS b2))))) t AS pr
            GROUP BY pr.b1, pr.b2)
SELECT ov.b1, ov.b2, ov.shared,
       FLOOR(ov.shared * 1000000.0
             / (na.nc + nb.nc - ov.shared)) / 1000000.0
         AS customer_jaccard
FROM ov JOIN n na ON na.brand = ov.b1
        JOIN n nb ON nb.brand = ov.b2
ORDER BY customer_jaccard DESC, b1, b2 LIMIT 15
""")

# ---------------------------------------------------------------- B667
# Readability-grade mix per source: q372's Flesch-Kincaid-style grade
# banded into easy/medium/hard shares — the curriculum-mix view.
_q("q625_readability_mix",
   oracle="""
WITH d AS (SELECT source,
                  CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) AS words,
                  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) AS chars
           FROM documents),
     g AS (SELECT source,
                  0.39 * words + 11.8 * (chars / words / 3.0) - 15.59
                    AS grade
           FROM d),
     b AS (SELECT source,
                  CASE WHEN grade < 8 THEN 'easy'
                       WHEN grade < 20 THEN 'medium'
                       ELSE 'hard' END AS band
           FROM g)
SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY source, band ORDER BY source, band
""",
   engine_sql="""
WITH d AS (SELECT source,
                  CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE) AS words,
                  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) AS chars
           FROM documents),
     g AS (SELECT source,
                  0.39 * words + 11.8 * (chars / words / 3.0) - 15.59
                    AS grade
           FROM d),
     b AS (SELECT source,
                  CASE WHEN grade < 8 THEN 'easy'
                       WHEN grade < 20 THEN 'medium'
                       ELSE 'hard' END AS band
           FROM g)
SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY source, band ORDER BY source, band
""")

# ---------------------------------------------------------------- B668
# Trigram coverage curve: share of all trigram OCCURRENCES covered by
# the top-N distinct trigrams, N ∈ {100, 500, 1000} — the
# dictionary-sizing curve at phrase granularity.
_q("q626_ngram_coverage",
   oracle="""
WITH t AS (SELECT doc_id, STRING_SPLIT(text,' ') AS tok FROM documents),
     g AS (SELECT ARRAY_TO_STRING(tok[i : i + 2], ' ') AS gram
           FROM t, UNNEST(GENERATE_SERIES(1, LEN(tok) - 2)) AS u(i)),
     f AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM g
           GROUP BY gram),
     r AS (SELECT gram, c,
                  ROW_NUMBER() OVER (ORDER BY c DESC, gram) AS rk
           FROM f),
     n AS (SELECT SUM(c) AS total FROM f),
     sz AS (SELECT UNNEST([100, 500, 1000]) AS topn)
SELECT CAST(sz.topn AS BIGINT) AS top_n,
       FLOOR(SUM(CASE WHEN r.rk <= sz.topn THEN r.c ELSE 0 END)
             * 1000000.0 / MAX(n.total)) / 1000000.0 AS coverage
FROM sz CROSS JOIN r CROSS JOIN n
GROUP BY sz.topn ORDER BY top_n
""",
   engine_sql="""
WITH t AS (SELECT doc_id, SPLIT(text,' ') AS tok FROM documents),
     g AS (SELECT ARRAY_JOIN(SLICE(tok, i, 3), ' ') AS gram
           -- total (IF, not WHERE): see q143 / q539
           FROM t LATERAL VIEW EXPLODE(
                  IF(SIZE(tok) >= 3, SEQUENCE(1, SIZE(tok) - 2),
                     ARRAY())) u AS i),
     f AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM g
           GROUP BY gram),
     -- coverage only reads the top-1000 grams; distinct trigrams
     -- grow even faster than unigram types, so rank the TakeOrdered
     -- top-1000 prefix, never the whole gram vocabulary.
     top AS (SELECT gram, c FROM f ORDER BY c DESC, gram LIMIT 1000),
     r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, gram) AS rk
           FROM top),
     n AS (SELECT SUM(c) AS total FROM f),
     sz AS (SELECT EXPLODE(ARRAY(100, 500, 1000)) AS topn)
SELECT CAST(sz.topn AS BIGINT) AS top_n,
       FLOOR(SUM(CASE WHEN r.rk <= sz.topn THEN r.c ELSE 0 END)
             * 1000000.0 / MAX(n.total)) / 1000000.0 AS coverage
FROM sz CROSS JOIN r CROSS JOIN n
GROUP BY sz.topn ORDER BY top_n
""")

# ---------------------------------------------------------------- B669
# Token-length histogram + per-language mean length: the tokenizer-
# design input table (length counts exact).
_q("q627_token_length_hist",
   oracle="""
WITH t AS (SELECT lang, LENGTH(tok) AS l FROM documents,
             UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
           WHERE tok <> '')
SELECT lang, CAST(l AS BIGINT) AS token_len,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY lang, l ORDER BY lang, token_len
""",
   engine_sql="""
WITH t AS (SELECT lang, LENGTH(tok) AS l
           FROM (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS tok
                 FROM documents) x
           WHERE tok <> '')
SELECT lang, CAST(l AS BIGINT) AS token_len,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY lang, l ORDER BY lang, token_len
""")

# ---------------------------------------------------------------- B670
# Mergeable variance states: per-half (n, Σx, Σx²) partial states
# merged by pure algebra must equal the direct whole-table variance —
# the incremental-stats maintenance identity, self-verified in-query.
_q("q628_variance_state_merge", """
WITH h AS (SELECT CASE WHEN EXTRACT(YEAR FROM o_orderdate) < 1996
                       THEN 'a' ELSE 'b' END AS half,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders),
     st AS (SELECT half, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(x * x) AS sxx
            FROM h GROUP BY half),
     merged AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx
                FROM st),
     direct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
                       SUM(x * x) AS sxx
                FROM h)
SELECT m.n AS n_rows,
       FLOOR((CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
             / (m.n - 1) * 100) / 100.0 AS var_merged,
       FLOOR((CAST(d.sxx AS DOUBLE) - CAST(d.sx AS DOUBLE) * d.sx / d.n)
             / (d.n - 1) * 100) / 100.0 AS var_direct,
       CAST(CASE WHEN m.sx = d.sx AND m.sxx = d.sxx AND m.n = d.n
                 THEN 1 ELSE 0 END AS BIGINT) AS states_identical
FROM merged m CROSS JOIN direct d
""")

# ---------------------------------------------------------------- B671
# Naive-Bayes language classifier in pure SQL: add-1 token likelihoods
# trained on the hash-split 80% train half, log-probs QUANTIZED TO
# INTEGER micro-nats so the per-doc argmax sums are engine-exact, then
# test-half accuracy per declared language.
_q("q629_naive_bayes_langid",
   oracle="""
WITH sp AS (SELECT doc_id, lang, text,
                   CASE WHEN CAST('0x' || SUBSTR(MD5(
                        CAST(doc_id AS VARCHAR) || ':nb'), 1, 8)
                        AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     tr AS (SELECT lang, tok FROM sp,
              UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            WHERE part = 'train'),
     cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tr GROUP BY lang, tok),
     tot AS (SELECT lang, SUM(c) AS nt FROM cnt GROUP BY lang),
     voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr),
     lp AS (SELECT cnt.lang, cnt.tok,
                   CAST(FLOOR(LN((cnt.c + 1.0) / (tot.nt + voc.v))
                              * 1000000) AS BIGINT) AS lp_micro
            FROM cnt JOIN tot ON tot.lang = cnt.lang CROSS JOIN voc),
     te AS (SELECT doc_id, lang AS true_lang, tok FROM sp,
              UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            WHERE part = 'test'),
     sc AS (SELECT te.doc_id, te.true_lang, lp.lang AS cand,
                   SUM(lp.lp_micro) AS score,
                   CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM te JOIN lp ON lp.tok = te.tok
            GROUP BY te.doc_id, te.true_lang, lp.lang),
     pred AS (SELECT doc_id, true_lang, cand,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand) AS rk
              FROM sc)
SELECT true_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cand = true_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS correct,
       FLOOR(SUM(CASE WHEN cand = true_lang THEN 1 ELSE 0 END)
             * 1000000.0 / COUNT(*)) / 1000000.0 AS accuracy
FROM pred WHERE rk = 1 GROUP BY true_lang ORDER BY true_lang
""",
   engine_sql="""
WITH sp AS (SELECT doc_id, lang, text,
                   CASE WHEN CAST(CONV(SUBSTR(MD5(
                        CAST(doc_id AS STRING) || ':nb'), 1, 8), 16, 10)
                        AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     tr AS (SELECT lang, tok
            FROM (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM sp WHERE part = 'train') x),
     cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tr GROUP BY lang, tok),
     tot AS (SELECT lang, SUM(c) AS nt FROM cnt GROUP BY lang),
     voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr),
     lp AS (SELECT cnt.lang, cnt.tok,
                   CAST(FLOOR(LN((cnt.c + 1.0) / (tot.nt + voc.v))
                              * 1000000) AS BIGINT) AS lp_micro
            FROM cnt JOIN tot ON tot.lang = cnt.lang CROSS JOIN voc),
     te AS (SELECT doc_id, true_lang, tok
            FROM (SELECT doc_id, lang AS true_lang,
                         EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM sp WHERE part = 'test') x),
     sc AS (SELECT te.doc_id, te.true_lang, lp.lang AS cand,
                   SUM(lp.lp_micro) AS score,
                   CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM te JOIN lp ON lp.tok = te.tok
            GROUP BY te.doc_id, te.true_lang, lp.lang),
     pred AS (SELECT doc_id, true_lang, cand,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand) AS rk
              FROM sc)
SELECT true_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cand = true_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS correct,
       FLOOR(SUM(CASE WHEN cand = true_lang THEN 1 ELSE 0 END)
             * 1000000.0 / COUNT(*)) / 1000000.0 AS accuracy
FROM pred WHERE rk = 1 GROUP BY true_lang ORDER BY true_lang
""")

# ---------------------------------------------------------------- B672
# Confusion matrix of the q629 classifier: declared × predicted
# language counts over the test half — the per-class error geography.
_q("q630_nb_confusion",
   oracle="""
WITH sp AS (SELECT doc_id, lang, text,
                   CASE WHEN CAST('0x' || SUBSTR(MD5(
                        CAST(doc_id AS VARCHAR) || ':nb'), 1, 8)
                        AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     tr AS (SELECT lang, tok FROM sp,
              UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            WHERE part = 'train'),
     cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tr GROUP BY lang, tok),
     tot AS (SELECT lang, SUM(c) AS nt FROM cnt GROUP BY lang),
     voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr),
     lp AS (SELECT cnt.lang, cnt.tok,
                   CAST(FLOOR(LN((cnt.c + 1.0) / (tot.nt + voc.v))
                              * 1000000) AS BIGINT) AS lp_micro
            FROM cnt JOIN tot ON tot.lang = cnt.lang CROSS JOIN voc),
     te AS (SELECT doc_id, lang AS true_lang, tok FROM sp,
              UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
            WHERE part = 'test'),
     sc AS (SELECT te.doc_id, te.true_lang, lp.lang AS cand,
                   SUM(lp.lp_micro) AS score
            FROM te JOIN lp ON lp.tok = te.tok
            GROUP BY te.doc_id, te.true_lang, lp.lang),
     pred AS (SELECT doc_id, true_lang, cand,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand) AS rk
              FROM sc)
SELECT true_lang, cand AS predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred WHERE rk = 1
GROUP BY true_lang, cand ORDER BY true_lang, predicted_lang
""",
   engine_sql="""
WITH sp AS (SELECT doc_id, lang, text,
                   CASE WHEN CAST(CONV(SUBSTR(MD5(
                        CAST(doc_id AS STRING) || ':nb'), 1, 8), 16, 10)
                        AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS part
            FROM documents),
     tr AS (SELECT lang, tok
            FROM (SELECT lang, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM sp WHERE part = 'train') x),
     cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tr GROUP BY lang, tok),
     tot AS (SELECT lang, SUM(c) AS nt FROM cnt GROUP BY lang),
     voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr),
     lp AS (SELECT cnt.lang, cnt.tok,
                   CAST(FLOOR(LN((cnt.c + 1.0) / (tot.nt + voc.v))
                              * 1000000) AS BIGINT) AS lp_micro
            FROM cnt JOIN tot ON tot.lang = cnt.lang CROSS JOIN voc),
     te AS (SELECT doc_id, true_lang, tok
            FROM (SELECT doc_id, lang AS true_lang,
                         EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM sp WHERE part = 'test') x),
     sc AS (SELECT te.doc_id, te.true_lang, lp.lang AS cand,
                   SUM(lp.lp_micro) AS score
            FROM te JOIN lp ON lp.tok = te.tok
            GROUP BY te.doc_id, te.true_lang, lp.lang),
     pred AS (SELECT doc_id, true_lang, cand,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand) AS rk
              FROM sc)
SELECT true_lang, cand AS predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred WHERE rk = 1
GROUP BY true_lang, cand ORDER BY true_lang, predicted_lang
""")


# ---------------------------------------------------------------- B673
# Skyline (Pareto frontier) query: parts not dominated on (cheaper,
# bigger) — the classic NOT EXISTS dominance shape over a bounded
# block, the multi-criteria shortlist.
_q("q631_skyline", """
WITH p AS (SELECT p_partkey, p_size,
                  CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c
           FROM part WHERE p_partkey <= 400)
SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
       price_c AS price_cents
FROM p a
WHERE NOT EXISTS (SELECT 1 FROM p b
                  WHERE b.price_c <= a.price_c
                    AND b.p_size >= a.p_size
                    AND (b.price_c < a.price_c OR b.p_size > a.p_size))
ORDER BY p_partkey
""")

# ---------------------------------------------------------------- B674
# Temporal snapshot diff: per-user state at tx ≤ 300 vs tx ≤ 500
# (latest event wins in each) — added / changed / unchanged report,
# the flashback-diff shape without a time-travel store.
_q("q632_snapshot_diff", """
WITH v1 AS (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rk
            FROM events WHERE event_id <= 300),
     v2 AS (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rk
            FROM events WHERE event_id <= 500),
     s1 AS (SELECT user_id, event_type AS st FROM v1 WHERE rk = 1),
     s2 AS (SELECT user_id, event_type AS st FROM v2 WHERE rk = 1)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       s1.st AS state_at_300, s2.st AS state_at_500,
       CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s1.st <> s2.st THEN 'changed'
            ELSE 'unchanged' END AS verdict
FROM s1 FULL JOIN s2 ON s2.user_id = s1.user_id
ORDER BY user_id
""")

# ---------------------------------------------------------------- B675
# Benford goodness-of-fit statistic: chi-square of observed first
# digits against the Benford expectation (the verdict q278's
# distribution table feeds).
_q("q633_benford_gof", """
WITH d AS (SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100)
                       AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS dig
           FROM orders WHERE o_totalprice > 0),
     o AS (SELECT dig, CAST(COUNT(*) AS DOUBLE) AS n FROM d
           WHERE dig BETWEEN 1 AND 9 GROUP BY dig),
     t AS (SELECT SUM(n) AS nt FROM o),
     e AS (SELECT o.dig, o.n,
                  t.nt * LN(1 + 1.0 / o.dig) / LN(10) AS expect
           FROM o CROSS JOIN t)
SELECT FLOOR(SUM((n - expect) * (n - expect) / expect) * 10000)
         / 10000.0 AS chi2_8df,
       CAST(CASE WHEN SUM((n - expect) * (n - expect) / expect) > 15.51
                 THEN 1 ELSE 0 END AS BIGINT) AS rejects_benford_95
FROM e
""")

# ---------------------------------------------------------------- B676
# Map-pivot: per-flag status→count MAP column (the sparse-pivot
# ergonomics row), projected back to deterministic sorted entries for
# the hash compare.
_q("q634_map_pivot",
   oracle="""
WITH c AS (SELECT l_returnflag AS flag, l_linestatus AS st,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY l_returnflag, l_linestatus)
SELECT flag,
       STRING_AGG(st || ':' || CAST(n AS VARCHAR), ',' ORDER BY st)
         AS status_map
FROM c GROUP BY flag ORDER BY flag
""",
   engine_sql="""
WITH c AS (SELECT l_returnflag AS flag, l_linestatus AS st,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY l_returnflag, l_linestatus),
     m AS (SELECT flag,
                  MAP_FROM_ENTRIES(SORT_ARRAY(COLLECT_LIST(
                    STRUCT(st, n)))) AS mp
           FROM c GROUP BY flag)
SELECT flag,
       ARRAY_JOIN(TRANSFORM(MAP_KEYS(mp),
                            k -> CONCAT(k, ':',
                                        CAST(mp[k] AS STRING))), ',')
         AS status_map
FROM m ORDER BY flag
""")

# ---------------------------------------------------------------- B677
# JSON-lines export shape: per-priority JSON array of the top-3 order
# records (engine TO_JSON(COLLECT_LIST(STRUCT)) vs DuckDB
# json_group_array) — the API-handoff serialization.
_q("q635_json_group_export",
   oracle="""
WITH r AS (SELECT o_orderpriority AS pri, o_orderkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC,
                                              o_orderkey) AS rk
           FROM orders),
     t AS (SELECT pri, o_orderkey AS k, cents FROM r WHERE rk <= 3)
SELECT pri,
       '[' || STRING_AGG('{"k":' || CAST(k AS VARCHAR) || ',"cents":'
              || CAST(cents AS VARCHAR) || '}', ',' ORDER BY k) || ']'
         AS top3_json
FROM t GROUP BY pri ORDER BY pri
""",
   engine_sql="""
WITH r AS (SELECT o_orderpriority AS pri, o_orderkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC,
                                              o_orderkey) AS rk
           FROM orders),
     t AS (SELECT pri, o_orderkey AS k, cents FROM r WHERE rk <= 3)
SELECT pri,
       TO_JSON(SORT_ARRAY(COLLECT_LIST(STRUCT(k, cents)))) AS top3_json
FROM t GROUP BY pri ORDER BY pri
""")

# ---------------------------------------------------------------- B678
# Rank-biserial effect size from the Mann-Whitney U (q327's
# companion): r = 2U/(n₁n₂) − 1 — how big the two-segment balance
# difference actually is.
_q("q636_rank_biserial",
   oracle="""
WITH v AS (SELECT c_mktsegment AS seg,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
           FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
             AND c_acctbal IS NOT NULL),
     r AS (SELECT seg, c,
                  RANK() OVER (ORDER BY c)
                    + (COUNT(*) OVER (PARTITION BY c) - 1) / 2.0 AS rk
           FROM v),
     a AS (SELECT
             CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n2,
             SUM(CASE WHEN seg = 'BUILDING' THEN rk ELSE 0 END) AS r1
           FROM r)
SELECT CAST(n1 AS BIGINT) AS n_building,
       CAST(n2 AS BIGINT) AS n_machinery,
       FLOOR((2 * (r1 - n1 * (n1 + 1) / 2) / (n1 * n2) - 1) * 1000000)
         / 1000000.0 AS rank_biserial_r
FROM a
""",
   engine_sql="""
WITH v AS (SELECT c_mktsegment AS seg,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
           FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
             AND c_acctbal IS NOT NULL),
     -- tie-averaged ranks from per-cents counts (q328's trick): the
     -- cumulative window runs over the bounded per-value aggregate,
     -- never the raw customer rows.
     d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                       AS BIGINT) AS cnt1
           FROM v GROUP BY c),
     r AS (SELECT c, cnt, cnt1,
                  SUM(cnt) OVER (ORDER BY c) - cnt + 1 AS rk
           FROM d),
     a AS (SELECT CAST(SUM(cnt1) AS DOUBLE) AS n1,
                  CAST(SUM(cnt - cnt1) AS DOUBLE) AS n2,
                  SUM(cnt1 * (rk + (cnt - 1) / 2.0)) AS r1
           FROM r)
SELECT CAST(n1 AS BIGINT) AS n_building,
       CAST(n2 AS BIGINT) AS n_machinery,
       FLOOR((2 * (r1 - n1 * (n1 + 1) / 2) / (n1 * n2) - 1) * 1000000)
         / 1000000.0 AS rank_biserial_r
FROM a
""")

# ---------------------------------------------------------------- B679
# Cold-start popularity fallback: customers with no purchase history
# get the global top-5 parts — fallback coverage and the served list,
# the recsys cold-start path.
_q("q637_popularity_fallback", """
WITH hist AS (SELECT DISTINCT o.o_custkey FROM orders o),
     cold AS (SELECT c.c_custkey FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM hist h
                                WHERE h.o_custkey = c.c_custkey)),
     pop AS (SELECT l_partkey,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                       l_partkey) AS rk
             FROM lineitem GROUP BY l_partkey)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cold) AS n_cold_customers,
       pop.l_partkey AS recommended_part,
       CAST(pop.rk AS BIGINT) AS rank, pop.n AS popularity
FROM pop WHERE pop.rk <= 5 ORDER BY rank
""")

# ---------------------------------------------------------------- B680
# 2-D histogram (quantity × price bands): the heat-map source grid
# with exact integer band ids — joint-distribution observability.
_q("q638_hist2d", """
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100)
                                  AS BIGINT) / 1000000) AS BIGINT)
                    AS price_10k
           FROM lineitem)
SELECT CAST(FLOOR(q / 10.0) AS BIGINT) AS qty_band, price_10k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM v GROUP BY CAST(FLOOR(q / 10.0) AS BIGINT), price_10k
ORDER BY qty_band, price_10k
""")

# ---------------------------------------------------------------- B681
# Empirical copula grid: the joint distribution of (quantity, price)
# mapped to quintile bands via DISC cutoffs (scale-safe — no global
# rank window), 5×5 dependence-structure counts. The oracle spells
# the cuts as 8 PERCENTILE_DISC sort-aggregates; the engine text
# computes identical cut vectors in two linear passes — per-value
# counts for the bounded quantity domain, and a two-level
# bucket-count → in-bucket order-statistic pass for price (the
# classic distributed exact-quantile shape: cumulative window runs
# over the ~110-row bucket aggregate, the in-bucket window over the
# ≤4 candidate buckets' per-value counts, never the raw rows).
# DISC(k/5) = smallest value whose cumulative count reaches
# r_k = ceil(k*n/5), done in exact integer arithmetic.
_q("q639_copula_grid", engine_sql="""
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
           FROM lineitem),
     nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
     tg AS (SELECT k, CAST((k * n + 4) DIV 5 AS BIGINT) AS r
            FROM (SELECT CAST(k AS BIGINT) AS k
                  FROM VALUES (1), (2), (3), (4) AS t(k))
            CROSS JOIN nn),
     xd AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY x),
     xc AS (SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum FROM xd),
     xk AS (SELECT tg.k, MIN(xc.x) AS xv
            FROM tg JOIN xc ON xc.cum >= tg.r GROUP BY tg.k),
     xcut AS (SELECT MIN(CASE WHEN k = 1 THEN xv END) AS x1,
                     MIN(CASE WHEN k = 2 THEN xv END) AS x2,
                     MIN(CASE WHEN k = 3 THEN xv END) AS x3,
                     MIN(CASE WHEN k = 4 THEN xv END) AS x4
              FROM xk),
     yb AS (SELECT y DIV 100000 AS b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v GROUP BY y DIV 100000),
     ybc AS (SELECT b, SUM(cnt) OVER (ORDER BY b) AS cum,
                    SUM(cnt) OVER (ORDER BY b) - cnt AS prev
             FROM yb),
     cand AS (SELECT tg.k, tg.r, MIN(ybc.b) AS b
              FROM tg JOIN ybc ON ybc.cum >= tg.r GROUP BY tg.k, tg.r),
     cand2 AS (SELECT c.k, c.r - y.prev AS lr, c.b
               FROM cand c JOIN ybc y ON y.b = c.b),
     yv AS (SELECT y DIV 100000 AS b, y, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v WHERE y DIV 100000 IN (SELECT b FROM cand)
            GROUP BY y DIV 100000, y),
     yvc AS (SELECT b, y,
                    SUM(cnt) OVER (PARTITION BY b ORDER BY y) AS lcum
             FROM yv),
     yk AS (SELECT c.k, MIN(w.y) AS yv
            FROM cand2 c JOIN yvc w ON w.b = c.b AND w.lcum >= c.lr
            GROUP BY c.k),
     ycut AS (SELECT MIN(CASE WHEN k = 1 THEN yv END) AS y1,
                     MIN(CASE WHEN k = 2 THEN yv END) AS y2,
                     MIN(CASE WHEN k = 3 THEN yv END) AS y3,
                     MIN(CASE WHEN k = 4 THEN yv END) AS y4
              FROM yk),
     b AS (SELECT CASE WHEN v.x <= xcut.x1 THEN 1
                       WHEN v.x <= xcut.x2 THEN 2
                       WHEN v.x <= xcut.x3 THEN 3
                       WHEN v.x <= xcut.x4 THEN 4 ELSE 5 END AS bx,
                  CASE WHEN v.y <= ycut.y1 THEN 1
                       WHEN v.y <= ycut.y2 THEN 2
                       WHEN v.y <= ycut.y3 THEN 3
                       WHEN v.y <= ycut.y4 THEN 4 ELSE 5 END AS by
           FROM v CROSS JOIN xcut CROSS JOIN ycut)
SELECT CAST(bx AS BIGINT) AS qty_quintile,
       CAST(by AS BIGINT) AS price_quintile,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bx, by ORDER BY qty_quintile, price_quintile
""", oracle="""
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
           FROM lineitem),
     cut AS (SELECT
               PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY x) AS x1,
               PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY x) AS x2,
               PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY x) AS x3,
               PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY x) AS x4,
               PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY y) AS y1,
               PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY y) AS y2,
               PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY y) AS y3,
               PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY y) AS y4
             FROM v),
     b AS (SELECT CASE WHEN v.x <= cut.x1 THEN 1
                       WHEN v.x <= cut.x2 THEN 2
                       WHEN v.x <= cut.x3 THEN 3
                       WHEN v.x <= cut.x4 THEN 4 ELSE 5 END AS bx,
                  CASE WHEN v.y <= cut.y1 THEN 1
                       WHEN v.y <= cut.y2 THEN 2
                       WHEN v.y <= cut.y3 THEN 3
                       WHEN v.y <= cut.y4 THEN 4 ELSE 5 END AS by
           FROM v CROSS JOIN cut)
SELECT CAST(bx AS BIGINT) AS qty_quintile,
       CAST(by AS BIGINT) AS price_quintile,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bx, by ORDER BY qty_quintile, price_quintile
""")

# ---------------------------------------------------------------- B682
# Greedy ratio knapsack: parts selected by value/cost ratio under a
# 1000-unit size budget via ranked running sum — the set-based greedy
# approximation (no loop), with the taken-set summary.
_q("q640_greedy_knapsack",
   oracle="""
WITH it AS (SELECT p_partkey,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS val,
                   CAST(p_size AS BIGINT) AS cost
            FROM part WHERE p_size > 0),
     r AS (SELECT p_partkey, val, cost,
                  ROW_NUMBER() OVER (
                    ORDER BY CAST(val AS DOUBLE) / cost DESC,
                             p_partkey) AS rk
           FROM it),
     c AS (SELECT p_partkey, val, cost, rk,
                  SUM(cost) OVER (ORDER BY rk
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_cost
           FROM r)
SELECT CAST(COUNT(*) AS BIGINT) AS n_taken,
       CAST(SUM(cost) AS BIGINT) AS budget_used,
       CAST(SUM(val) AS BIGINT) AS value_cents,
       CAST(MAX(rk) AS BIGINT) AS last_rank
FROM c WHERE cum_cost <= 1000
""",
   engine_sql="""
WITH it AS (SELECT p_partkey,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS val,
                   CAST(p_size AS BIGINT) AS cost
            FROM part WHERE p_size > 0),
     -- every cost is >= 1, so any row inside the 1000-unit budget has
     -- greedy rank <= 1000: the top-1000 by ratio (TakeOrdered, no
     -- global sort) provably contains the whole taken set, and ranks
     -- within it equal the global ranks. The windows then range over
     -- a 1000-row bounded relation.
     top AS (SELECT p_partkey, val, cost FROM it
             ORDER BY CAST(val AS DOUBLE) / cost DESC, p_partkey
             LIMIT 1000),
     r AS (SELECT p_partkey, val, cost,
                  ROW_NUMBER() OVER (
                    ORDER BY CAST(val AS DOUBLE) / cost DESC,
                             p_partkey) AS rk
           FROM top),
     c AS (SELECT p_partkey, val, cost, rk,
                  SUM(cost) OVER (ORDER BY rk
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_cost
           FROM r)
SELECT CAST(COUNT(*) AS BIGINT) AS n_taken,
       CAST(SUM(cost) AS BIGINT) AS budget_used,
       CAST(SUM(val) AS BIGINT) AS value_cents,
       CAST(MAX(rk) AS BIGINT) AS last_rank
FROM c WHERE cum_cost <= 1000
""")


# ---------------------------------------------------------------- B683
# Treemap export: region → nation → segment hierarchy with node ids,
# parent ids and exact sizes — the drill-down visualization source in
# one long-form table.
_q("q641_treemap_source", """
WITH leaf AS (SELECT r.r_name AS region, n.n_name AS nation,
                     c.c_mktsegment AS seg,
                     SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS v
              FROM orders o
              JOIN customer c ON c.c_custkey = o.o_custkey
              JOIN nation n ON n.n_nationkey = c.c_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              GROUP BY r.r_name, n.n_name, c.c_mktsegment)
SELECT region AS node, CAST(NULL AS STRING) AS parent,
       CAST(SUM(v) AS BIGINT) AS size_cents
FROM leaf GROUP BY region
UNION ALL
SELECT region || '/' || nation AS node, region AS parent,
       CAST(SUM(v) AS BIGINT) AS size_cents
FROM leaf GROUP BY region, nation
UNION ALL
SELECT region || '/' || nation || '/' || seg AS node,
       region || '/' || nation AS parent,
       CAST(v AS BIGINT) AS size_cents
FROM leaf
ORDER BY node
""")

# ---------------------------------------------------------------- B684
# Sparkline arrays: each brand's ordered monthly revenue as an array
# column (ordered struct collect) — the timeseries-export shape a BI
# cell renders.
_q("q642_sparkline_arrays",
   oracle="""
WITH m AS (SELECT p.p_brand AS brand,
                  CAST(DATE_TRUNC('month', l.l_shipdate) AS DATE) AS mon,
                  CAST(FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE EXTRACT(YEAR FROM l.l_shipdate) = 1995
           GROUP BY p.p_brand, DATE_TRUNC('month', l.l_shipdate))
SELECT brand,
       ARRAY_TO_STRING(LIST(CAST(k AS VARCHAR) ORDER BY mon), ',')
         AS spark_csv,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM m GROUP BY brand ORDER BY brand
""",
   engine_sql="""
WITH m AS (SELECT p.p_brand AS brand,
                  CAST(DATE_TRUNC('month', l.l_shipdate) AS DATE) AS mon,
                  CAST(FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE EXTRACT(YEAR FROM l.l_shipdate) = 1995
           GROUP BY p.p_brand, DATE_TRUNC('month', l.l_shipdate))
SELECT brand,
       ARRAY_JOIN(TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(mon, k))),
                            s -> CAST(s.k AS STRING)), ',')
         AS spark_csv,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM m GROUP BY brand ORDER BY brand
""")

# ---------------------------------------------------------------- B685
# Missing-value imputation: nulls injected via NULLIF, numeric filled
# with the segment mean (exact cents) and categorical with the global
# mode — fill counts reported beside the imputed aggregate.
_q("q643_imputation", """
WITH src AS (SELECT c_custkey, c_mktsegment,
                    NULLIF(CAST(ROUND(c_acctbal * 100) AS BIGINT),
                           CAST(ROUND(c_acctbal * 100) AS BIGINT)
                           % 97 * 97
                           + CAST(ROUND(c_acctbal * 100) AS BIGINT)
                           % 97) AS bal,
                    NULLIF(c_mktsegment, 'MACHINERY') AS seg_n
             FROM customer),
     segmean AS (SELECT c_mktsegment,
                        CAST(FLOOR(SUM(bal) * 1.0 / COUNT(bal))
                             AS BIGINT) AS m
                 FROM src GROUP BY c_mktsegment),
     mode_v AS (SELECT seg_n FROM src WHERE seg_n IS NOT NULL
                GROUP BY seg_n ORDER BY COUNT(*) DESC, seg_n LIMIT 1),
     f AS (SELECT src.c_custkey,
                  COALESCE(src.bal, segmean.m) AS bal_f,
                  COALESCE(src.seg_n, mode_v.seg_n) AS seg_f,
                  CASE WHEN src.bal IS NULL THEN 1 ELSE 0 END AS num_i,
                  CASE WHEN src.seg_n IS NULL THEN 1 ELSE 0 END AS cat_i
           FROM src JOIN segmean
             ON segmean.c_mktsegment = src.c_mktsegment
           CROSS JOIN mode_v)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(num_i) AS BIGINT) AS numeric_imputed,
       CAST(SUM(cat_i) AS BIGINT) AS categorical_imputed,
       CAST(SUM(bal_f) AS BIGINT) AS filled_balance_cents
FROM f
""")

# ---------------------------------------------------------------- B686
# One-hot encoding: market segment expanded to indicator columns with
# the exactly-one-hot invariant verified in-query.
_q("q644_one_hot", """
SELECT c_custkey,
       CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
            AS BIGINT) AS seg_auto,
       CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
            AS BIGINT) AS seg_building,
       CAST(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END
            AS BIGINT) AS seg_furniture,
       CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END
            AS BIGINT) AS seg_household,
       CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END
            AS BIGINT) AS seg_machinery,
       CAST(CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING',
                 'FURNITURE','HOUSEHOLD','MACHINERY')
                 THEN 1 ELSE 0 END AS BIGINT) AS one_hot_ok
FROM customer WHERE c_custkey < 500 ORDER BY c_custkey
""")

# ---------------------------------------------------------------- B687
# Ordinal + frequency encodings: order priority mapped to its rank
# order and to its corpus frequency — the two lightweight categorical
# encoders, in one pass.
_q("q645_ordinal_freq_encoding", """
WITH f AS (SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS freq
           FROM orders GROUP BY o_orderpriority),
     t AS (SELECT SUM(freq) AS nt FROM f)
SELECT f.o_orderpriority,
       CAST(CAST(SUBSTRING(f.o_orderpriority, 1, 1) AS BIGINT)
            AS BIGINT) AS ordinal_enc,
       f.freq,
       FLOOR(f.freq * 1000000.0 / t.nt) / 1000000.0 AS freq_enc
FROM f CROSS JOIN t ORDER BY o_orderpriority
""")

# ---------------------------------------------------------------- B688
# Out-of-fold target encoding: 3 hash folds, each row's segment mean
# computed EXCLUDING its own fold (exact per-fold sums subtracted) —
# the leakage-safe categorical encoder.
_q("q646_oof_target_encoding",
   oracle="""
WITH s AS (SELECT o_orderkey, o_custkey,
                  CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)
                       || ':fold'), 1, 4) AS BIGINT) % 3 AS fold,
                  c.c_mktsegment AS seg,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     fs AS (SELECT seg, fold, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(v) AS sv
            FROM s GROUP BY seg, fold),
     tot AS (SELECT seg, SUM(n) AS nt, SUM(sv) AS st FROM fs
             GROUP BY seg),
     enc AS (SELECT fs.seg, fs.fold,
                    CAST(FLOOR((tot.st - fs.sv) * 1.0
                               / (tot.nt - fs.n)) AS BIGINT) AS oof_mean
             FROM fs JOIN tot ON tot.seg = fs.seg)
SELECT seg, CAST(fold AS BIGINT) AS fold, oof_mean
FROM enc ORDER BY seg, fold
""",
   engine_sql="""
WITH s AS (SELECT o_orderkey, o_custkey,
                  CAST(CONV(SUBSTR(MD5(CAST(o_orderkey AS STRING)
                       || ':fold'), 1, 4), 16, 10) AS BIGINT) % 3
                    AS fold,
                  c.c_mktsegment AS seg,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     fs AS (SELECT seg, fold, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(v) AS sv
            FROM s GROUP BY seg, fold),
     tot AS (SELECT seg, SUM(n) AS nt, SUM(sv) AS st FROM fs
             GROUP BY seg),
     enc AS (SELECT fs.seg, fs.fold,
                    CAST(FLOOR((tot.st - fs.sv) * 1.0
                               / (tot.nt - fs.n)) AS BIGINT) AS oof_mean
             FROM fs JOIN tot ON tot.seg = fs.seg)
SELECT seg, CAST(fold AS BIGINT) AS fold, oof_mean
FROM enc ORDER BY seg, fold
""")

# ---------------------------------------------------------------- B689
# Two-way interaction strength (ANOVA-lite): SS explained by the
# segment × priority interaction beyond the additive model — cell
# means vs row/column effects, exact integer sums in.
_q("q647_interaction_anova",
   oracle="""
WITH v AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     cell AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx
              FROM v GROUP BY a, b),
     ra AS (SELECT a, SUM(n) AS n, SUM(sx) AS sx FROM cell GROUP BY a),
     rb AS (SELECT b, SUM(n) AS n, SUM(sx) AS sx FROM cell GROUP BY b),
     g AS (SELECT SUM(n) AS n, SUM(sx) AS sx FROM cell),
     dev AS (SELECT cell.a, cell.b, cell.n,
                    CAST(cell.sx AS DOUBLE) / cell.n
                    - CAST(ra.sx AS DOUBLE) / ra.n
                    - CAST(rb.sx AS DOUBLE) / rb.n
                    + CAST(g.sx AS DOUBLE) / g.n AS inter
             FROM cell JOIN ra ON ra.a = cell.a
                       JOIN rb ON rb.b = cell.b
                       CROSS JOIN g)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       FLOOR(SUM(n * inter * inter) / 10000) / 100.0
         AS interaction_ss_dollars2
FROM dev
""",
   engine_sql="""
-- r13: ra / rb / g (already cell-derived) still re-expanded the
-- orders-customer join under each reference because the join-key
-- inference differs per branch (4 fact scans survived AQE reuse;
-- CTE_REEXPANSION_SCAN_r13.json). The per-a / per-b / grand sums are
-- now window sums over the bounded cell relation — one scan, one
-- (a, b) cell exchange, no joins. Identical for all inputs: window
-- partitions span exactly the rows the GROUP BY marginals did (null
-- cells included), and the inner-join null-drop is the explicit
-- WHERE before the final aggregate. Integer window sums are exact.
WITH v AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     cell AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx
              FROM v GROUP BY a, b),
     dev AS (SELECT a, b, n,
                    CAST(sx AS DOUBLE) / n
                    - CAST(SUM(sx) OVER (PARTITION BY a) AS DOUBLE)
                      / SUM(n) OVER (PARTITION BY a)
                    - CAST(SUM(sx) OVER (PARTITION BY b) AS DOUBLE)
                      / SUM(n) OVER (PARTITION BY b)
                    + CAST(SUM(sx) OVER () AS DOUBLE)
                      / SUM(n) OVER () AS inter
             FROM cell)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       FLOOR(SUM(n * inter * inter) / 10000) / 100.0
         AS interaction_ss_dollars2
FROM dev WHERE a IS NOT NULL AND b IS NOT NULL
""")

# ---------------------------------------------------------------- B690
# Calibration fit: OLS intercept/slope of observed outcome on
# predicted score over score deciles (DISC cutoff bands) — slope ≈ 1,
# intercept ≈ 0 means calibrated; exact band aggregates.
_q("q648_calibration_fit",
   oracle="""
WITH s AS (SELECT CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)
                       || ':cal'), 1, 8) AS BIGINT) % 1000 AS score,
                  CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
           FROM orders),
     b AS (SELECT score // 100 AS band,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(y) AS ny, SUM(score) AS ssc
           FROM s GROUP BY score // 100),
     pts AS (SELECT CAST(ssc AS DOUBLE) / (n * 1000) AS px,
                    CAST(ny AS DOUBLE) / n AS py
             FROM b),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(px) AS sx,
                  SUM(py) AS sy, SUM(px * py) AS sxy,
                  SUM(px * px) AS sxx
           FROM pts)
SELECT CAST(k AS BIGINT) AS n_bands,
       FLOOR((k * sxy - sx * sy) / (k * sxx - sx * sx) * 10000)
         / 10000.0 AS cal_slope,
       FLOOR((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
             * 10000) / 10000.0 AS cal_intercept
FROM m
""",
   engine_sql="""
WITH s AS (SELECT CAST(CONV(SUBSTR(MD5(CAST(o_orderkey AS STRING)
                       || ':cal'), 1, 8), 16, 10) AS BIGINT) % 1000
                    AS score,
                  CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
           FROM orders),
     b AS (SELECT score DIV 100 AS band,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(y) AS ny, SUM(score) AS ssc
           FROM s GROUP BY score DIV 100),
     pts AS (SELECT CAST(ssc AS DOUBLE) / (n * 1000) AS px,
                    CAST(ny AS DOUBLE) / n AS py
             FROM b),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(px) AS sx,
                  SUM(py) AS sy, SUM(px * py) AS sxy,
                  SUM(px * px) AS sxx
           FROM pts)
SELECT CAST(k AS BIGINT) AS n_bands,
       FLOOR((k * sxy - sx * sy) / (k * sxx - sx * sx) * 10000)
         / 10000.0 AS cal_slope,
       FLOOR((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
             * 10000) / 10000.0 AS cal_intercept
FROM m
""")

# ---------------------------------------------------------------- B691
# Exact 2-feature Shapley attribution: coalition values = mean order
# total with/without knowing segment and priority (group-mean
# predictive value), Shapley = average marginal contribution — the
# closed-form fair split of explained value.
_q("q649_shapley_2feature", """
WITH v AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b,
                  CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
                  SUM(x * x) AS sxx
           FROM v),
     va AS (SELECT SUM(d) AS ss FROM (
              SELECT a, SUM(x * x)
                     - CAST(SUM(x) AS DOUBLE) * SUM(x) / COUNT(*) AS d
              FROM v GROUP BY a) t),
     vb AS (SELECT SUM(d) AS ss FROM (
              SELECT b, SUM(x * x)
                     - CAST(SUM(x) AS DOUBLE) * SUM(x) / COUNT(*) AS d
              FROM v GROUP BY b) t),
     vab AS (SELECT SUM(d) AS ss FROM (
               SELECT a, b, SUM(x * x)
                      - CAST(SUM(x) AS DOUBLE) * SUM(x) / COUNT(*) AS d
               FROM v GROUP BY a, b) t),
     tot AS (SELECT CAST(g.sxx AS DOUBLE)
                    - CAST(g.sx AS DOUBLE) * g.sx / g.n AS ss0,
                    va.ss AS ssa, vb.ss AS ssb, vab.ss AS ssab
             FROM g CROSS JOIN va CROSS JOIN vb CROSS JOIN vab)
SELECT FLOOR(((ss0 - ssa) + (ssb - ssab)) / 2 / 10000) / 100.0
         AS shapley_segment_dollars2,
       FLOOR(((ss0 - ssb) + (ssa - ssab)) / 2 / 10000) / 100.0
         AS shapley_priority_dollars2,
       FLOOR((ss0 - ssab) / 10000) / 100.0 AS total_explained
FROM tot
""")

# ---------------------------------------------------------------- B692
# Kitchen-sink compatibility canary: one statement through CTEs,
# window, GROUPING SETS, arrays, JSON, intervals and conditional
# aggregation — the single-query smoke a migration runs first.
_q("q650_kitchen_sink_canary", engine_sql="""
WITH base AS (SELECT o_orderkey, o_orderpriority,
                     CAST(o_orderdate AS DATE) AS d,
                     CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
              FROM orders WHERE o_orderkey < 2000),
     w AS (SELECT o_orderpriority, d, c,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY c DESC, d) AS rk
           FROM base),
     g AS (SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN rk <= 3 THEN c ELSE 0 END)
                       AS BIGINT) AS top3_cents,
                  CAST(MAX(d) + INTERVAL 30 DAY AS DATE) AS review_by,
                  CAST(GROUPING(o_orderpriority) AS BIGINT) AS is_total
           FROM w
           GROUP BY GROUPING SETS ((o_orderpriority), ()))
SELECT COALESCE(o_orderpriority, 'ALL') AS pri, n, top3_cents,
       review_by, is_total,
       SIZE(SPLIT(COALESCE(o_orderpriority, 'ALL'), '-')) AS n_parts
FROM g ORDER BY is_total, pri
""",
   oracle="""
WITH base AS (SELECT o_orderkey, o_orderpriority,
                     CAST(o_orderdate AS DATE) AS d,
                     CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
              FROM orders WHERE o_orderkey < 2000),
     w AS (SELECT o_orderpriority, d, c,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY c DESC, d) AS rk
           FROM base),
     g AS (SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN rk <= 3 THEN c ELSE 0 END)
                       AS BIGINT) AS top3_cents,
                  CAST(MAX(d) + INTERVAL 30 DAY AS DATE) AS review_by,
                  CAST(GROUPING(o_orderpriority) AS BIGINT) AS is_total
           FROM w
           GROUP BY GROUPING SETS ((o_orderpriority), ()))
SELECT COALESCE(o_orderpriority, 'ALL') AS pri, n, top3_cents,
       review_by, is_total,
       CAST(LEN(STRING_SPLIT(COALESCE(o_orderpriority, 'ALL'), '-'))
            AS INT) AS n_parts
FROM g ORDER BY is_total, pri
""")


# ---------------------------------------------------------------- B693
# Ratio-of-medians vs median-of-ratios: the two ratio estimators
# disagree under skew — both computed exactly (DISC medians on
# integer cents / per-row integer ratios).
_q("q651_ratio_estimators", """
WITH j AS (SELECT o.o_orderkey,
                  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS oc,
                  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS lc
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           GROUP BY o.o_orderkey, o.o_totalprice),
     r AS (SELECT oc, lc,
                  CAST(FLOOR(oc * 10000.0 / lc) AS BIGINT) AS ratio_bp
           FROM j WHERE lc > 0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       FLOOR(CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY oc)
                  AS DOUBLE) * 10000
             / PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY lc))
         / 10000.0 AS ratio_of_medians,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY ratio_bp)
            AS DOUBLE) / 10000.0 AS median_of_ratios
FROM r
""")

# ---------------------------------------------------------------- B694
# Trimmed correlation: Pearson r on rows inside both variables'
# [p5, p95] DISC bands — the outlier-robust dependence estimate from
# exact integer moments of the trimmed set.
_q("q652_trimmed_correlation", """
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100)
                                  AS BIGINT) / 100) AS BIGINT) AS y
           FROM lineitem),
     cut AS (SELECT
               PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY x) AS xlo,
               PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY x) AS xhi,
               PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY y) AS ylo,
               PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY y) AS yhi
             FROM v),
     t AS (SELECT v.x, v.y FROM v CROSS JOIN cut
           WHERE v.x BETWEEN cut.xlo AND cut.xhi
             AND v.y BETWEEN cut.ylo AND cut.yhi),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
                  SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                  SUM(y * y) AS syy
           FROM t)
SELECT n AS n_kept,
       FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * SQRT(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)) * 10000) / 10000.0
         AS trimmed_r
FROM m
""")

# ---------------------------------------------------------------- B695
# Partial correlation r_xy·z (quantity ↔ price controlling for line
# number): three pairwise correlations from ONE exact-moment pass,
# composed by the closed form.
_q("q653_partial_correlation", """
WITH v AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
                  CAST(FLOOR(CAST(ROUND(l_extendedprice * 100)
                                  AS BIGINT) / 100) AS BIGINT) AS y,
                  CAST(l_linenumber AS BIGINT) AS z
           FROM lineitem),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
                  SUM(x * y) AS sxy, SUM(x * z) AS sxz,
                  SUM(y * z) AS syz,
                  SUM(x * x) AS sxx, SUM(y * y) AS syy,
                  SUM(z * z) AS szz
           FROM v),
     c AS (SELECT
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * SQRT(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)) AS rxy,
             (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
             / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * SQRT(CAST(n AS DOUBLE) * szz
                       - CAST(sz AS DOUBLE) * sz)) AS rxz,
             (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
             / (SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                * SQRT(CAST(n AS DOUBLE) * szz
                       - CAST(sz AS DOUBLE) * sz)) AS ryz
           FROM m)
SELECT FLOOR(rxy * 10000) / 10000.0 AS r_xy,
       FLOOR((rxy - rxz * ryz)
             / (SQRT(1 - rxz * rxz) * SQRT(1 - ryz * ryz)) * 10000)
         / 10000.0 AS partial_r_xy_given_z
FROM c
""")

# ---------------------------------------------------------------- B696
# Cohen's d standardized mean difference (pooled SD) between two
# segments' balances — the effect-size companion to q424's t-test,
# exact cent moments.
_q("q654_cohens_d", """
WITH s AS (SELECT c_mktsegment AS seg,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
           FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
             AND c_acctbal IS NOT NULL),
     g AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, SUM(c) AS sx,
                  SUM(c * c) AS sxx
           FROM s GROUP BY seg),
     w AS (SELECT
             (SELECT n FROM g WHERE seg = 'BUILDING') AS n1,
             (SELECT n FROM g WHERE seg = 'MACHINERY') AS n2,
             (SELECT CAST(sx AS DOUBLE) / n FROM g
              WHERE seg = 'BUILDING') AS m1,
             (SELECT CAST(sx AS DOUBLE) / n FROM g
              WHERE seg = 'MACHINERY') AS m2,
             (SELECT CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
              FROM g WHERE seg = 'BUILDING') AS ssq1,
             (SELECT CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
              FROM g WHERE seg = 'MACHINERY') AS ssq2)
SELECT CAST(n1 AS BIGINT) AS n_building,
       CAST(n2 AS BIGINT) AS n_machinery,
       FLOOR((m1 - m2) / SQRT((ssq1 + ssq2) / (n1 + n2 - 2)) * 10000)
         / 10000.0 AS cohens_d
FROM w
""")

# ---------------------------------------------------------------- B697
# Odds ratio with Woolf 95% CI: the 2×2 of (high-balance customer ×
# urgent order) — exact cell counts, closed-form log-CI.
_q("q655_odds_ratio", """
WITH t AS (SELECT CASE WHEN c.c_acctbal > 5000 THEN 1 ELSE 0 END AS e,
                  CASE WHEN o.o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS y
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     c2 AS (SELECT
              CAST(SUM(e * y) AS DOUBLE) AS a,
              CAST(SUM(e * (1 - y)) AS DOUBLE) AS b,
              CAST(SUM((1 - e) * y) AS DOUBLE) AS c,
              CAST(SUM((1 - e) * (1 - y)) AS DOUBLE) AS d
            FROM t)
SELECT CAST(a AS BIGINT) AS exp_event, CAST(b AS BIGINT) AS exp_none,
       CAST(c AS BIGINT) AS unexp_event,
       CAST(d AS BIGINT) AS unexp_none,
       FLOOR((a * d) / (b * c) * 10000) / 10000.0 AS odds_ratio,
       FLOOR(EXP(LN((a * d) / (b * c))
                 - 1.96 * SQRT(1/a + 1/b + 1/c + 1/d)) * 10000)
         / 10000.0 AS or_ci_lo,
       FLOOR(EXP(LN((a * d) / (b * c))
                 + 1.96 * SQRT(1/a + 1/b + 1/c + 1/d)) * 10000)
         / 10000.0 AS or_ci_hi
FROM c2
""")

# ---------------------------------------------------------------- B698
# Relative risk and number-needed-to-treat from the same 2×2 — the
# intervention-impact arithmetic beside q655's odds ratio.
_q("q656_risk_ratio_nnt", """
WITH t AS (SELECT CASE WHEN c.c_acctbal > 5000 THEN 1 ELSE 0 END AS e,
                  CASE WHEN o.o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS y
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     c2 AS (SELECT
              CAST(SUM(e * y) AS DOUBLE) AS a,
              CAST(SUM(e) AS DOUBLE) AS ne,
              CAST(SUM((1 - e) * y) AS DOUBLE) AS c,
              CAST(SUM(1 - e) AS DOUBLE) AS nu
            FROM t)
SELECT FLOOR((a / ne) * 1000000) / 1000000.0 AS risk_exposed,
       FLOOR((c / nu) * 1000000) / 1000000.0 AS risk_unexposed,
       FLOOR((a / ne) / (c / nu) * 10000) / 10000.0 AS relative_risk,
       FLOOR(ABS(1.0 / (a / ne - c / nu)) * 100) / 100.0 AS nnt
FROM c2
""")

# ---------------------------------------------------------------- B699
# Poisson rate with normal-approximation CI per event type: events
# per day ± 1.96·√n/T — the incident-rate dashboard row.
_q("q657_poisson_rate_ci", """
WITH d AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n
           FROM events GROUP BY event_type),
     t AS (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
             AS days
           FROM events)
SELECT d.event_type, CAST(d.n AS BIGINT) AS n_events,
       FLOOR(d.n / t.days * 10000) / 10000.0 AS rate_per_day,
       FLOOR((d.n - 1.96 * SQRT(d.n)) / t.days * 10000) / 10000.0
         AS ci_lo,
       FLOOR((d.n + 1.96 * SQRT(d.n)) / t.days * 10000) / 10000.0
         AS ci_hi
FROM d CROSS JOIN t ORDER BY d.event_type
""")

# ---------------------------------------------------------------- B700
# Agresti–Coull interval for rare rates: the add-z²/2 adjustment that
# keeps near-zero proportions honest where the Wald interval
# collapses — beside the raw rate per segment.
_q("q658_agresti_coull", """
WITH s AS (SELECT c.c_mktsegment AS seg,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CASE WHEN o.o_totalprice > 450000
                           THEN 1 ELSE 0 END) AS DOUBLE) AS x
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment),
     adj AS (SELECT seg, n, x,
                    (x + 1.9208) / (n + 3.8416) AS p_adj,
                    n + 3.8416 AS n_adj
             FROM s)
SELECT seg, CAST(x AS BIGINT) AS rare_events, CAST(n AS BIGINT) AS n,
       FLOOR(x / n * 1000000) / 1000000.0 AS raw_rate,
       FLOOR(GREATEST(p_adj - 1.96 * SQRT(p_adj * (1 - p_adj) / n_adj),
                      0.0) * 1000000) / 1000000.0 AS ac_lo,
       FLOOR((p_adj + 1.96 * SQRT(p_adj * (1 - p_adj) / n_adj))
             * 1000000) / 1000000.0 AS ac_hi
FROM adj ORDER BY seg
""")

# ---------------------------------------------------------------- B701
# Eta-squared effect size for the q425 ANOVA: SSB/SST — how much of
# order-value variance the priority factor actually explains.
_q("q659_eta_squared", """
WITH v AS (SELECT o_orderpriority AS grp,
                  CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             / 100) AS BIGINT) AS x
           FROM orders),
     g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx
           FROM v GROUP BY grp),
     -- DECIMAL(38,0) product: Σx² ≈ 150M · (5e5)² ≈ 2e21 passes 2^63
     -- at sf100 (ANSI throw; DuckDB HUGEINT just widens) — caught by
     -- the r11 sf100 paired sample, same class as q430/q503/q522/q567
     tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
                    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
             FROM v),
     ss AS (SELECT
              (SELECT SUM(CAST(g.sx AS DOUBLE) * g.sx / g.n) FROM g)
              - CAST(tot.sx AS DOUBLE) * tot.sx / tot.n AS ssb,
              CAST(tot.sxx AS DOUBLE)
              - CAST(tot.sx AS DOUBLE) * tot.sx / tot.n AS sst
            FROM tot)
SELECT FLOOR(ssb / 10000) / 100.0 AS ssb_dollars2,
       FLOOR(sst / 10000) / 100.0 AS sst_dollars2,
       FLOOR(ssb / sst * 1000000) / 1000000.0 AS eta_squared
FROM ss
""")

# ---------------------------------------------------------------- B702
# Omnibus test battery: the segment-difference z, priority ANOVA F,
# and assignment-SRM chi² in ONE verdict row — the one-glance
# statistical health panel over shapes proven by q424/q425/q505.
_q("q660_test_battery",
   oracle="""
WITH bal AS (SELECT
               AVG(CASE WHEN c_mktsegment = 'BUILDING'
                   THEN c_acctbal END) AS m1,
               VAR_SAMP(CASE WHEN c_mktsegment = 'BUILDING'
                        THEN c_acctbal END) AS v1,
               CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING'
                          THEN 1 END) AS DOUBLE) AS n1,
               AVG(CASE WHEN c_mktsegment = 'MACHINERY'
                   THEN c_acctbal END) AS m2,
               VAR_SAMP(CASE WHEN c_mktsegment = 'MACHINERY'
                        THEN c_acctbal END) AS v2,
               CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY'
                          THEN 1 END) AS DOUBLE) AS n2
             FROM customer),
     an AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(CAST(o_totalprice AS DOUBLE)) AS m,
                   VAR_SAMP(CAST(o_totalprice AS DOUBLE)) AS v
            FROM (SELECT o_orderpriority AS grp, o_totalprice
                  FROM orders) x GROUP BY grp),
     ant AS (SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm,
                    CAST(COUNT(*) AS DOUBLE) AS k
             FROM an),
     srm AS (SELECT CAST(SUM(CASE WHEN CAST('0x' || SUBSTR(MD5(
                      CAST(c_custkey AS VARCHAR) || ':srm'), 1, 8)
                      AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                      AS n0,
                    CAST(COUNT(*) AS DOUBLE) AS nt
             FROM customer),
     ssb AS (SELECT SUM(an.n * POWER(an.m - ant.gm, 2)) AS v
             FROM an CROSS JOIN ant),
     ssw AS (SELECT SUM((n - 1) * v) AS v FROM an)
SELECT FLOOR((bal.m1 - bal.m2)
             / SQRT(bal.v1 / bal.n1 + bal.v2 / bal.n2) * 10000)
         / 10000.0 AS welch_z,
       FLOOR(ssb.v / (ant.k - 1)
             / (ssw.v / (ant.nt - ant.k))
             * 10000) / 10000.0 AS anova_f,
       FLOOR((POWER(srm.n0 - srm.nt / 2, 2) / (srm.nt / 2)
              + POWER((srm.nt - srm.n0) - srm.nt / 2, 2) / (srm.nt / 2))
             * 10000) / 10000.0 AS srm_chi2
FROM bal CROSS JOIN ant CROSS JOIN srm CROSS JOIN ssb CROSS JOIN ssw
""",
   engine_sql="""
WITH bal AS (SELECT
               AVG(CASE WHEN c_mktsegment = 'BUILDING'
                   THEN c_acctbal END) AS m1,
               VAR_SAMP(CASE WHEN c_mktsegment = 'BUILDING'
                        THEN c_acctbal END) AS v1,
               CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING'
                          THEN 1 END) AS DOUBLE) AS n1,
               AVG(CASE WHEN c_mktsegment = 'MACHINERY'
                   THEN c_acctbal END) AS m2,
               VAR_SAMP(CASE WHEN c_mktsegment = 'MACHINERY'
                        THEN c_acctbal END) AS v2,
               CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY'
                          THEN 1 END) AS DOUBLE) AS n2
             FROM customer),
     an AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(CAST(o_totalprice AS DOUBLE)) AS m,
                   VAR_SAMP(CAST(o_totalprice AS DOUBLE)) AS v
            FROM (SELECT o_orderpriority AS grp, o_totalprice
                  FROM orders) x GROUP BY grp),
     ant AS (SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm,
                    CAST(COUNT(*) AS DOUBLE) AS k
             FROM an),
     srm AS (SELECT CAST(SUM(CASE WHEN CAST(CONV(SUBSTR(MD5(
                      CAST(c_custkey AS STRING) || ':srm'), 1, 8),
                      16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) AS n0,
                    CAST(COUNT(*) AS DOUBLE) AS nt
             FROM customer),
     ssb AS (SELECT SUM(an.n * POWER(an.m - ant.gm, 2)) AS v
             FROM an CROSS JOIN ant),
     ssw AS (SELECT SUM((n - 1) * v) AS v FROM an)
SELECT FLOOR((bal.m1 - bal.m2)
             / SQRT(bal.v1 / bal.n1 + bal.v2 / bal.n2) * 10000)
         / 10000.0 AS welch_z,
       FLOOR(ssb.v / (ant.k - 1)
             / (ssw.v / (ant.nt - ant.k))
             * 10000) / 10000.0 AS anova_f,
       FLOOR((POWER(srm.n0 - srm.nt / 2, 2) / (srm.nt / 2)
              + POWER((srm.nt - srm.n0) - srm.nt / 2, 2) / (srm.nt / 2))
             * 10000) / 10000.0 AS srm_chi2
FROM bal CROSS JOIN ant CROSS JOIN srm CROSS JOIN ssb CROSS JOIN ssw
""")


# ---------------------------------------------------------------- B703
# Rolling 30-day skewness of daily revenue from exact integer
# Σx/Σx²/Σx³ window sums — the distribution-shape monitor beside the
# Bollinger mean/σ bands.
_q("q661_rolling_skewness", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     w AS (SELECT day,
                  SUM(k) OVER w30 AS s1, SUM(k * k) OVER w30 AS s2,
                  -- cube accumulates in DECIMAL(38,0): the 30-day sum
                  -- reaches ~1.2e20 at sf10 (> 2^63; ANSI Spark threw,
                  -- DuckDB silently widened to HUGEINT) — exact in
                  -- both engines, headroom through sf1000
                  SUM(CAST(k AS DECIMAL(38,0)) * k * k) OVER w30 AS s3,
                  COUNT(*) OVER w30 AS n,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d
           WINDOW w30 AS (ORDER BY day
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
     m AS (SELECT day,
                  CAST(s1 AS DOUBLE) / n AS mu,
                  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                    / n AS var_p,
                  CAST(s3 AS DOUBLE) AS c3, CAST(s1 AS DOUBLE) AS c1,
                  CAST(s2 AS DOUBLE) AS c2, CAST(n AS DOUBLE) AS nn
           FROM w WHERE rn >= 30)
SELECT day,
       FLOOR((c3 / nn - 3 * mu * c2 / nn + 2 * mu * mu * mu)
             / POWER(var_p, 1.5) * 10000) / 10000.0 AS skew30
FROM m WHERE var_p > 0 ORDER BY day
""")

# ---------------------------------------------------------------- B712
# Rolling 30-day coefficient of variation (σ/μ) of daily revenue —
# the relative-volatility companion to the Bollinger/skew monitors,
# exact integer window moments.
_q("q662_rolling_cv", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100) AS BIGINT)
                    AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     w AS (SELECT day,
                  -- DECIMAL(38,0): Σk² ≈ 7.7e19 at sf10 (> 2^63) —
                  -- same ANSI-overflow class as q661/q670
                  SUM(k) OVER w30 AS s1,
                  SUM(CAST(k AS DECIMAL(38,0)) * k) OVER w30 AS s2,
                  COUNT(*) OVER w30 AS n,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d
           WINDOW w30 AS (ORDER BY day
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
SELECT day,
       FLOOR(SQRT((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
             / (CAST(s1 AS DOUBLE) / n) * 10000) / 10000.0 AS cv30
FROM w WHERE rn >= 30 ORDER BY day
""")


# ---------------------------------------------------------------- B704
# New-user growth curve: first-seen users per day and the cumulative
# acquisition curve — exact first-day rollup + calendar-bounded
# running sum.
_q("q663_acquisition_curve", """
WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id),
     d AS (SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS new_users
           FROM fu GROUP BY d0)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM d ORDER BY day
""")

# ---------------------------------------------------------------- B705
# Activity half-life: log-linear fit of per-user event counts vs days
# since first touch → decay λ and half-life ln2/λ — the engagement-
# decay estimate from exact (day-index, log-count) pairs.
_q("q664_activity_halflife",
   oracle="""
WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id),
     a AS (SELECT DATEDIFF('day', fu.d0, CAST(e.ts AS DATE)) AS age_d
           FROM events e JOIN fu ON fu.user_id = e.user_id),
     c AS (SELECT age_d, CAST(COUNT(*) AS BIGINT) AS n FROM a
           WHERE age_d BETWEEN 0 AND 20 GROUP BY age_d),
     f AS (SELECT CAST(age_d AS DOUBLE) AS x,
                  LN(CAST(n AS DOUBLE)) AS y
           FROM c),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(x) AS sx,
                  SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
           FROM f)
SELECT CAST(k AS BIGINT) AS n_days,
       FLOOR(-(k * sxy - sx * sy) / (k * sxx - sx * sx) * 1000000)
         / 1000000.0 AS decay_lambda,
       FLOOR(0.693147 / GREATEST(-(k * sxy - sx * sy)
             / (k * sxx - sx * sx), 1e-9) * 100) / 100.0
         AS half_life_days
FROM m
""",
   engine_sql="""
WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id),
     a AS (SELECT DATEDIFF(CAST(e.ts AS DATE), fu.d0) AS age_d
           FROM events e JOIN fu ON fu.user_id = e.user_id),
     c AS (SELECT age_d, CAST(COUNT(*) AS BIGINT) AS n FROM a
           WHERE age_d BETWEEN 0 AND 20 GROUP BY age_d),
     f AS (SELECT CAST(age_d AS DOUBLE) AS x,
                  LN(CAST(n AS DOUBLE)) AS y
           FROM c),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(x) AS sx,
                  SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
           FROM f)
SELECT CAST(k AS BIGINT) AS n_days,
       FLOOR(-(k * sxy - sx * sy) / (k * sxx - sx * sx) * 1000000)
         / 1000000.0 AS decay_lambda,
       FLOOR(0.693147 / GREATEST(-(k * sxy - sx * sy)
             / (k * sxx - sx * sx), 1e-9) * 100) / 100.0
         AS half_life_days
FROM m
""")

# ---------------------------------------------------------------- B706
# DAU/MAU stickiness: daily actives over trailing-30-day distinct
# actives — engine uses the scale-correct day-offset explode rewrite
# (q498's shape); the oracle states it as a range self-join.
_q("q665_dau_mau",
   oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
     dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud
             GROUP BY day),
     mau AS (SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
               AS mau
             FROM (SELECT DISTINCT day FROM ud) d
             JOIN ud u ON u.day <= d.day
                      AND u.day > d.day - INTERVAL 30 DAY
             GROUP BY d.day)
SELECT dau.day, dau.dau, mau.mau,
       FLOOR(dau.dau * 1000000.0 / mau.mau) / 1000000.0 AS stickiness
FROM dau JOIN mau ON mau.day = dau.day ORDER BY dau.day
""",
   engine_sql="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
     dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud
             GROUP BY day),
     x AS (SELECT user_id, DATE_ADD(day, off) AS day
           FROM ud LATERAL VIEW EXPLODE(SEQUENCE(0, 29)) t AS off),
     mau AS (SELECT d.day, CAST(COUNT(DISTINCT x.user_id) AS BIGINT)
               AS mau
             FROM (SELECT DISTINCT day FROM ud) d
             JOIN x ON x.day = d.day
             GROUP BY d.day)
SELECT dau.day, dau.dau, mau.mau,
       FLOOR(dau.dau * 1000000.0 / mau.mau) / 1000000.0 AS stickiness
FROM dau JOIN mau ON mau.day = dau.day ORDER BY dau.day
""")

# ---------------------------------------------------------------- B707
# Hill tail-index estimator: α from the top-k order statistics of
# order values (k = 100 by rank), Σ ln(xᵢ/x_min) over the tail —
# the power-law heaviness measure.
_q("q666_hill_estimator",
   oracle="""
WITH v AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
                  ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                     o_orderkey) AS rk
           FROM orders),
     top AS (SELECT c FROM v WHERE rk <= 100),
     xm AS (SELECT MIN(c) AS cmin FROM top)
SELECT CAST(COUNT(*) AS BIGINT) AS k_tail,
       CAST(xm.cmin AS BIGINT) AS tail_threshold_cents,
       -- NULLIF totality guard: an all-equal tail (sf10's replica
       -- construction copies o_totalprice, so the global top-100 is
       -- one value repeated) gives SUM(LN)=0 — the estimator is
       -- undefined there; NULL on both engines, not ANSI throw vs inf
       FLOOR(COUNT(*) / NULLIF(SUM(LN(CAST(top.c AS DOUBLE) / xm.cmin)),
                               0.0)
             * 10000) / 10000.0 AS hill_alpha
FROM top CROSS JOIN xm GROUP BY xm.cmin
""",
   engine_sql="""
WITH top AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
             FROM orders
             -- top-k order statistics via TakeOrderedAndProject:
             -- per-partition heaps, no global rank window
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
     xm AS (SELECT MIN(c) AS cmin FROM top)
SELECT CAST(COUNT(*) AS BIGINT) AS k_tail,
       CAST(xm.cmin AS BIGINT) AS tail_threshold_cents,
       -- NULLIF totality guard: an all-equal tail (sf10's replica
       -- construction copies o_totalprice, so the global top-100 is
       -- one value repeated) gives SUM(LN)=0 — the estimator is
       -- undefined there; NULL on both engines, not ANSI throw vs inf
       FLOOR(COUNT(*) / NULLIF(SUM(LN(CAST(top.c AS DOUBLE) / xm.cmin)),
                               0.0)
             * 10000) / 10000.0 AS hill_alpha
FROM top CROSS JOIN xm GROUP BY xm.cmin
""")

# ---------------------------------------------------------------- B708
# Gumbel fit of monthly maxima (method of moments): block maxima →
# scale β = s√6/π, location μ = m − 0.5772β, plus the 12-month
# return level — the extreme-value capacity estimate.
_q("q667_gumbel_maxima", """
WITH mm AS (SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS mon,
                   CAST(FLOOR(MAX(CAST(ROUND(l_extendedprice * 100)
                                       AS BIGINT)) / 100) AS BIGINT)
                     AS mx
            FROM lineitem GROUP BY DATE_TRUNC('month', l_shipdate)),
     m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(mx) AS sx,
                  SUM(mx * mx) AS sxx
           FROM mm),
     p AS (SELECT n,
                  CAST(sx AS DOUBLE) / n AS mean_mx,
                  SQRT((CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx / n) / (n - 1))
                    AS sd_mx
           FROM m),
     fit AS (SELECT n, mean_mx, sd_mx,
                    sd_mx * 0.779697 AS beta
             FROM p)
SELECT CAST(n AS BIGINT) AS n_months,
       FLOOR((mean_mx - 0.5772 * beta) * 100) / 100.0 AS gumbel_mu,
       FLOOR(beta * 100) / 100.0 AS gumbel_beta,
       FLOOR((mean_mx - 0.5772 * beta
              - beta * LN(-LN(CAST(11 AS DOUBLE) / 12))) * 100) / 100.0
         AS return_level_12mo
FROM fit
""")

# ---------------------------------------------------------------- B709
# Mean-excess function at DISC thresholds (p50–p95): E[X−u | X>u] —
# rising mean excess diagnoses heavy tails (the EVT triage plot
# source), exact integer sums per threshold.
_q("q668_mean_excess", """
WITH v AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
     cut AS (SELECT
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) AS u1,
               PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY c) AS u2,
               PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY c) AS u3,
               PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY c) AS u4
             FROM v),
     agg AS (SELECT
               SUM(CASE WHEN v.c > cut.u1 THEN v.c - cut.u1 END) AS e1,
               SUM(CASE WHEN v.c > cut.u1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN v.c > cut.u2 THEN v.c - cut.u2 END) AS e2,
               SUM(CASE WHEN v.c > cut.u2 THEN 1 ELSE 0 END) AS n2,
               SUM(CASE WHEN v.c > cut.u3 THEN v.c - cut.u3 END) AS e3,
               SUM(CASE WHEN v.c > cut.u3 THEN 1 ELSE 0 END) AS n3,
               SUM(CASE WHEN v.c > cut.u4 THEN v.c - cut.u4 END) AS e4,
               SUM(CASE WHEN v.c > cut.u4 THEN 1 ELSE 0 END) AS n4
             FROM v CROSS JOIN cut)
SELECT 'p50' AS threshold,
       FLOOR(CAST(e1 AS DOUBLE) / n1 / 100) / 1.0
         AS mean_excess_dollars
FROM agg
UNION ALL
SELECT 'p75' AS threshold,
       FLOOR(CAST(e2 AS DOUBLE) / n2 / 100) / 1.0
         AS mean_excess_dollars
FROM agg
UNION ALL
SELECT 'p90' AS threshold,
       FLOOR(CAST(e3 AS DOUBLE) / n3 / 100) / 1.0
         AS mean_excess_dollars
FROM agg
UNION ALL
SELECT 'p95' AS threshold,
       FLOOR(CAST(e4 AS DOUBLE) / n4 / 100) / 1.0
         AS mean_excess_dollars
FROM agg
ORDER BY threshold
""")

# ---------------------------------------------------------------- B710
# Tail-heaviness comparison across segments: p99/p90 ratio per
# segment vs the pooled ratio — which customer books carry the
# heavier upside tail, all DISC-exact.
_q("q669_tail_comparison", """
WITH v AS (SELECT c.c_mktsegment AS seg,
                  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS c
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     s AS (SELECT seg,
                  PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY c) AS p90,
                  PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY c) AS p99
           FROM v GROUP BY seg),
     t AS (SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY c) AS p90,
                  PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY c) AS p99
           FROM v)
SELECT s.seg,
       FLOOR(CAST(s.p99 AS DOUBLE) / s.p90 * 10000) / 10000.0
         AS seg_tail_ratio,
       FLOOR(CAST(t.p99 AS DOUBLE) / t.p90 * 10000) / 10000.0
         AS pooled_tail_ratio
FROM s CROSS JOIN t ORDER BY s.seg
""")

# ---------------------------------------------------------------- B711
# Rolling 30-day kurtosis (4th-moment excess) from exact integer
# window sums (DECIMAL(38,0) accumulators since r9: Σx⁴ leaves BIGINT
# at sf10) — the fat-tail monitor beside q661's skewness.
_q("q670_rolling_kurtosis", """
WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 1000000) AS BIGINT)
                    AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY CAST(l_shipdate AS DATE)),
     w AS (SELECT day,
                  SUM(k) OVER w30 AS s1, SUM(k * k) OVER w30 AS s2,
                  -- 3rd/4th moments in DECIMAL(38,0): at sf10 the raw
                  -- k**4 TERM alone is ~6.6e20 (> 2^63) and the 30-day
                  -- sum ~2e22 — same ANSI-overflow class as q661/q468
                  SUM(CAST(k AS DECIMAL(38,0)) * k * k) OVER w30 AS s3,
                  SUM(CAST(k AS DECIMAL(38,0)) * k * k * k)
                    OVER w30 AS s4,
                  COUNT(*) OVER w30 AS n,
                  ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM d
           WINDOW w30 AS (ORDER BY day
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
     m AS (SELECT day, CAST(n AS DOUBLE) AS nn,
                  CAST(s1 AS DOUBLE) AS c1, CAST(s2 AS DOUBLE) AS c2,
                  CAST(s3 AS DOUBLE) AS c3, CAST(s4 AS DOUBLE) AS c4
           FROM w WHERE rn >= 30),
     mom AS (SELECT day, nn, c1 / nn AS mu,
                    c2 / nn - (c1 / nn) * (c1 / nn) AS m2,
                    c4 / nn - 4 * (c1 / nn) * c3 / nn
                    + 6 * (c1 / nn) * (c1 / nn) * c2 / nn
                    - 3 * POWER(c1 / nn, 4) AS m4
             FROM m)
SELECT day,
       FLOOR((m4 / (m2 * m2) - 3) * 10000) / 10000.0 AS excess_kurt30
FROM mom WHERE m2 > 0 ORDER BY day
""")


# ---------------------------------------------------------------- B713
# Weighted percentiles (p50/p90) by running-weight crossing — the
# general-τ upgrade of q318's weighted median, quantity-weighted
# order values, all integer cumulative weights.
_q("q671_weighted_percentiles",
   oracle="""
WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
                  CAST(ROUND(l_quantity) AS BIGINT) AS w
           FROM lineitem),
     r AS (SELECT c, w,
                  SUM(w) OVER (ORDER BY c, w
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cw,
                  SUM(w) OVER () AS tw
           FROM v)
SELECT
  (SELECT CAST(MIN(c) AS BIGINT) FROM r WHERE cw * 2 >= tw)
    AS weighted_p50_cents,
  (SELECT CAST(MIN(c) AS BIGINT) FROM r WHERE cw * 10 >= tw * 9)
    AS weighted_p90_cents
""",
   engine_sql="""
WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
                  CAST(ROUND(l_quantity) AS BIGINT) AS w
           FROM lineitem),
     -- the running weight first crosses a tau threshold inside the
     -- FIRST cents group whose group-END cumulative crosses it, so
     -- MIN(c) is identical computed from per-value weight sums — the
     -- cumulative window runs over the bounded per-cents aggregate,
     -- and the raw-row running sum never exists.
     d AS (SELECT c, SUM(w) AS wc FROM v GROUP BY c),
     t AS (SELECT SUM(wc) AS tw FROM d),
     r AS (SELECT c, SUM(wc) OVER (ORDER BY c) AS cw FROM d)
SELECT
  (SELECT CAST(MIN(c) AS BIGINT) FROM r CROSS JOIN t
   WHERE cw * 2 >= tw) AS weighted_p50_cents,
  (SELECT CAST(MIN(c) AS BIGINT) FROM r CROSS JOIN t
   WHERE cw * 10 >= tw * 9) AS weighted_p90_cents
""")

# ---------------------------------------------------------------- B714
# One raking (IPF) step: reweight rows so segment shares match inline
# target margins — the survey-weighting adjustment, exact integer
# micro-weights.
_q("q672_raking_step", """
WITH tgt AS (SELECT * FROM (VALUES
               ('AUTOMOBILE', 20), ('BUILDING', 20), ('FURNITURE', 20),
               ('HOUSEHOLD', 20), ('MACHINERY', 20)) AS t(seg, pct)),
     act AS (SELECT c_mktsegment AS seg,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM customer GROUP BY c_mktsegment),
     tot AS (SELECT SUM(n) AS nt FROM act),
     w AS (SELECT act.seg, act.n,
                  CAST(FLOOR(tgt.pct * tot.nt * 10000.0
                             / (100 * act.n)) AS BIGINT) AS micro_w
           FROM act JOIN tgt ON tgt.seg = act.seg CROSS JOIN tot)
SELECT seg, n AS n_rows, micro_w,
       CAST(n * micro_w AS BIGINT) AS weighted_micro_total
FROM w ORDER BY seg
""")

# ---------------------------------------------------------------- B715
# Chao1 species-richness estimate: observed vocabulary + n₁²/(2n₂)
# from singleton/doubleton token counts — how many word types the
# corpus has NOT yet shown (q410's Good–Turing companion).
_q("q673_chao1_richness",
   oracle="""
WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM documents, UNNEST(STRING_SPLIT(text,' ')) AS u(tok)
           GROUP BY tok),
     s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS f1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS f2
           FROM f)
SELECT v AS observed_types,
       CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
       FLOOR((v + f1 * f1 / (2 * GREATEST(f2, 1))) * 100) / 100.0
         AS chao1_estimate
FROM s
""",
   engine_sql="""
WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM (SELECT EXPLODE(SPLIT(text, ' ')) AS tok
                 FROM documents) x
           GROUP BY tok),
     s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS f1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                       AS DOUBLE) AS f2
           FROM f)
SELECT v AS observed_types,
       CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
       FLOOR((v + f1 * f1 / (2 * GREATEST(f2, 1))) * 100) / 100.0
         AS chao1_estimate
FROM s
""")

# ---------------------------------------------------------------- B716
# Delete-one-group jackknife: leave-one-segment-out pseudo-means of
# order value and the jackknife variance of the overall mean — the
# grouped-resampling uncertainty estimate, exact totals throughout.
_q("q674_jackknife_variance", """
WITH g AS (SELECT c.c_mktsegment AS seg,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)) AS s
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment),
     t AS (SELECT SUM(n) AS nt, SUM(s) AS st,
                  CAST(COUNT(*) AS BIGINT) AS k
           FROM g),
     pseudo AS (SELECT g.seg,
                       CAST(t.st - g.s AS DOUBLE) / (t.nt - g.n) AS loo
                FROM g CROSS JOIN t),
     m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(loo) AS sl,
                  SUM(loo * loo) AS sll
           FROM pseudo)
SELECT CAST(k AS BIGINT) AS n_groups,
       FLOOR(sl / k * 100) / 100.0 AS mean_loo_dollars,
       FLOOR((k - 1) / k * (sll - sl * sl / k) * 10000) / 10000.0
         AS jackknife_var
FROM m
""")

# ---------------------------------------------------------------- B717
# Lincoln–Petersen capture–recapture: two independent hash samples'
# overlap → estimated population size vs the true count — the
# mark-recapture estimator verified against its own ground truth.
_q("q675_capture_recapture",
   oracle="""
WITH s1 AS (SELECT doc_id FROM documents
            WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                  || ':cap1'), 1, 8) AS BIGINT) % 10 < 4),
     s2 AS (SELECT doc_id FROM documents
            WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                  || ':cap2'), 1, 8) AS BIGINT) % 10 < 4),
     ov AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m
            FROM s1 JOIN s2 ON s2.doc_id = s1.doc_id),
     c AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM s1) AS n1,
                  (SELECT CAST(COUNT(*) AS DOUBLE) FROM s2) AS n2,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                    AS truth)
SELECT CAST(c.n1 AS BIGINT) AS marked, CAST(c.n2 AS BIGINT) AS recaught,
       CAST(ov.m AS BIGINT) AS overlap,
       CAST(FLOOR(c.n1 * c.n2 / GREATEST(ov.m, 1)) AS BIGINT)
         AS lp_estimate,
       c.truth AS true_population
FROM c CROSS JOIN ov
""",
   engine_sql="""
WITH s1 AS (SELECT doc_id FROM documents
            WHERE CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                  || ':cap1'), 1, 8), 16, 10) AS BIGINT) % 10 < 4),
     s2 AS (SELECT doc_id FROM documents
            WHERE CAST(CONV(SUBSTR(MD5(CAST(doc_id AS STRING)
                  || ':cap2'), 1, 8), 16, 10) AS BIGINT) % 10 < 4),
     ov AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m
            FROM s1 JOIN s2 ON s2.doc_id = s1.doc_id),
     c AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM s1) AS n1,
                  (SELECT CAST(COUNT(*) AS DOUBLE) FROM s2) AS n2,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                    AS truth)
SELECT CAST(c.n1 AS BIGINT) AS marked, CAST(c.n2 AS BIGINT) AS recaught,
       CAST(ov.m AS BIGINT) AS overlap,
       CAST(FLOOR(c.n1 * c.n2 / GREATEST(ov.m, 1)) AS BIGINT)
         AS lp_estimate,
       c.truth AS true_population
FROM c CROSS JOIN ov
""")

# ---------------------------------------------------------------- B718
# Longest above/below-median streaks per flag: gaps-and-islands on
# the sign series — the streak-length extremes a run-based monitor
# tracks (q472's runs test counts them; this finds the longest).
_q("q676_longest_streaks", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100) AS BIGINT) AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     med AS (SELECT flag,
                    PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY k) AS m
             FROM d GROUP BY flag),
     s AS (SELECT d.flag, d.day,
                  CASE WHEN d.k > med.m THEN 1 ELSE 0 END AS up
           FROM d JOIN med ON med.flag = d.flag WHERE d.k <> med.m),
     g AS (SELECT flag, day, up,
                  ROW_NUMBER() OVER (PARTITION BY flag ORDER BY day)
                  - ROW_NUMBER() OVER (PARTITION BY flag, up
                                       ORDER BY day) AS grp
           FROM s),
     runs AS (SELECT flag, up, grp, CAST(COUNT(*) AS BIGINT) AS len
              FROM g GROUP BY flag, up, grp)
SELECT flag,
       CAST(MAX(CASE WHEN up = 1 THEN len ELSE 0 END) AS BIGINT)
         AS longest_up_streak,
       CAST(MAX(CASE WHEN up = 0 THEN len ELSE 0 END) AS BIGINT)
         AS longest_down_streak
FROM runs GROUP BY flag ORDER BY flag
""")

# ---------------------------------------------------------------- B719
# Running-record counting: new all-time-high days per flag vs the
# ~ln(n) expectation under exchangeability — too many records means
# trend, all integer comparisons.
_q("q677_record_counting", """
WITH d AS (SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)) / 100) AS BIGINT) AS k
           FROM lineitem WHERE l_shipdate IS NOT NULL
           GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
     r AS (SELECT flag, day, k,
                  MAX(k) OVER (PARTITION BY flag ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prior_max,
                  COUNT(*) OVER (PARTITION BY flag) AS n
           FROM d)
SELECT flag, CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN prior_max IS NULL OR k > prior_max
                THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       FLOOR(LN(CAST(MAX(n) AS DOUBLE)) * 100) / 100.0
         AS expected_records_ln_n
FROM r GROUP BY flag ORDER BY flag
""")

# ---------------------------------------------------------------- B720
# Turning-point randomness check: local extrema count vs the
# 2(n−2)/3 expectation — the nonparametric trend screen from LAG/LEAD
# sign geometry.
_q("q678_turning_points", """
WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100)
                                      AS BIGINT)) / 100000) AS BIGINT)
                    AS k
           FROM orders GROUP BY CAST(o_orderdate AS DATE)),
     s AS (SELECT day, k,
                  LAG(k) OVER (ORDER BY day) AS pk,
                  LEAD(k) OVER (ORDER BY day) AS nk,
                  COUNT(*) OVER () AS n
           FROM d),
     t AS (SELECT n,
                  CASE WHEN (k > pk AND k > nk)
                         OR (k < pk AND k < nk) THEN 1 ELSE 0 END AS tp
           FROM s WHERE pk IS NOT NULL AND nk IS NOT NULL)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(SUM(tp) AS BIGINT) AS turning_points,
       FLOOR(2.0 * (MAX(n) - 2) / 3 * 100) / 100.0 AS expected_tp
FROM t
""")

# ---------------------------------------------------------------- B721
# Theil index of inequality (entropy-based, decomposable): customer
# spend concentration per segment — the between/within-decomposable
# alternative to Gini (q296), exact integer spends in.
_q("q679_theil_index", """
WITH s AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                  SUM(CAST(FLOOR(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT) / 100) AS BIGINT)) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY c.c_mktsegment, o.o_custkey),
     m AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS sv
           FROM s GROUP BY seg),
     t AS (SELECT s.seg,
                  SUM((CAST(s.v AS DOUBLE) / m.sv)
                      * LN(CAST(s.v AS DOUBLE) * m.n / m.sv)) AS theil
           FROM s JOIN m ON m.seg = s.seg
           WHERE s.v > 0 GROUP BY s.seg)
SELECT seg, FLOOR(theil * 10000) / 10000.0 AS theil_index
FROM t ORDER BY seg
""")


# ---------------------------------------------------------------- B722
# Parquet round-trip checksum: the ENGINE writes the filtered orders
# to parquet, reads it back and computes an orderless md5-derived
# checksum; the oracle computes the same checksum directly — a sink
# round-trip gated by the driver's hash compare.
def _q680_builder(spark: SparkSession) -> DataFrame:
    import tempfile

    from shredder_spark import catalog
    orders = catalog.load_table(spark, catalog.CURRENT_SF_DIR, "orders")
    sel = (orders.filter(F.col("o_totalprice") > 100000)
           .select("o_orderkey",
                   F.round(F.col("o_totalprice") * 100).cast("long")
                   .alias("cents")))
    path = tempfile.mkdtemp(prefix="q680_roundtrip_") + "/orders"
    sel.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (back.select(
        F.conv(F.substring(F.md5(F.concat_ws(":",
               F.col("o_orderkey").cast("string"),
               F.col("cents").cast("string"))), 1, 8), 16, 10)
        .cast("long").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum("h").cast("long").alias("checksum")))


_q("q680_parquet_roundtrip_checksum",
   oracle="""
WITH sel AS (SELECT o_orderkey,
                    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             FROM orders WHERE o_totalprice > 100000)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)
                 || ':' || CAST(cents AS VARCHAR)), 1, 8) AS BIGINT))
            AS BIGINT) AS checksum
FROM sel
""",
   builder=_q680_builder)


# ---------------------------------------------------------------- B730
# Grouped weighted percentiles: quantity-weighted p50/p90 of line
# value PER return-flag group — q671's general-tau crossing, but
# partitioned (scale-safe by construction: the cumulative window runs
# inside each group over the bounded per-cents aggregate).
_q("q681_grouped_weighted_percentiles",
   oracle="""
WITH v AS (SELECT l_returnflag AS g,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
                  CAST(ROUND(l_quantity) AS BIGINT) AS w
           FROM lineitem),
     d AS (SELECT g, c, SUM(w) AS wc FROM v GROUP BY g, c),
     t AS (SELECT g, SUM(wc) AS tw FROM d GROUP BY g),
     r AS (SELECT d.g, d.c,
                  SUM(d.wc) OVER (PARTITION BY d.g ORDER BY d.c) AS cw,
                  t.tw
           FROM d JOIN t ON t.g = d.g)
SELECT g AS returnflag,
       CAST(MIN(CASE WHEN cw * 2 >= tw THEN c END) AS BIGINT)
         AS weighted_p50_cents,
       CAST(MIN(CASE WHEN cw * 10 >= tw * 9 THEN c END) AS BIGINT)
         AS weighted_p90_cents
FROM r GROUP BY g ORDER BY returnflag
""")

# ---------------------------------------------------------------- B731
# Grouped weighted sample (A-Res per segment): top-20 orders per
# market segment by the Efraimidis-Spirakis key ln(u)/w with a
# deterministic md5 uniform — q275's per-group complement; the rank
# window is PARTITIONED by segment, so each task handles one
# segment's heap at any scale.
_q("q682_grouped_weighted_sample",
   oracle="""
WITH w AS (SELECT c.c_mktsegment AS seg, o.o_orderkey,
                  CAST(o.o_totalprice AS DOUBLE) AS wt,
                  (CAST(('0x' || SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)),
                         1, 8)) AS UBIGINT) + 1) / 4294967296.0 AS u
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     k AS (SELECT seg, o_orderkey, wt, LN(u) / wt AS k FROM w WHERE wt > 0),
     r AS (SELECT seg, o_orderkey, wt,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY k DESC, o_orderkey) AS rn
           FROM k)
SELECT seg, o_orderkey, ROUND(wt, 2) AS wt
FROM r WHERE rn <= 20 ORDER BY seg, o_orderkey
""",
   engine_sql="""
WITH w AS (SELECT c.c_mktsegment AS seg, o.o_orderkey,
                  CAST(o.o_totalprice AS DOUBLE) AS wt,
                  (CAST(CONV(SUBSTRING(MD5(CAST(o.o_orderkey AS STRING)),
                             1, 8), 16, 10) AS DOUBLE) + 1)
                  / 4294967296.0 AS u
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
     k AS (SELECT seg, o_orderkey, wt, LN(u) / wt AS k FROM w WHERE wt > 0),
     r AS (SELECT seg, o_orderkey, wt,
                  ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY k DESC, o_orderkey) AS rn
           FROM k)
SELECT seg, o_orderkey, ROUND(wt, 2) AS wt
FROM r WHERE rn <= 20 ORDER BY seg, o_orderkey
""")

# ---------------------------------------------------------------- B736
# Reciprocal-rank fusion: the standard hybrid-retrieval combiner —
# BM25 top-20 for a term and cosine top-20 for a query embedding
# (q500's two rankers) fused per doc as SUM(1/(60+rank)), top-10 by
# fused score. The fused sum has at most two terms per doc (one per
# ranker, FULL OUTER JOIN), so the double arithmetic is a fixed
# two-operand expression — deterministic across engines. Scale shape:
# each ranker is its own distributed plan producing a tiny top-k;
# fusion joins two k-row sides (broadcast at any corpus size).
_q("q683_reciprocal_rank_fusion",
   oracle="""
WITH tf AS (SELECT doc_id, u.tok AS tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(tok)
            GROUP BY doc_id, u.tok),
     dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
     c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  SUM(dl.dl) / COUNT(*) AS avgdl
           FROM dl),
     hit AS (SELECT tf.doc_id, tf.tf, dl.dl,
                    CAST(COUNT(*) OVER () AS DOUBLE) AS df
             FROM tf JOIN dl ON dl.doc_id = tf.doc_id
             WHERE tf.tok = 'spark'),
     bm AS (SELECT hit.doc_id,
                   LN((c.n - hit.df + 0.5) / (hit.df + 0.5) + 1)
                   * hit.tf * 2.2
                   / (hit.tf + 1.2 * (0.25 + 0.75 * hit.dl / c.avgdl))
                     AS score
            FROM hit CROSS JOIN c),
     bmr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM bm),
     qv AS (SELECT g.i AS i,
                   CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding)))
              AS g(i)
            WHERE vec_id = 0),
     ev AS (SELECT e.vec_id, g.i AS i,
                   CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings e,
                 UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS g(i)
            WHERE e.vec_id <> 0),
     dots AS (SELECT ev.vec_id, SUM(ev.q * qv.q) AS dot,
                     SUM(ev.q * ev.q) AS n2
              FROM ev JOIN qv ON qv.i = ev.i GROUP BY ev.vec_id
              HAVING SUM(ev.q * ev.q) > 0),
     qn AS (SELECT SUM(q * q) AS qn2 FROM qv),
     cs AS (SELECT d.vec_id AS doc_id,
                   d.dot / (SQRT(CAST(d.n2 AS DOUBLE))
                            * SQRT(CAST(qn.qn2 AS DOUBLE))) AS score
            FROM dots d CROSS JOIN qn WHERE qn.qn2 > 0),
     csr AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM cs),
     f AS (SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
                  COALESCE(CAST(1 AS DOUBLE) / (60 + b.rk), 0)
                  + COALESCE(CAST(1 AS DOUBLE) / (60 + v.rk), 0) AS rrf,
                  b.rk AS bm25_rank, v.rk AS cosine_rank
           FROM (SELECT doc_id, rk FROM bmr WHERE rk <= 20) b
           FULL OUTER JOIN
                (SELECT doc_id, rk FROM csr WHERE rk <= 20) v
             ON v.doc_id = b.doc_id)
SELECT doc_id,
       CAST(FLOOR(rrf * 10000000) AS BIGINT) AS rrf_e7,
       CAST(bm25_rank AS BIGINT) AS bm25_rank,
       CAST(cosine_rank AS BIGINT) AS cosine_rank
FROM f ORDER BY rrf DESC, doc_id LIMIT 10
""",
   engine_sql="""
WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS tok
                  FROM documents) x
            GROUP BY doc_id, tok),
     dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
     c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  SUM(dl.dl) / COUNT(*) AS avgdl
           FROM dl),
     hit AS (SELECT tf.doc_id, tf.tf, dl.dl,
                    CAST(COUNT(*) OVER () AS DOUBLE) AS df
             FROM tf JOIN dl ON dl.doc_id = tf.doc_id
             WHERE tf.tok = 'spark'),
     bm AS (SELECT hit.doc_id,
                   LN((c.n - hit.df + 0.5) / (hit.df + 0.5) + 1)
                   * hit.tf * 2.2
                   / (hit.tf + 1.2 * (0.25 + 0.75 * hit.dl / c.avgdl))
                     AS score
            FROM hit CROSS JOIN c),
     bmr AS (SELECT doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM bm),
     qv AS (SELECT pos AS i,
                   CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
            FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos,
              val
            WHERE vec_id = 0),
     ev AS (SELECT vec_id, pos AS i,
                   CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS q
            FROM embeddings LATERAL VIEW POSEXPLODE(embedding) t AS pos,
              val
            WHERE vec_id <> 0),
     dots AS (SELECT ev.vec_id, SUM(ev.q * qv.q) AS dot,
                     SUM(ev.q * ev.q) AS n2
              FROM ev JOIN qv ON qv.i = ev.i GROUP BY ev.vec_id
              HAVING SUM(ev.q * ev.q) > 0),
     qn AS (SELECT SUM(q * q) AS qn2 FROM qv),
     cs AS (SELECT d.vec_id AS doc_id,
                   d.dot / (SQRT(CAST(d.n2 AS DOUBLE))
                            * SQRT(CAST(qn.qn2 AS DOUBLE))) AS score
            FROM dots d CROSS JOIN qn WHERE qn.qn2 > 0),
     csr AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, score,
                    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             FROM cs),
     f AS (SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
                  COALESCE(CAST(1 AS DOUBLE) / (60 + b.rk), 0)
                  + COALESCE(CAST(1 AS DOUBLE) / (60 + v.rk), 0) AS rrf,
                  b.rk AS bm25_rank, v.rk AS cosine_rank
           FROM (SELECT doc_id, rk FROM bmr WHERE rk <= 20) b
           FULL OUTER JOIN
                (SELECT doc_id, rk FROM csr WHERE rk <= 20) v
             ON v.doc_id = b.doc_id)
SELECT doc_id,
       CAST(FLOOR(rrf * 10000000) AS BIGINT) AS rrf_e7,
       CAST(bm25_rank AS BIGINT) AS bm25_rank,
       CAST(cosine_rank AS BIGINT) AS cosine_rank
FROM f ORDER BY rrf DESC, doc_id LIMIT 10
""")

# ---------------------------------------------------------------- B737
# MMR diversified top-k: greedy Maximal Marginal Relevance re-rank
# (Carbonell & Goldstein 1998) of the cosine top-30 candidates for
# query vec 0 — lam*rel - mu*max-sim-to-selected, 10 picks. Engine =
# operators/similarity.mmr_rerank (distributed candidate generation +
# one bounded applyInPandas group); oracle = the SAME greedy unrolled
# as 10 chained argmax CTEs (greedy selection is not expressible as a
# single relational fixpoint, but a FIXED-k unroll is plain SQL).
# Quantized integer dots make both sides' doubles identical IEEE
# expressions, so the compare is exact.


def _mmr_oracle_sql(k: int = 10) -> str:
    head = """
WITH qv AS MATERIALIZED (SELECT g.i AS i,
                   CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding)))
              AS g(i)
            WHERE vec_id = 0),
     qn AS MATERIALIZED (SELECT SUM(q * q) AS qn2 FROM qv),
     ev AS MATERIALIZED (SELECT e.vec_id, g.i AS i,
                   CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 10000)
                        AS BIGINT) AS q
            FROM embeddings e,
                 UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS g(i)
            WHERE e.vec_id <> 0),
     dn AS MATERIALIZED (SELECT ev.vec_id, SUM(ev.q * qv.q) AS dot,
                   SUM(ev.q * ev.q) AS n2
            FROM ev JOIN qv ON qv.i = ev.i GROUP BY ev.vec_id),
     cand AS MATERIALIZED (SELECT d.vec_id AS id,
                     d.dot / (SQRT(CAST(d.n2 AS DOUBLE))
                              * SQRT(CAST(qn.qn2 AS DOUBLE))) AS rel
              FROM dn d CROSS JOIN qn
              WHERE d.n2 > 0 AND qn.qn2 > 0
              ORDER BY rel DESC, d.vec_id LIMIT 30),
     pe AS MATERIALIZED (SELECT ev.vec_id, ev.i, ev.q
            FROM ev JOIN cand c ON c.id = ev.vec_id),
     pn AS MATERIALIZED (SELECT vec_id, SUM(q * q) AS n2 FROM pe GROUP BY vec_id),
     sims AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
                     SUM(a.q * b.q)
                     / (SQRT(CAST(na.n2 AS DOUBLE))
                        * SQRT(CAST(nb.n2 AS DOUBLE))) AS sim
              FROM pe a JOIN pe b ON b.i = a.i AND b.vec_id <> a.vec_id
              JOIN pn na ON na.vec_id = a.vec_id
              JOIN pn nb ON nb.vec_id = b.vec_id
              GROUP BY a.vec_id, b.vec_id, na.n2, nb.n2),
     s1 AS MATERIALIZED (SELECT id, rel, 1 AS step, CAST(0.7 AS DOUBLE) * rel AS score
            FROM cand ORDER BY rel DESC, id LIMIT 1)"""
    parts = [head]
    for i in range(2, k + 1):
        parts.append(f""",
     p{i} AS MATERIALIZED (SELECT c.id, c.rel,
                   CAST(0.7 AS DOUBLE) * c.rel
                   - CAST(0.3 AS DOUBLE) * MAX(s.sim) AS score
            FROM cand c JOIN sims s ON s.va = c.id
            WHERE s.vb IN (SELECT id FROM s{i - 1})
              AND c.id NOT IN (SELECT id FROM s{i - 1})
            GROUP BY c.id, c.rel
            ORDER BY score DESC, c.id LIMIT 1),
     s{i} AS MATERIALIZED (SELECT * FROM s{i - 1}
            UNION ALL SELECT id, rel, {i} AS step, score FROM p{i})""")
    parts.append(f"""
SELECT CAST(step AS BIGINT) AS step, id AS vec_id,
       CAST(FLOOR(rel * 10000000) AS BIGINT) AS rel_e7,
       CAST(FLOOR(score * 10000000) AS BIGINT) AS score_e7
FROM s{k} ORDER BY step""")
    return "".join(parts)


def _q684_builder(spark: SparkSession) -> DataFrame:
    from shredder_spark.operators.similarity import mmr_rerank

    emb = spark.table("embeddings")
    df = mmr_rerank(emb, 0, n_candidates=30, k=10, lam=0.7, mu=0.3)
    return df.select(
        "step", "vec_id",
        F.floor(F.col("rel") * 10000000).cast("long").alias("rel_e7"),
        F.floor(F.col("score") * 10000000).cast("long").alias("score_e7"))


_q("q684_mmr_diversified_topk",
   oracle=_mmr_oracle_sql(10),
   builder=_q684_builder)


# ---------------------------------------------------------------- B753
# Bit-packed sign-signature ANN (Charikar SRP compressed to its
# storage-minimal form): each 64-dim vector's sign bits pack into two
# 32-bit words (two BIGINTs — portable: no signed-shift-63 edge on
# either engine), Hamming distance = BIT_COUNT(XOR) per word, top-5
# neighbors per probe. 64x storage shrink vs float32; the candidate
# scan moves 16 bytes/vector instead of 256 and the distance kernel is
# two popcounts — the shape a 100 TB ANN first pass wants. NULL /
# ragged vectors excluded per the B738 totality convention; NULL
# elements contribute 0 bits identically on both dialects.
_q("q685_hamming_signature_topk",
   oracle="""
WITH t AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
sig AS (SELECT vec_id,
  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32),
      i -> CASE WHEN v[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32, 64),
      i -> CASE WHEN v[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - 32))
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
  FROM t),
d AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             CAST(BIT_COUNT(XOR(p.w0, c.w0))
                  + BIT_COUNT(XOR(p.w1, c.w1)) AS BIGINT) AS hamming
      FROM sig p JOIN sig c ON p.vec_id < 8 AND c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY hamming, neighbor_id) AS rnk
      FROM d)
SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, hamming
FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk
""",
   engine_sql="""
WITH t AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL AND SIZE(embedding) = 64),
sig AS (SELECT vec_id,
  AGGREGATE(SEQUENCE(0, 31), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(ELEMENT_AT(v, i + 1) > 0,
                           SHIFTLEFT(CAST(1 AS BIGINT), i),
                           CAST(0 AS BIGINT))) AS w0,
  AGGREGATE(SEQUENCE(32, 63), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(ELEMENT_AT(v, i + 1) > 0,
                           SHIFTLEFT(CAST(1 AS BIGINT), i - 32),
                           CAST(0 AS BIGINT))) AS w1
  FROM t),
d AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             CAST(BIT_COUNT(p.w0 ^ c.w0)
                  + BIT_COUNT(p.w1 ^ c.w1) AS BIGINT) AS hamming
      FROM sig p JOIN sig c ON p.vec_id < 8 AND c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY hamming, neighbor_id) AS rnk
      FROM d)
SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, hamming
FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk
""")

# ---------------------------------------------------------------- B754
# Two-stage asymmetric ANN: Hamming signatures prefilter to 20
# candidates per probe (16 bytes/vector scanned), then ONLY those
# 20 pairs pay the exact cosine rerank (quantized integer dots per the
# q465 determinism idiom) for the final top-5. The production
# retrieve-then-rerank shape: the expensive kernel's row count is set
# by k, not by corpus size. Recall vs single-stage exact cosine is
# pinned in tests/test_hamming_ann.py.
_q("q686_hamming_prefilter_cosine_rerank",
   oracle="""
WITH t AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
sig AS (SELECT vec_id,
  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32),
      i -> CASE WHEN v[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32, 64),
      i -> CASE WHEN v[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - 32))
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
  FROM t),
cand AS (SELECT probe_id, neighbor_id FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY BIT_COUNT(XOR(p.w0, c.w0))
                      + BIT_COUNT(XOR(p.w1, c.w1)), c.vec_id) AS rnk
    FROM sig p JOIN sig c ON p.vec_id < 5 AND c.vec_id <> p.vec_id)
  WHERE rnk <= 20),
q AS (SELECT vec_id, g.i AS i,
             CAST(ROUND(CAST(v[g.i] AS DOUBLE) * 10000) AS BIGINT) AS qv
      FROM t, UNNEST(GENERATE_SERIES(1, LEN(v))) AS g(i)),
n AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM q GROUP BY vec_id
      HAVING SUM(qv * qv) > 0),
dot AS (SELECT cand.probe_id, cand.neighbor_id, SUM(a.qv * b.qv) AS dp
        FROM cand JOIN q a ON a.vec_id = cand.probe_id
                  JOIN q b ON b.vec_id = cand.neighbor_id AND b.i = a.i
        GROUP BY cand.probe_id, cand.neighbor_id),
s AS (SELECT dot.probe_id, dot.neighbor_id,
             dot.dp / (SQRT(CAST(na.n2 AS DOUBLE))
                       * SQRT(CAST(nb.n2 AS DOUBLE))) AS cos,
             ROW_NUMBER() OVER (PARTITION BY dot.probe_id
               ORDER BY dot.dp / (SQRT(CAST(na.n2 AS DOUBLE))
                        * SQRT(CAST(nb.n2 AS DOUBLE))) DESC,
                        dot.neighbor_id) AS rk
      FROM dot JOIN n na ON na.vec_id = dot.probe_id
               JOIN n nb ON nb.vec_id = dot.neighbor_id)
SELECT probe_id, CAST(rk AS BIGINT) AS rnk, neighbor_id,
       CAST(FLOOR(cos * 10000) / 10000.0 AS DOUBLE) AS cos_sim
FROM s WHERE rk <= 5 ORDER BY probe_id, rnk
""",
   engine_sql="""
WITH t AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL AND SIZE(embedding) = 64),
sig AS (SELECT vec_id,
  AGGREGATE(SEQUENCE(0, 31), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(ELEMENT_AT(v, i + 1) > 0,
                           SHIFTLEFT(CAST(1 AS BIGINT), i),
                           CAST(0 AS BIGINT))) AS w0,
  AGGREGATE(SEQUENCE(32, 63), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(ELEMENT_AT(v, i + 1) > 0,
                           SHIFTLEFT(CAST(1 AS BIGINT), i - 32),
                           CAST(0 AS BIGINT))) AS w1
  FROM t),
cand AS (SELECT probe_id, neighbor_id FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY BIT_COUNT(p.w0 ^ c.w0)
                      + BIT_COUNT(p.w1 ^ c.w1), c.vec_id) AS rnk
    FROM sig p JOIN sig c ON p.vec_id < 5 AND c.vec_id <> p.vec_id)
  WHERE rnk <= 20),
q AS (SELECT vec_id, pos + 1 AS i,
             CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS qv
      FROM t LATERAL VIEW POSEXPLODE(v) x AS pos, val),
n AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM q GROUP BY vec_id
      HAVING SUM(qv * qv) > 0),
dot AS (SELECT cand.probe_id, cand.neighbor_id, SUM(a.qv * b.qv) AS dp
        FROM cand JOIN q a ON a.vec_id = cand.probe_id
                  JOIN q b ON b.vec_id = cand.neighbor_id AND b.i = a.i
        GROUP BY cand.probe_id, cand.neighbor_id),
s AS (SELECT dot.probe_id, dot.neighbor_id,
             dot.dp / (SQRT(CAST(na.n2 AS DOUBLE))
                       * SQRT(CAST(nb.n2 AS DOUBLE))) AS cos,
             ROW_NUMBER() OVER (PARTITION BY dot.probe_id
               ORDER BY dot.dp / (SQRT(CAST(na.n2 AS DOUBLE))
                        * SQRT(CAST(nb.n2 AS DOUBLE))) DESC,
                        dot.neighbor_id) AS rk
      FROM dot JOIN n na ON na.vec_id = dot.probe_id
               JOIN n nb ON nb.vec_id = dot.neighbor_id)
SELECT probe_id, CAST(rk AS BIGINT) AS rnk, neighbor_id,
       CAST(FLOOR(cos * 10000) / 10000.0 AS DOUBLE) AS cos_sim
FROM s WHERE rk <= 5 ORDER BY probe_id, rnk
""")
