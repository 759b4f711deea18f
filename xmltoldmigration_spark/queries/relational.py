"""Relational operator embodiments (SURVEY.md §2.1/2.2/2.4/2.5, §2.7).

Numeric discipline for oracle bit-parity: monetary/quantity doubles are cast
to DECIMAL(18,2) *before* aggregation (decimal addition is exact and
order-independent, so results don't depend on partitioning), then cast back
to DOUBLE once at the end. Dates/timestamps are emitted as formatted strings
so Spark/DuckDB timezone representations can't diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from xmltoldmigration_spark.queries import register
from xmltoldmigration_spark.tables import load_table


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (A9 stage-stats / two-phase agg).
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="A9, §2.7 aggregation (two-phase partial+final)",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# S1/F1/F4: scan + projection + pushed-down filter.
# --------------------------------------------------------------------------
@register(
    "s1_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-01-01 00:00:00' AND l_quantity > 40
    """,
    survey_ref="S1, F1, F4 (scan + filter + project; pushdown)",
)
def s1_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_quantity") > 40)
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


# --------------------------------------------------------------------------
# F2/C9: regex extraction (withdrawn-redirect RID extraction analog).
# --------------------------------------------------------------------------
@register(
    "f2_regex_extract",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+)', 1) AS first_token,
           CASE WHEN text LIKE '%table%' THEN 1 ELSE 0 END AS mentions_table
    FROM documents
    """,
    survey_ref="F2, C9 (regexp_extract redirect/RID parsing)",
)
def f2_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "^([a-z]+)", 1).alias("first_token"),
        F.when(F.col("text").contains("table"), F.lit(1)).otherwise(F.lit(0)).alias("mentions_table"),
    )


# --------------------------------------------------------------------------
# J1: RID-replacement rewrite = broadcast left join + coalesce.
# Replacement map derived deterministically from `nation`.
# --------------------------------------------------------------------------
@register(
    "j1_redirect_rewrite",
    oracle="""
    WITH repl AS (
      SELECT n_nationkey AS old_key, n_nationkey + 100 AS new_key
      FROM nation WHERE n_nationkey % 5 = 0
    )
    SELECT c_custkey, COALESCE(r.new_key, c_nationkey) AS resolved_nationkey
    FROM customer c LEFT JOIN repl r ON c.c_nationkey = r.old_key
    """,
    survey_ref="J1 (ridReplacements broadcast rewrite, MigrationHelpers.sanitizeRID)",
)
def j1_redirect_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    repl = nation.filter(F.col("n_nationkey") % 5 == 0).select(
        F.col("n_nationkey").alias("old_key"),
        (F.col("n_nationkey") + 100).alias("new_key"),
    )
    return (
        cust.join(F.broadcast(repl), cust.c_nationkey == repl.old_key, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("new_key"), F.col("c_nationkey")).alias("resolved_nationkey"),
        )
    )


# --------------------------------------------------------------------------
# J2: disconnected-RID suppression = broadcast left-anti join.
# --------------------------------------------------------------------------
@register(
    "j2_anti_suppression",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0
    )
    """,
    survey_ref="J2 (disconnectedRIDs left-anti suppression)",
)
def j2_anti_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    blocked = (
        load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select("c_custkey")
    )
    return orders.join(
        F.broadcast(blocked), orders.o_custkey == blocked.c_custkey, "left_anti"
    ).select("o_orderkey", "o_custkey")


# --------------------------------------------------------------------------
# J3: dangling-link report = anti-join against the released-status set.
# --------------------------------------------------------------------------
@register(
    "j3_dangling_report",
    oracle="""
    SELECT l_suppkey AS dangling_key, COUNT(*) AS n_links
    FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal > 0
    )
    GROUP BY l_suppkey
    """,
    survey_ref="J3 (dangling-link referential-integrity report)",
)
def j3_dangling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ok = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0).select("s_suppkey")
    return (
        li.join(F.broadcast(ok), li.l_suppkey == ok.s_suppkey, "left_anti")
        .groupBy(F.col("l_suppkey").alias("dangling_key"))
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


# --------------------------------------------------------------------------
# J5/A5: cluster-canonical lookup with first-wins representative.
# --------------------------------------------------------------------------
@register(
    "j5_cluster_canonical",
    oracle="""
    WITH canon AS (
      SELECT p_brand, MIN(p_partkey) AS canonical_partkey FROM part GROUP BY p_brand
    )
    SELECT p.p_partkey, p.p_brand, c.canonical_partkey
    FROM part p JOIN canon c ON p.p_brand = c.p_brand
    """,
    survey_ref="J5, A5 (abstract-work cluster canonical / serial-work first-wins)",
)
def j5_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    canon = part.groupBy("p_brand").agg(F.min("p_partkey").alias("canonical_partkey"))
    return part.join(F.broadcast(canon), "p_brand").select(
        "p_partkey", "p_brand", "canonical_partkey"
    )


# --------------------------------------------------------------------------
# J7: shuffle equi-join chain (work <-> pubinfo analog): revenue per nation.
# --------------------------------------------------------------------------
@register(
    "j7_shuffle_join_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    survey_ref="J7/J8 (shuffle equi-joins, co-partition by key)",
)
def j7_shuffle_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# A4/J8: double-use conflict detection (imagegroup claimed by 2 works).
# --------------------------------------------------------------------------
@register(
    "a4_double_use_conflicts",
    oracle="""
    SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_claimants,
           MIN(l_suppkey) AS first_claimant, MAX(l_suppkey) AS last_claimant
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(DISTINCT l_suppkey) > 1
    """,
    survey_ref="A4/J8 (imagegroup double-use detection)",
)
def a4_double_use_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_claimants"),
            F.min("l_suppkey").alias("first_claimant"),
            F.max("l_suppkey").alias("last_claimant"),
        )
        .filter(F.col("n_claimants") > 1)
    )


# --------------------------------------------------------------------------
# A2: prefLabel selection = first-per-group ranking window.
# --------------------------------------------------------------------------
@register(
    "a2_preflabel_window",
    oracle="""
    SELECT c_nationkey, c_custkey AS pref_custkey, c_name AS pref_name
    FROM (
      SELECT c_nationkey, c_custkey, c_name,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn = 1
    """,
    survey_ref="A2 (first name/title per lang wins prefLabel)",
)
def a2_preflabel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_custkey").alias("pref_custkey"),
            F.col("c_name").alias("pref_name"),
        )
    )


# --------------------------------------------------------------------------
# A10/J16: same-date log-entry merge = first-per-(graph, date) aggregation.
# --------------------------------------------------------------------------
@register(
    "a10_log_merge_by_date",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS log_date,
           MIN(event_id) AS merged_event_id, COUNT(*) AS n_merged
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """,
    survey_ref="A10/J16 (log-entry merge by timestamp)",
)
def a10_log_merge_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("log_date"))
        .agg(F.min("event_id").alias("merged_event_id"), F.count(F.lit(1)).alias("n_merged"))
    )


# --------------------------------------------------------------------------
# C10/A7: md5-prefix minting + shard distribution (output sharding analog).
# --------------------------------------------------------------------------
@register(
    "c10_md5_shard",
    oracle="""
    SELECT substr(md5(p_name), 1, 2) AS shard, COUNT(*) AS n
    FROM part GROUP BY substr(md5(p_name), 1, 2)
    """,
    survey_ref="C10/A7 (md5 minting + hash sharding, MigrationApp.getDstFileName)",
)
def c10_md5_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.substring(F.md5(F.col("p_name")), 1, 2).alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# C1: normalizeString — collapse unicode whitespace/control runs, trim.
# (CommonMigration.normalizeString, reference CommonMigration.java:721-734)
# --------------------------------------------------------------------------
@register(
    "c1_normalize_string",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(substr(text, 1, 80), '\s+', ' ', 'g')) AS norm_prefix
    FROM documents
    """,
    survey_ref="C1 (normalizeString whitespace collapse)",
)
def c1_normalize_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.trim(F.regexp_replace(F.substring("text", 1, 80), r"\s+", " ")).alias("norm_prefix"),
    )


# --------------------------------------------------------------------------
# C6: EDTF-style date normalization (year / decade / bounds extraction).
# --------------------------------------------------------------------------
@register(
    "c6_date_normalize",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS on_year,
           CAST((year(o_orderdate) // 10) * 10 AS BIGINT) AS not_before,
           CAST((year(o_orderdate) // 10) * 10 + 9 AS BIGINT) AS not_after,
           strftime(o_orderdate, '%Y-%m-%d') AS event_when
    FROM orders
    """,
    survey_ref="C6/C7 (addDates EDTF onYear/notBefore/notAfter)",
)
def c6_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("bigint")
    return orders.select(
        "o_orderkey",
        yr.alias("on_year"),
        (F.floor(yr / 10) * 10).cast("bigint").alias("not_before"),
        ((F.floor(yr / 10) * 10) + 9).cast("bigint").alias("not_after"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("event_when"),
    )


# --------------------------------------------------------------------------
# Top-K per group (canonical output ordering / ranking; §2.7 sort/limit).
# --------------------------------------------------------------------------
@register(
    "window_topk_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
    survey_ref="§2.7 top-k per group (window ranking)",
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# --------------------------------------------------------------------------
# Rollup aggregation (§2.7 checklist: grouping-set analog).
# --------------------------------------------------------------------------
@register(
    "agg_rollup_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_ref="§2.7 aggregation (rollup/grouping sets)",
)
def agg_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# Skew-safe two-phase aggregation: salted partial agg + final merge must
# equal the plain group-by (north_rule skew handling, SURVEY.md §3.4).
# --------------------------------------------------------------------------
@register(
    "skew_salted_two_phase_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    survey_ref="north_rule skew: salted repartition + two-phase agg",
)
def skew_salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # phase 1: salt the (hot) grouping key into 16 subkeys -> partial agg
    partial = (
        li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("part_qty"),
            F.count(F.lit(1)).alias("part_n"),
        )
    )
    # phase 2: merge partials per real key (decimal addition is exact, so
    # the salted result is bit-identical to the unsalted one)
    return partial.groupBy("l_returnflag").agg(
        F.sum("part_qty").cast("double").alias("sum_qty"),
        F.sum("part_n").alias("n"),
    )


# --------------------------------------------------------------------------
# Set operations: union + distinct and except (A1-adjacent, §2.7 set ops).
# --------------------------------------------------------------------------
@register(
    "set_union_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
    survey_ref="§2.7 set ops (union/distinct/except)",
)
def set_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    c = cust.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct().subtract(c)


# --------------------------------------------------------------------------
# C12/C13 image-list RLE: the reference's addImageList run-length logic
# (helpers/ImageListTranslation.java:26-111) re-expressed set-oriented —
# consecutive-number runs become `IMG<start>.tif:<count>` tokens via the
# classic gaps-and-islands window (num - row_number = island id), checked
# against the same RLE in DuckDB SQL.  No migrator emits an RLE imageList,
# so this embodiment is the engine's only C12/C13 code.
# --------------------------------------------------------------------------
@register(
    "c12_imagelist_rle",
    oracle="""
    WITH nums AS (
      SELECT DISTINCT user_id AS grp, CAST(event_id % 10000 AS INT) AS num
      FROM events
    ), runs AS (
      SELECT grp, num,
             num - ROW_NUMBER() OVER (PARTITION BY grp ORDER BY num) AS island
      FROM nums
    ), agg AS (
      SELECT grp, island, MIN(num) AS run_start, COUNT(*) AS cnt
      FROM runs GROUP BY 1, 2
    )
    SELECT grp,
           string_agg('IMG' || lpad(CAST(run_start AS VARCHAR), 4, '0')
                      || '.tif:' || CAST(cnt AS VARCHAR),
                      '|' ORDER BY run_start) AS rle,
           CAST(SUM(cnt) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_start + cnt - 1) - MIN(run_start) + 1 - SUM(cnt) AS BIGINT)
               AS n_missing
    FROM agg GROUP BY grp
    """,
    survey_ref="C12/C13 image-list RLE (gaps-and-islands windows)",
)
def c12_imagelist_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nums = ev.select(
        F.col("user_id").alias("grp"),
        (F.col("event_id") % 10000).cast("int").alias("num"),
    ).distinct()
    w = W.partitionBy("grp").orderBy("num")
    runs = nums.withColumn("island", F.col("num") - F.row_number().over(w))
    agg = runs.groupBy("grp", "island").agg(
        F.min("num").alias("run_start"), F.count(F.lit(1)).alias("cnt")
    )
    token = lambda s: F.concat(  # noqa: E731
        F.lit("IMG"),
        F.lpad(s["run_start"].cast("string"), 4, "0"),
        F.lit(".tif:"),
        s["cnt"].cast("string"),
    )
    return agg.groupBy("grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("run_start", "cnt"))), token
            ),
            "|",
        ).alias("rle"),
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        (
            F.max(F.col("run_start") + F.col("cnt") - 1)
            - F.min("run_start") + 1 - F.sum("cnt")
        ).cast("bigint").alias("n_missing"),
    )
