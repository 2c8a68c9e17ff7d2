package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operators over the TPC-H-ish star schema — the standard
  * query-engine surface the reference lacks entirely (SURVEY.md §2 checklist:
  * joins/aggregations/windows/sorts/set-ops ABSENT in the reference) but
  * that a complete engine must provide, designed Spark-first for scale:
  * dimension joins broadcast, fact-fact joins shuffle on join keys with AQE,
  * aggregates use partial (map-side) combine automatically.
  *
  * Determinism policy for the DuckDB oracle: double aggregates accumulate in
  * exact DECIMAL and cast to DOUBLE once at the end; int-returning builtins
  * that differ in width between engines (length/year/row_number...) are cast
  * to a common type on the wider side.
  */
object RelationalQueries {

  /** q232/q233 histogram geometry and probe cutoffs — shared between the
    * Spark plan and the oracle rendering (declared before `all`: these
    * interpolate into oracle strings). */
  private[queries] val HistBuckets = 16
  private val SelCutoffs = Seq(10.0, 25.0, 40.0)

  /** The q232 histogram's bucket assignment + boundary formulas as SQL,
    * rendered once so q232/q233/q238 share them verbatim. */
  private def histCtes(b: Int, c: String = "l_quantity"): String =
    s"""WITH bnd AS (
       |  SELECT CAST(MIN($c) AS DOUBLE) AS mn,
       |         CAST(MAX($c) AS DOUBLE) AS mx
       |  FROM lineitem WHERE $c IS NOT NULL
       |), asg AS (
       |  SELECT CASE WHEN mx = mn THEN 0
       |              ELSE LEAST(${b - 1}, CAST(FLOOR(
       |                (CAST($c AS DOUBLE) - mn) * $b / (mx - mn))
       |                AS BIGINT)) END AS bucket,
       |         mn, mx
       |  FROM lineitem, bnd WHERE $c IS NOT NULL
       |), hist AS (
       |  SELECT bucket,
       |         mn + bucket * (mx - mn) / $b AS lo,
       |         mn + (bucket + 1) * (mx - mn) / $b AS hi,
       |         CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM asg GROUP BY 1, 2, 3
       |)""".stripMargin

  /** The q233 selectivity rule rendered over an arbitrary histogram CTE
    * (bucket, lo, hi, n_rows) — shared by the equi-width and equi-depth
    * estimator faces so both cost the predicate with the same formula. */
  private def selSql(histName: String, outName: String): String =
    s"""SELECT cutoff,
       |       CAST(SUM(CAST(
       |         CASE WHEN cutoff <= lo THEN CAST(n_rows AS DOUBLE)
       |              WHEN cutoff >= hi THEN CAST(0 AS DOUBLE)
       |              ELSE n_rows * (hi - cutoff) / (hi - lo) END
       |         AS DECIMAL(28,6))) AS DOUBLE) AS $outName
       |FROM $histName, cuts GROUP BY 1""".stripMargin

  /** q234's per-column profile geometry — the (name, portable string
    * rendering) list shared by the Spark plan and the oracle. */
  private val ProfCols = Seq("doc_id", "lang", "source", "n_chars")

  /** q235's range predicate in epoch seconds (1998-01-01 .. 1998-06-30
    * 23:59:59) — shared by the Spark plan and the oracle. */
  private val SkipLo = 883612800L
  private val SkipHi = 899251199L

  /** q231/q239's join catalog: (join_name, left table, left key, right
    * table, right key) — shared so the stored-catalog face costs the
    * identical joins. */
  private[queries] val JoinCardSpecs = Seq(
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"))

  /** The q231 oracle rendering, shared verbatim with q239 (whose stored
    * catalog is built deterministically from the same tables, so the
    * from-scratch flood IS its oracle too). */
  private def joinCardOracle: String = JoinCardSpecs
    .map { case (nm, l, lk, r, rk) =>
      s"""SELECT '$nm' AS join_name, n_left, n_right, ndv_left, ndv_right,
         |       (n_left * n_right) // greatest(ndv_left, ndv_right) AS predicted,
         |       actual
         |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
         |             CAST(COUNT(DISTINCT $lk) AS BIGINT) AS ndv_left FROM $l),
         |     (SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
         |             CAST(COUNT(DISTINCT $rk) AS BIGINT) AS ndv_right FROM $r),
         |     (SELECT CAST(COUNT(*) AS BIGINT) AS actual
         |      FROM $l JOIN $r ON $lk = $rk)""".stripMargin }
    .mkString("\nUNION ALL\n")

  /** Rule pairs: each registry line below runs its query text in a child
    * session WITH its optimizer rule; each `twin` runs the SAME text in a
    * child session without it (or with a weaker rule), so a pair's timing
    * difference is exactly the rule's plan decision. */
  private val NoBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  private val NoAqe = "spark.sql.adaptive.enabled" -> "false"
  private val NonAnsi = "spark.sql.ansi.enabled" -> "false"

  private def twin(
      name: String,
      text: (SparkSession, String) => DataFrame,
      rules: (SparkSession, String) => Seq[Rule[LogicalPlan]] = (_, _) => Nil)(
      confs: (String, String)*): Phase =
    Phase(name, (s, d) => text(graft.plans.CatalogRules.sessionWith(s, rules(s, d), confs: _*), d))

  private def eagerRule(s: SparkSession, d: String): Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.EagerAggregationRule(StatsPhases.collected(s, d)))

  private def q244Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))

  private def q245Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))

  private def q249Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"))

  private def q262Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49.0)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))

  private def q264Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        max(col("l_extendedprice")).as("max_price"))

  private def q266Text(s: SparkSession, d: String): DataFrame =
    hourlyEvents(Tables.eventsTsNs(s, d))

  /** 473712 * HourNs is an exact hour boundary inside the fixture's
    * [473352, 474071] hour range. */
  private def q269Text(s: SparkSession, d: String): DataFrame =
    hourlyEvents(Tables.eventsTsNs(s, d)
      .filter(col("ts") >= lit(473712L * MvPhases.HourNs)))

  private def hourlyEvents(ev: DataFrame): DataFrame =
    ev.groupBy(
        expr(graft.operators.Resample.floorDivSql("ts", MvPhases.HourNs)).as("hour_idx"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  private def q268Text(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d)
    val b = Tables.lineitem(s, d)
    a.join(b, a("l_orderkey") === b("l_orderkey") &&
        a("l_linenumber") === b("l_linenumber"))
      .join(Tables.orders(s, d), a("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), sum(b("l_quantity").cast("bigint")).as("sum_qty"))
  }

  // rollup(col(...)) not rollup("..."): the String overload resolves
  // through Dataset.col, whose dataset-id metadata trips
  // DetectAmbiguousSelfJoin when the Expand duplicates it
  private def q270Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .rollup(col("s_name"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))

  private def q272Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_returnflag", "s_name")
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("bigint")).as("sum_qty"))

  private def q273Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .rollup(col("l_returnflag"), col("s_name"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("bigint")).as("sum_qty"))

  private def q274Text(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))

  val all: Seq[Q] = Seq(
    Q(
      "q10_tpch1_agg",
      "TPC-H Q1-shaped grouped aggregate: hash partial+final agg over " +
        "lineitem; one shuffle on the (returnflag, linestatus) grouping key.",
      Some("""
        |SELECT l_returnflag, l_linestatus,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |       MIN(l_quantity) AS min_qty,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem
        |GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"),
            min("l_quantity").as("min_qty"),
            max("l_extendedprice").as("max_price"))
    ),
    Q(
      "q11_join_broadcast_dims",
      "Star join through two dimension tables — both broadcast (nation 25 " +
        "rows, region 5): zero shuffle on the probe side until the final agg.",
      Some("""
        |SELECT r_name, n_name,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("c_acctbal").cast("decimal(18,4)")).cast("double").as("sum_bal"))
    ),
    Q(
      "q12_join_fact_agg",
      "Fact-fact equi-join (orders x lineitem) with derived-measure " +
        "aggregation; shuffles hash-partitioned on the order key, decimal-" +
        "exact revenue. At 100 TB this is the AQE/skew-join path.",
      Some("""
        |SELECT o_orderpriority,
        |       COUNT(DISTINCT o_orderkey) AS n_orders,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            countDistinct("o_orderkey").as("n_orders"),
            sum(expr(
              "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
              .cast("double").as("revenue"))
    ),
    Q(
      "q13_window_rank",
      "Ranking window: top-3 orders per customer (row_number over a " +
        "deterministic total order). One shuffle on the partition key.",
      Some("""
        |SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders
        |) WHERE rn <= 3
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .withColumn("rn", row_number().over(
            Window.partitionBy("o_custkey")
              .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
          .filter(col("rn") <= 3)
    ),
    Q(
      "q14_sort_limit",
      "Global top-k (sort + limit): Spark executes as TakeOrderedAndProject " +
        "— per-partition top-k then a k-row merge on the driver; no full sort " +
        "at any scale.",
      Some("""
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
    ),
    Q(
      "q15_anti_join",
      "Left-anti join (NOT EXISTS): customers with no orders. Broadcast or " +
        "shuffled hash anti-join chosen by Catalyst/AQE.",
      Some("""
        |SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
    ),
    Q(
      "q16_semi_join",
      "Left-semi join (EXISTS): customers holding at least one 'F' order — " +
        "the filter pushes into the build side before the join.",
      Some("""
        |SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(
            Tables.orders(spark, dir).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
    ),
    Q(
      "q17_intersect",
      "Set intersection (distinct semantics): nation keys present in both " +
        "customer and supplier.",
      Some("""
        |SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
          .intersect(Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
    ),
    Q(
      "q18_except",
      "Set difference (distinct semantics): nations with no customers.",
      Some("""
        |SELECT n_nationkey AS nationkey FROM nation
        |EXCEPT
        |SELECT c_nationkey AS nationkey FROM customer
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.nation(spark, dir).select(col("n_nationkey").as("nationkey"))
          .except(Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey")))
    ),
    Q(
      "q19_scalar_string_funcs",
      "Scalar string-function surface (upper/substring/length/concat/" +
        "replace) — all codegen'd builtins, no UDFs.",
      Some("""
        |SELECT p_partkey,
        |       UPPER(p_brand) AS brand_u,
        |       SUBSTRING(p_name, 1, 8) AS name8,
        |       CAST(LENGTH(p_type) AS INTEGER) AS type_len,
        |       CONCAT(p_brand, '#', p_type) AS brand_type,
        |       REPLACE(p_name, ' ', '_') AS name_r
        |FROM part
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.part(spark, dir).selectExpr(
          "p_partkey",
          "UPPER(p_brand) AS brand_u",
          "SUBSTRING(p_name, 1, 8) AS name8",
          "LENGTH(p_type) AS type_len",
          "CONCAT(p_brand, '#', p_type) AS brand_type",
          "REPLACE(p_name, ' ', '_') AS name_r")
    ),
    Q(
      "q20_date_parts",
      "Timestamp component extraction + grouped counts (year/month from a " +
        "ms-precision timestamp).",
      Some("""
        |SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
        |       CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
        |       COUNT(*) AS cnt
        |FROM orders GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("cnt"))
    ),
    Q(
      "q21_case_bucket",
      "CASE WHEN bucketing + grouped min/max — constant-folded, codegen'd " +
        "conditional projection.",
      Some("""
        |SELECT CASE WHEN o_totalprice < 20000 THEN 'low'
        |            WHEN o_totalprice < 50000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       COUNT(*) AS cnt,
        |       MIN(o_totalprice) AS min_price,
        |       MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .withColumn("bucket",
            when(col("o_totalprice") < 20000, "low")
              .when(col("o_totalprice") < 50000, "mid")
              .otherwise("high"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("cnt"),
            min("o_totalprice").as("min_price"),
            max("o_totalprice").as("max_price"))
    ),
    Q(
      "q22_rollup",
      "Grouping-sets surface: ROLLUP over (returnflag, linestatus) with " +
        "NULL subtotal rows.",
      Some("""
        |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"))
    ),
    Q(
      "q23_having",
      "Post-aggregation predicate (HAVING): customers with >= 3 orders.",
      Some("""
        |SELECT o_custkey, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 HAVING COUNT(*) >= 3
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 3)
    ),
    Q(
      "q24_count_distinct",
      "Exact distinct-count aggregates (expand + two-phase agg in Spark).",
      Some("""
        |SELECT l_returnflag,
        |       COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy("l_returnflag")
          .agg(
            countDistinct("l_suppkey").as("n_supp"),
            countDistinct("l_partkey").as("n_part"))
    ),
    Q(
      "q25_sql_interface",
      "Raw SQL surface: the exact same ANSI text runs through spark.sql " +
        "over registered views and through the DuckDB oracle — Catalyst " +
        "provides the full query language the reference lacks entirely.",
      Some(SqlInterface.sql),
      (spark, dir) => {
        graft.GraftCatalog.registerTables(spark, dir)
        spark.sql(SqlInterface.sql)
      }
    ),
    Q(
      "q26_window_analytics",
      "Analytic windows: lag/lead navigation + decimal-exact running total " +
        "per customer over order time.",
      Some("""
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |       LAG(o_totalprice) OVER w AS prev_price,
        |       LEAD(o_totalprice) OVER w AS next_price,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS run_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |""".stripMargin.trim),
      (spark, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(spark, dir).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("run_total"))
      }
    ),
    Q(
      "q27_cube",
      "Full grouping-sets surface: CUBE over (returnflag, linestatus) — " +
        "all four grouping combinations in one pass.",
      Some("""
        |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .cube("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
    ),
    Q(
      "q44_pivot_agg",
      "Pivot-style conditional aggregation (FILTER/when per target column) " +
        "— one pass, no pivot shuffle beyond the group-by.",
      Some("""
        |SELECT l_returnflag,
        |       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
        |       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy("l_returnflag")
          .agg(
            count(when(col("l_linestatus") === "F", 1)).as("cnt_f"),
            count(when(col("l_linestatus") === "O", 1)).as("cnt_o"),
            sum(when(col("l_linestatus") === "F", col("l_quantity").cast("decimal(18,4)")))
              .cast("double").as("qty_f"),
            sum(when(col("l_linestatus") === "O", col("l_quantity").cast("decimal(18,4)")))
              .cast("double").as("qty_o"))
    ),
    Q(
      "q47_regex_null_funcs",
      "Regex extraction + null-handling scalar surface: regexp_extract " +
        "(group capture, '' on no match in both engines), nullif/coalesce.",
      Some("""
        |SELECT p_partkey,
        |       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
        |       regexp_extract(p_name, '([0-9]+)', 1) AS first_num,
        |       nullif(p_size, 10) AS size_not10,
        |       coalesce(nullif(p_brand, p_brand), 'self') AS coalesced
        |FROM part
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.part(spark, dir).selectExpr(
          "p_partkey",
          "regexp_extract(p_name, '([a-z]+)', 1) AS first_word",
          "regexp_extract(p_name, '([0-9]+)', 1) AS first_num",
          "nullif(p_size, 10) AS size_not10",
          "coalesce(nullif(p_brand, p_brand), 'self') AS coalesced")
    ),
    Q(
      "q46_collect_agg",
      "Collection aggregates: per-customer sorted distinct priority list " +
        "(rendered as a joined string so the compare is list-order-exact).",
      Some("""
        |SELECT o_custkey,
        |       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy("o_custkey")
          .agg(
            array_join(sort_array(collect_set("o_orderpriority")), ",").as("priorities"),
            count(lit(1)).as("n_orders"))
    ),
    Q(
      "q45_percentiles",
      "Exact interpolated percentiles (median / p90) per group — Spark's " +
        "exact `percentile` vs DuckDB's `quantile_cont`, identical " +
        "linear-interpolation semantics.",
      Some("""
        |SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy("o_orderpriority")
          .agg(
            expr("percentile(o_totalprice, 0.5)").as("p50"),
            expr("percentile(o_totalprice, 0.9)").as("p90"))
    ),
    Q(
      "q29_tpch5_multijoin",
      "TPC-H Q5-shaped six-table join (customer-orders-lineitem-supplier-" +
        "nation-region): Catalyst reorders; dims broadcast; the two fact " +
        "shuffles hash on the order key.",
      Some("""
        |SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'AMERICA')
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(spark, dir)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name").isin("ASIA", "AMERICA"))
          .groupBy("n_name")
          .agg(
            sum(expr(
              "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
    ),
    Q(
      "q28_asof_join",
      "As-of (point-in-time) join — an operator Spark lacks natively: each " +
        "event gets the most recent order of its customer at or before its " +
        "(synthesized, deterministic) event time; union+window formulation, " +
        "one shuffle, no pair explosion (graft.operators.AsOfJoin).",
      Some("""
        |SELECT e.event_id,
        |       (SELECT o.o_orderkey FROM orders o
        |        WHERE o.o_custkey = e.user_id + 1
        |          AND epoch_us(o.o_orderdate) <= e.synth_us
        |        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS o_orderkey,
        |       (SELECT o.o_totalprice FROM orders o
        |        WHERE o.o_custkey = e.user_id + 1
        |          AND epoch_us(o.o_orderdate) <= e.synth_us
        |        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS o_totalprice
        |FROM (SELECT event_id, user_id,
        |             788918400000000 + (event_id * 97 % 2400) * 86400000000 AS synth_us
        |      FROM events) e
        |""".stripMargin.trim),
      (spark, dir) => {
        val e = Tables.eventsTsNs(spark, dir).selectExpr(
          "event_id",
          "user_id + 1 AS ukey",
          "788918400000000L + (event_id * 97 % 2400) * 86400000000L AS synth_us")
        val o = Tables.orders(spark, dir).selectExpr(
          // o_orderdate reads as TIMESTAMP_NTZ; the session is pinned UTC so
          // the LTZ cast is identity and unix_micros == DuckDB's epoch_us.
          "o_custkey", "unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ)) AS o_us",
          "o_orderkey", "o_totalprice")
        graft.operators.AsOfJoin
          .joinAsOf(e, o, "ukey", "o_custkey", "synth_us", "o_us",
            "o_orderkey", Seq("o_orderkey", "o_totalprice"))
          .select("event_id", "o_orderkey", "o_totalprice")
      }
    ),
    Q(
      "q59_skew_salted_join",
      "Skew-salted fact-dim join: the big side salts on a deterministic " +
        "hash shard, the dim replicates saltBuckets times, the join keys " +
        "on (key, salt) — each hot supplier spreads over 8 tasks. The " +
        "oracle is the PLAIN join: salting must only respread the " +
        "shuffle, never change a row (graft.operators.Skew).",
      Some("""
        |SELECT s_name,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        val big = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            col("l_quantity"))
        val dim = Tables.supplier(spark, dir)
          .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        graft.operators.Skew
          .saltedJoin(big, dim, "l_suppkey", saltBuckets = 8,
            saltSource = Seq("l_orderkey", "l_linenumber"))
          .groupBy("s_name")
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
      }
    ),
    Q(
      "q55_scalar_subquery",
      "Correlated scalar subquery (per-priority maxima): Catalyst " +
        "decorrelates it into an aggregate + join — the subquery " +
        "machinery the reference has no analogue for. The identical SQL " +
        "text runs through spark.sql and the oracle.",
      Some(ScalarSubquerySql.sql),
      (spark, dir) => {
        graft.GraftCatalog.registerTables(spark, dir)
        spark.sql(ScalarSubquerySql.sql)
      }
    ),
    Q(
      "q56_range_frame",
      "RANGE window frame over event time: decimal-exact 30-day trailing " +
        "revenue per customer — value-based frames are deterministic under " +
        "peer-row ties where ROWS frames are not. Identical SQL text in " +
        "both engines.",
      Some(RangeFrameSql.sql),
      (spark, dir) => {
        graft.GraftCatalog.registerTables(spark, dir)
        spark.sql(RangeFrameSql.sql)
      }
    ),
    Q(
      "q64_bucketed_join",
      "Co-located join over bucketed tables: both fact tables written " +
        "bucketed (and sorted) on the order key, then joined and " +
        "aggregated. Bucketing costs one shuffle at WRITE time and every " +
        "later same-key join runs exchange-free (BucketedJoinSpec proves " +
        "the no-Exchange plan) — the amortization pattern for 100 TB fact " +
        "tables queried repeatedly. Results are join-identical to the " +
        "plain parquet join, which is exactly what the oracle checks.",
      Some("""
        |SELECT o_orderpriority,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        BucketedJoinPhases.build(spark, dir)
        BucketedJoinPhases.probe(spark, dir)
      },
      bench = Seq(
        Phase.build("q64_bucketed_build")(BucketedJoinPhases.build),
        Phase("q64_bucketed_join", BucketedJoinPhases.probe))
    ),
    Q(
      "q65_explode_pos",
      "Generator / lateral surface: posexplode of the token array into " +
        "(doc_id, pos, token) rows with a post-explode filter. Narrow " +
        "one-to-many expansion — no shuffle; the filter lands after the " +
        "generate, pruning the fan-out before anything downstream.",
      Some("""
        |SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i + 1] AS token
        |FROM (
        |  SELECT doc_id, toks, unnest(range(0, len(toks))) AS i
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |)
        |WHERE length(toks[i + 1]) >= 8
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(
            col("doc_id"),
            posexplode(graft.operators.TextAnalysis.wsTokens(col("text")))
              .as(Seq("pos", "token")))
          .filter(length(col("token")) >= 8)
    ),
    Q(
      "q75_grouping_sets",
      "Arbitrary GROUPING SETS (the general form under q22's rollup and " +
        "q27's cube): per-segment, per-nation, and per-(segment, nation) " +
        "subtotals in one pass — Spark plans a single Expand + one " +
        "aggregation exchange, not three scans. Identical SQL text in " +
        "both engines; fixture columns are null-free so the coalesce " +
        "marker is unambiguous.",
      Some(GroupingSetsSql.sql),
      (spark, dir) => {
        graft.GraftCatalog.registerTables(spark, dir)
        spark.sql(GroupingSetsSql.sql)
      }
    ),
    Q(
      "q76_lateral_topn",
      "Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 customers " +
        "per nation — the per-row dependent subquery every SQL surface " +
        "needs; Catalyst decorrelates it into a join + per-key limit " +
        "rather than 25 re-executions. Identical SQL text in both engines.",
      Some(LateralTopNSql.sql),
      (spark, dir) => {
        graft.GraftCatalog.registerTables(spark, dir)
        spark.sql(LateralTopNSql.sql)
      }
    ),
    Q(
      "q81_fuzzy_match",
      "Blocked fuzzy matching: Levenshtein <= 2 name pairs within " +
        "nation-key blocks — the entity-resolution primitive. Blocking " +
        "bounds the pair space (the join shuffles on the block key, never " +
        "the cross product); the production content-derived block key is " +
        "q84 (positional-segment pigeonhole + hot-block cap), same plan " +
        "shape. Both engines implement classic edit distance, so the " +
        "oracle is exact.",
      Some("""
        |WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey < 300
        |)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |""".stripMargin.trim),
      (spark, dir) => {
        val c = Tables.customer(spark, dir)
          .filter(col("c_custkey") < 300)
          .select("c_custkey", "c_name", "c_nationkey")
        val a = c.as("a")
        val b = c.as("b")
        a.join(b,
            col("a.c_nationkey") === col("b.c_nationkey") &&
              col("a.c_custkey") < col("b.c_custkey"))
          .select(
            col("a.c_custkey").as("id_a"),
            col("b.c_custkey").as("id_b"),
            levenshtein(col("a.c_name"), col("b.c_name")).as("dist"))
          .filter(col("dist") <= 2)
      }
    ),
    Q(
      "q86_range_join_binned",
      "Non-equi range join done scalably: purchases falling inside " +
        "6-hour windows opened by a deterministic slice of signups. A " +
        "bare ts-between theta join plans as a nested loop (quadratic); " +
        "the binned form explodes each interval to its covered 1-hour " +
        "bins (replication ~7), maps each point to its single bin, " +
        "equi-joins on the bin id, and verifies the exact half-open " +
        "predicate — every qualifying pair meets exactly once, so no " +
        "dedup pass. Oracle is the plain theta join: the binning must " +
        "not change a row.",
      Some("""
        |WITH iv AS (
        |  SELECT event_id AS interval_id, epoch_us(ts) AS start_ts,
        |         epoch_us(ts) + 21600000000 AS end_ts
        |  FROM events WHERE event_type = 'signup' AND event_id % 97 = 0
        |), pt AS (
        |  SELECT event_id AS point_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT interval_id, point_id, p_ts
        |FROM iv JOIN pt ON p_ts >= start_ts AND p_ts < end_ts
        |""".stripMargin.trim),
      (spark, dir) => {
        val ev = Tables.eventsTsNs(spark, dir)
        val intervals = ev
          .filter(col("event_type") === "signup" && col("event_id") % 97 === 0)
          .select(col("event_id"),
            Tables.EventTime.us.as("start_ts"),
            (Tables.EventTime.us + lit(21600000000L)).as("end_ts"))
        val points = ev
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), Tables.EventTime.us.as("p_ts"))
        graft.operators.RangeJoin.pointInInterval(
          points, "event_id", "p_ts",
          intervals, "event_id", "start_ts", "end_ts",
          binWidth = 3600000000L)
      }
    ),
    Q(
      "q94_range_join_capped",
      "q86's binned range join with the replication cap engaged on a " +
        "mixed-width fixture: most signup windows span 6 hours (7 bins, " +
        "under the cap of 10 — binned equi-join path), every fifth spans " +
        "48 hours (49 bins — routed to the broadcast theta path instead " +
        "of exploding to 49 replicas). One pathological interval can no " +
        "longer hot-spot the bin join. Oracle is the plain theta join " +
        "over the same mixed widths: the routing must not change a row.",
      Some("""
        |WITH iv AS (
        |  SELECT event_id AS interval_id, epoch_us(ts) AS start_ts,
        |         epoch_us(ts) + CASE WHEN event_id % 5 = 0
        |                             THEN 172800000000 ELSE 21600000000 END AS end_ts
        |  FROM events WHERE event_type = 'signup' AND event_id % 97 = 0
        |), pt AS (
        |  SELECT event_id AS point_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT interval_id, point_id, p_ts
        |FROM iv JOIN pt ON p_ts >= start_ts AND p_ts < end_ts
        |""".stripMargin.trim),
      (spark, dir) => {
        val ev = Tables.eventsTsNs(spark, dir)
        val intervals = ev
          .filter(col("event_type") === "signup" && col("event_id") % 97 === 0)
          .select(col("event_id"),
            Tables.EventTime.us.as("start_ts"),
            (Tables.EventTime.us +
              when(col("event_id") % 5 === 0, lit(172800000000L))
                .otherwise(lit(21600000000L))).as("end_ts"))
        val points = ev
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), Tables.EventTime.us.as("p_ts"))
        graft.operators.RangeJoin.pointInInterval(
          points, "event_id", "p_ts",
          intervals, "event_id", "start_ts", "end_ts",
          binWidth = 3600000000L, maxBinsPerInterval = Some(10))
      }
    ),
    Q(
      "q84_fuzzy_blocked",
      "Production fuzzy matching: positional-segment pigeonhole blocking " +
        "(9 segments, block key = (idx, segment, length)) with a " +
        "hot-block cap of 150 — constant-prefix boilerplate blocks are " +
        "dropped (they carry no discriminating signal and would be " +
        "quadratic), surviving blocks are capped, and exact Levenshtein " +
        "verifies every candidate (precision 1). The content-derived " +
        "block key q81's docstring promises; both engines mirror the " +
        "identical blocking so the oracle is exact.",
      Some(FuzzyBlockedSql.sql),
      (spark, dir) =>
        graft.operators.FuzzyJoin.segmentBlockedPairs(
          Tables.customer(spark, dir)
            .filter(col("c_custkey") < 300)
            .select("c_custkey", "c_name"),
          "c_name", "c_custkey",
          maxDist = 2, numSegments = 9, blockCap = 150)
    ),
    Q(
      "q66_unpivot",
      "Unpivot/melt: the four lineitem measures rotated into long form " +
        "(key, measure-name, value) — the inverse of q44's pivot. Narrow " +
        "constant-fan-out expansion (4 rows per input), no shuffle; raw " +
        "values pass through untouched so the oracle is exact.",
      Some("""
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.lineitem(spark, dir).unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(
            col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "measure",
          valueColumnName = "value")
    ),
    Q(
      "q230_table_profile",
      "ANALYZE-grade table profile — per column of lineitem: row " +
        "count, null count, exact distinct count. The stats surface a " +
        "planner (broadcast thresholds, skew detection, partition " +
        "sizing) reads before touching a table; columns come from the " +
        "frame's own schema, so the operator profiles ANY table " +
        "(Profile.tableProfile). Shape (r22): one trivial counts pass " +
        "plus one COLUMN-PRUNED distinct sub-aggregate per column under " +
        "a single union — columnar pruning makes the union's bytes the " +
        "one-scan bytes, and it replaces the multi-distinct Expand " +
        "(every row replicated once per column through a wide partial-" +
        "agg key, measured 3.3x slower). The corpus-scale face is " +
        "tableProfileApprox (HLL ndv, one narrow pass) whose per-column " +
        "error ProfileSpec pins within the configured rsd. Oracle: " +
        "one UNION ALL branch per column, rendered from the same " +
        "column list.",
      Some(Seq(
          "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c =>
          s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
             |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv
             |FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n")),
      (spark, dir) =>
        graft.operators.Profile.tableProfile(Tables.lineitem(spark, dir))
    ),
    Q(
      "q231_join_cardinality",
      "The profiler's CONSUMER — why q230's stats exist: the System-R " +
        "join-cardinality estimate |A JOIN B| = nA*nB div " +
        "max(ndvA, ndvB) computed from per-table stats, beside the " +
        "TRUE join size, for three equi-joins. On foreign-key joins " +
        "with full key coverage the estimate is exact (every fact key " +
        "hits one dimension row — the fixture shows it), and a " +
        "divergence here is the signal that drives runtime re-planning " +
        "(AQE) when the uniformity assumption breaks. Stats sides are " +
        "one aggregate per table (1-row frames, broadcast cross of " +
        "three singletons); the actual is the join's own count — the " +
        "evaluation is table-scan-bounded, never pair-bounded.",
      Some(joinCardOracle),
      (spark, dir) => {
        def one(nm: String, l: org.apache.spark.sql.DataFrame, lk: String,
                r: org.apache.spark.sql.DataFrame, rk: String) = {
          val ls = l.agg(count(lit(1)).as("n_left"),
            countDistinct(col(lk)).as("ndv_left"))
          val rs = r.agg(count(lit(1)).as("n_right"),
            countDistinct(col(rk)).as("ndv_right"))
          val act = l.join(r, col(lk) === col(rk))
            .agg(count(lit(1)).as("actual"))
          ls.crossJoin(broadcast(rs)).crossJoin(broadcast(act))
            .select(lit(nm).as("join_name"),
              col("n_left"), col("n_right"),
              col("ndv_left"), col("ndv_right"),
              expr("n_left * n_right div greatest(ndv_left, ndv_right)")
                .as("predicted"),
              col("actual"))
        }
        one("lineitem_orders", Tables.lineitem(spark, dir), "l_orderkey",
            Tables.orders(spark, dir), "o_orderkey")
          .unionByName(
            one("lineitem_part", Tables.lineitem(spark, dir), "l_partkey",
              Tables.part(spark, dir), "p_partkey"))
          .unionByName(
            one("customer_nation", Tables.customer(spark, dir), "c_nationkey",
              Tables.nation(spark, dir), "n_nationkey"))
      }
    ),
    Q(
      "q232_column_histogram",
      s"Equi-width value histogram of lineitem.l_quantity ($HistBuckets " +
        "buckets over [min, max]) — the DISTRIBUTION stat beside q230's " +
        "counts (Profile.equiWidthHistogram). Two scan-bounded passes " +
        "(bounds, then counted assignment; at parquet scale pass one is " +
        "footer min/max, i.e. free), bounds ride a broadcast 1-row " +
        "cross — never a shuffle of the data on anything but the " +
        "bucket key. Top boundary clamps into the last bucket; bucket " +
        "and boundary math is plain IEEE arithmetic the oracle renders " +
        "verbatim, so the histogram is EXACT cross-engine, not an " +
        "approximation.",
      Some(s"""${histCtes(HistBuckets)}
         |SELECT bucket, lo, hi, n_rows FROM hist""".stripMargin),
      (spark, dir) =>
        graft.operators.Profile.equiWidthHistogram(
          Tables.lineitem(spark, dir), "l_quantity", HistBuckets)
    ),
    Q(
      "q233_selectivity_estimate",
      "Range-predicate selectivity from the q232 histogram beside the " +
        "TRUE count — the PREDICATE half of System-R costing (q231 is " +
        "the join half): predicted |v >= c| = full buckets above c " +
        "plus uniform-within-bucket interpolation of c's bucket " +
        "(Profile.rangeSelectivity). The prediction reads the " +
        s"$HistBuckets-row histogram, NOT the table — costing a " +
        "predicate over 100 TB from KBs of stored stats; the actuals " +
        "for all cutoffs ride ONE conditional-aggregate scan, exploded " +
        "from the single row (the q230 device). Per-bucket " +
        "contributions accumulate in exact DECIMAL (the registry's " +
        "double-sum rule), so the fold is order-independent " +
        "cross-engine.",
      Some(s"""${histCtes(HistBuckets)}, cuts AS (
         |  SELECT UNNEST([${SelCutoffs.map(c => s"CAST($c AS DOUBLE)").mkString(", ")}]) AS cutoff
         |), pred AS (
         |  ${selSql("hist", "predicted")}
         |), act AS (
         |  SELECT cutoff,
         |         CAST(COUNT(CASE WHEN l_quantity >= cutoff THEN 1 END)
         |              AS BIGINT) AS actual
         |  FROM lineitem, cuts GROUP BY 1
         |)
         |SELECT cutoff, predicted, actual FROM pred JOIN act USING (cutoff)""".stripMargin),
      (spark, dir) => {
        import graft.operators.Profile
        val li = Tables.lineitem(spark, dir)
        val hist = Profile.equiWidthHistogram(li, "l_quantity", HistBuckets)
        val pred = Profile.rangeSelectivity(hist, SelCutoffs)
        val actAggs = SelCutoffs.zipWithIndex.map { case (c, i) =>
          sum(when(col("l_quantity") >= c, 1L).otherwise(0L)).as(s"__a_$i") }
        val actRows = SelCutoffs.zipWithIndex.map { case (c, i) =>
          struct(lit(c).as("cutoff"), col(s"__a_$i").as("actual")) }
        val act = li.agg(actAggs.head, actAggs.tail: _*)
          .select(explode(array(actRows: _*)).as("a")).select("a.*")
        pred.join(broadcast(act), Seq("cutoff"))
          .select("cutoff", "predicted", "actual")
      }
    ),
    Q(
      "q234_incremental_profile",
      "Incremental ANALYZE — the q230 profile surface maintained the " +
        "q160 way: per-column (n_rows, n_nulls, HLL registers) computed " +
        "per arrival shard (even / odd doc_ids) and FOLDED — counts " +
        "additively (each row lands in exactly one shard), registers by " +
        "cell-wise max (the sketch-union monoid) — into the corpus " +
        "profile (column, n_rows, n_nulls, s_scaled, hll_raw). Both " +
        "folds are the monoids of their stats, so the folded profile " +
        "EQUALS the from-scratch profile stat for stat (the oracle " +
        "floods exactly that). Column values hash through their " +
        "portable string rendering from ONE scan per shard (per-column " +
        "structs exploded per row); ndv is the fixed-point raw HLL " +
        "estimate (q104 device: no transcendental in the checked " +
        "path). At 100 TB the stored profile is cols x 64 cells per " +
        "shard — stats stay fresh under arrivals without ever " +
        "rescanning the corpus (Profile.profileSketch / countStats / " +
        "foldProfiles).",
      Some {
        val vals = ProfCols.map(c =>
          s"""SELECT '$c' AS "column", CAST($c AS VARCHAR) AS v
             |  FROM documents WHERE $c IS NOT NULL""".stripMargin)
          .mkString("\n  UNION ALL\n  ")
        val cnts = ProfCols.map(c =>
          s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
             |         CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls
             |  FROM documents""".stripMargin)
          .mkString("\n  UNION ALL\n  ")
        s"""WITH vals AS (
           |  $vals
           |), hr AS (
           |  SELECT "column",
           |         CAST('0x' || substr(md5(v), 1, 8) AS BIGINT) & 63 AS bucket,
           |         CAST('0x' || substr(md5(v), 1, 8) AS BIGINT) >> 6 AS w
           |  FROM vals
           |), regs AS (
           |  SELECT "column", bucket,
           |         max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS register
           |  FROM hr GROUP BY 1, 2
           |), est AS (
           |  SELECT "column",
           |         CAST((64 - count(*)) * (CAST(1 AS BIGINT) << 27)
           |           + sum(CAST(1 AS BIGINT) << (27 - register)) AS BIGINT) AS s_scaled
           |  FROM regs GROUP BY 1
           |), cnts AS (
           |  $cnts
           |)
           |SELECT c."column", c.n_rows, c.n_nulls, e.s_scaled,
           |       (${graft.operators.HyperLogLog.alphaLiteral(6)}) * 549755813888.0
           |         / CAST(e.s_scaled AS DOUBLE) AS hll_raw
           |FROM cnts c JOIN est e USING ("column")""".stripMargin
      },
      (spark, dir) => {
        import graft.operators.Profile
        val docs = Tables.documents(spark, dir)
        val shards = Seq(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        Profile.foldProfiles(
          shards.map(Profile.countStats(_, ProfCols)),
          shards.map(Profile.profileSketch(_, ProfCols, p = 6)),
          p = 6)
      }
    ),
    Q(
      "q235_skipping_audit",
      "File-skipping audit — the number that justifies paying for a " +
        "layout (q99/q166's Z-order, any sort): simulate the file " +
        "geometry a writer produces (4096-row files cut along a " +
        "layout's total order), record per-file min/max of the ship " +
        "date (exactly what parquet footers store), and evaluate a " +
        "half-year range predicate the way a footer-pruning reader " +
        "does — a file is READ iff its [min,max] overlaps. Two layouts " +
        "of the SAME rows: clustered (shipdate-major order) reads only " +
        "the files the matches live in; scattered (hash-major) reads " +
        "everything — the rows_read gap IS the layout's value at " +
        "100 TB, where rows_read is the I/O bill. File cuts come from " +
        "ShardedPrefix.globalRank (two-phase, never a single-task " +
        "window); per-file stats are one groupBy (Layout." +
        "skippingAudit). Order keys are unique injective composites " +
        "(sec*2^30 + uid, uid = orderkey*8+linenumber < 2^30), so both " +
        "engines cut identical files.",
      Some {
        val (lo, hi) = (SkipLo, SkipHi)
        def one(layout: String, okey: String) =
          s"""SELECT '$layout' AS layout,
             |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |       CAST(SUM(CASE WHEN mx >= $lo AND mn <= $hi THEN 1 ELSE 0 END) AS BIGINT) AS chunks_read,
             |       CAST(SUM(CASE WHEN mx >= $lo AND mn <= $hi THEN n ELSE 0 END) AS BIGINT) AS rows_read,
             |       CAST(SUM(matched) AS BIGINT) AS rows_matched
             |FROM (
             |  SELECT MIN(ship_sec) AS mn, MAX(ship_sec) AS mx,
             |         COUNT(*) AS n,
             |         SUM(CASE WHEN ship_sec BETWEEN $lo AND $hi THEN 1 ELSE 0 END) AS matched
             |  FROM (SELECT ship_sec,
             |               (row_number() OVER (ORDER BY $okey) - 1) // 4096 AS chunk
             |        FROM keyed)
             |  GROUP BY chunk
             |)""".stripMargin
        s"""WITH base AS (
           |  SELECT CAST(epoch(l_shipdate) AS BIGINT) AS ship_sec,
           |         l_orderkey * 8 + l_linenumber AS uid
           |  FROM lineitem
           |), keyed AS (
           |  SELECT ship_sec,
           |         ship_sec * 1073741824 + uid AS okc,
           |         CAST('0x' || substr(md5(CAST(uid AS VARCHAR)), 1, 8) AS BIGINT)
           |           * 1073741824 + uid AS oks
           |  FROM base
           |)
           |${one("clustered", "okc")}
           |UNION ALL
           |${one("scattered", "oks")}""".stripMargin
      },
      (spark, dir) => {
        import graft.operators.{Layout, TextAnalysis}
        val (lo, hi) = (SkipLo, SkipHi)
        val keyed = Tables.lineitem(spark, dir)
          .select(
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP_LTZ)) div 1000000")
              .as("ship_sec"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("uid"))
          .select(
            col("ship_sec"),
            (col("ship_sec") * lit(1073741824L) + col("uid")).as("okc"),
            (TextAnalysis.portableHash32(col("uid").cast("string"))
              * lit(1073741824L) + col("uid")).as("oks"))
        Layout.skippingAudit(
            keyed, "okc", "ship_sec", "clustered", 4096L, lo, hi)
          .unionByName(Layout.skippingAudit(
            keyed, "oks", "ship_sec", "scattered", 4096L, lo, hi))
      }
    ),
    Q(
      "q236_skew_advisor",
      "Join-key skew advisor — the pre-flight that decides q59's " +
        "salting (and AQE skew thresholds): per candidate key, total " +
        "rows, distinct keys, the hottest key's count, its ratio to the " +
        "uniform expectation n/ndv, and the salting trigger evaluated " +
        "INTEGER-EXACT (top_cnt * ndv > 4 * n — no float compare in the " +
        "decision; the reported ratio is diagnostic). One groupBy per " +
        "key (the exchange the join itself would pay) + a 3-scalar " +
        "rollup; at 100 TB stats time the sketch face is q191's " +
        "count-min heavy hitters, audited against this exact face " +
        "(Skew.keySkewProfile). The fixture's keys are honestly mild " +
        "(ratios 1.3-2.5, nothing trips 4x) — the advisor's value is " +
        "that the number exists BEFORE the join is planned.",
      Some(Seq(
          ("lineitem", "l_suppkey"), ("lineitem", "l_partkey"),
          ("orders", "o_custkey"), ("events", "user_id"))
        .map { case (t, k) =>
          s"""SELECT '$t.$k' AS key_name, n, ndv, top_cnt,
             |       CAST(top_cnt AS DOUBLE) * ndv / n AS skew_ratio,
             |       top_cnt * ndv > 4 * n AS salt_recommended
             |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |             CAST(COUNT(DISTINCT $k) AS BIGINT) AS ndv,
             |             (SELECT CAST(MAX(c) AS BIGINT) FROM
             |               (SELECT COUNT(*) AS c FROM $t GROUP BY $k)) AS top_cnt
             |      FROM $t)""".stripMargin }
        .mkString("\nUNION ALL\n")),
      (spark, dir) => {
        import graft.operators.Skew
        val keys = Seq(
          ("lineitem.l_suppkey", Tables.lineitem(spark, dir), "l_suppkey"),
          ("lineitem.l_partkey", Tables.lineitem(spark, dir), "l_partkey"),
          ("orders.o_custkey", Tables.orders(spark, dir), "o_custkey"),
          ("events.user_id", Tables.eventsTsNs(spark, dir), "user_id"))
        keys.map { case (nm, df, k) =>
          Skew.keySkewProfile(df, k)
            .select(lit(nm).as("key_name"), col("n"), col("ndv"),
              col("top_cnt"),
              (col("top_cnt").cast("double") * col("ndv") / col("n"))
                .as("skew_ratio"),
              (col("top_cnt") * col("ndv") > lit(4L) * col("n"))
                .as("salt_recommended"))
        }.reduce(_ unionByName _)
      }
    ),
    Q(
      "q237_equidepth_histogram",
      "Equi-DEPTH histogram of lineitem.l_extendedprice — what " +
        "production optimizers store instead of q232's equi-width " +
        "cells: 16 cells of equal ROW count cut along the value order, " +
        "boundaries = observed per-cell min/max. Under skew equi-width " +
        "piles rows into few cells and its interpolation error is " +
        "unbounded; equi-depth bounds ANY range predicate's error at " +
        "+-1 cell = +-n/16 rows by construction " +
        "(Profile.equiDepthHistogram). The cut order is the sharded " +
        "global rank over a value-major unique composite " +
        "(round(price*100)*2^30 + rowuid — cents are integral, so the " +
        "composite refines the price order injectively and both " +
        "engines cut identical cells); never a single-task window.",
      Some("""
         |WITH u AS (
         |  SELECT l_extendedprice AS v,
         |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1073741824
         |           + l_orderkey * 8 + l_linenumber AS okey
         |  FROM lineitem
         |), n AS (SELECT COUNT(*) AS n FROM u),
         |r AS (
         |  SELECT v, (row_number() OVER (ORDER BY okey) - 1)
         |            // ((n + 15) // 16) AS bucket
         |  FROM u, n
         |)
         |SELECT bucket, MIN(v) AS lo, MAX(v) AS hi,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM r GROUP BY 1""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.Profile
        val u = Tables.lineitem(spark, dir).select(
          col("l_extendedprice").as("v"),
          (expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
            * lit(1073741824L)
            + col("l_orderkey") * 8 + col("l_linenumber")).as("okey"))
        Profile.equiDepthHistogram(u, "v", "okey", buckets = 16)
      }
    ),
    Q(
      "q238_estimator_faceoff",
      "The two histogram estimators head to head against the truth: " +
        "|l_extendedprice >= c| predicted from the 16-cell equi-WIDTH " +
        "histogram, from the 16-cell equi-DEPTH histogram (both through " +
        "the SAME q233 interpolation rule — Profile.rangeSelectivity " +
        "costs ANY (bucket, lo, hi, n_rows) table), and the actual " +
        "count, per cutoff. Equi-depth's error is bounded at one " +
        "cell's mass (n/16) by construction whatever the distribution; " +
        "equi-width's depends on within-cell uniformity — THE number a " +
        "planner reads when choosing which stat to maintain. Both " +
        "predictions read 16-row stats tables, never the data; the " +
        "actuals ride one conditional-aggregate scan.",
      Some {
        val cuts = Seq(20000.0, 53000.0, 90000.0)
        s"""${histCtes(HistBuckets, "l_extendedprice")}, u AS (
           |  SELECT l_extendedprice AS v,
           |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1073741824
           |           + l_orderkey * 8 + l_linenumber AS okey
           |  FROM lineitem
           |), n AS (SELECT COUNT(*) AS n FROM u),
           |r AS (
           |  SELECT v, (row_number() OVER (ORDER BY okey) - 1)
           |            // ((n + 15) // 16) AS bucket
           |  FROM u, n
           |), dhist AS (
           |  SELECT bucket, MIN(v) AS lo, MAX(v) AS hi,
           |         CAST(COUNT(*) AS BIGINT) AS n_rows
           |  FROM r GROUP BY 1
           |), cuts AS (
           |  SELECT UNNEST([${cuts.map(c => s"CAST($c AS DOUBLE)").mkString(", ")}]) AS cutoff
           |), pw AS (
           |  ${selSql("hist", "predicted_width")}
           |), pd AS (
           |  ${selSql("dhist", "predicted_depth")}
           |), act AS (
           |  SELECT cutoff,
           |         CAST(COUNT(CASE WHEN l_extendedprice >= cutoff THEN 1 END)
           |              AS BIGINT) AS actual
           |  FROM lineitem, cuts GROUP BY 1
           |)
           |SELECT cutoff, predicted_width, predicted_depth, actual
           |FROM pw JOIN pd USING (cutoff) JOIN act USING (cutoff)""".stripMargin
      },
      (spark, dir) => {
        import graft.operators.Profile
        val cuts = Seq(20000.0, 53000.0, 90000.0)
        val li = Tables.lineitem(spark, dir)
        val u = li.select(
          col("l_extendedprice").as("v"),
          (expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
            * lit(1073741824L)
            + col("l_orderkey") * 8 + col("l_linenumber")).as("okey"))
        val pw = Profile.rangeSelectivity(
            Profile.equiWidthHistogram(li, "l_extendedprice", HistBuckets),
            cuts)
          .withColumnRenamed("predicted", "predicted_width")
        val pd = Profile.rangeSelectivity(
            Profile.equiDepthHistogram(u, "v", "okey", HistBuckets), cuts)
          .withColumnRenamed("predicted", "predicted_depth")
        val actAggs = cuts.zipWithIndex.map { case (c, i) =>
          sum(when(col("l_extendedprice") >= c, 1L).otherwise(0L))
            .as(s"__a_$i") }
        val actRows = cuts.zipWithIndex.map { case (c, i) =>
          struct(lit(c).as("cutoff"), col(s"__a_$i").as("actual")) }
        val act = li.agg(actAggs.head, actAggs.tail: _*)
          .select(explode(array(actRows: _*)).as("a")).select("a.*")
        pw.join(broadcast(pd), Seq("cutoff"))
          .join(broadcast(act), Seq("cutoff"))
          .select("cutoff", "predicted_width", "predicted_depth", "actual")
      }
    ),
    Q(
      "q239_stats_catalog_costing",
      "q231's join costing re-run the way a real planner runs it: the " +
        "per-(table, key) stats live in a STORED CATALOG (StatsPhases — " +
        "built once, six rows, the ANALYZE artifact q230/q234 maintain) " +
        "and costing READS the catalog (broadcast row lookups, ZERO " +
        "data-table scans on the predicted side; only the audit's " +
        "actual-count joins touch data). Predicted values equal q231's " +
        "inline computation row for row — the catalog is deterministic, " +
        "so the from-scratch flood is this face's oracle verbatim " +
        "(joinCardOracle, shared). At 100 TB this seam is the whole " +
        "point of the stats layer: collect once, cost every query from " +
        "KBs.",
      Some(joinCardOracle),
      (spark, dir) => {
        StatsPhases.ensureStored(spark, dir)
        val cat = spark.table(StatsPhases.statsTable(dir))
        JoinCardSpecs.map { case (nm, l, lk, r, rk) =>
          val ls = cat.filter(col("tbl") === l && col("key") === lk)
            .select(col("n").as("n_left"), col("ndv").as("ndv_left"))
          val rs = cat.filter(col("tbl") === r && col("key") === rk)
            .select(col("n").as("n_right"), col("ndv").as("ndv_right"))
          val act = Tables(spark, dir, l)
            .join(Tables(spark, dir, r), col(lk) === col(rk))
            .agg(count(lit(1)).as("actual"))
          ls.crossJoin(broadcast(rs)).crossJoin(broadcast(act))
            .select(lit(nm).as("join_name"),
              col("n_left"), col("n_right"),
              col("ndv_left"), col("ndv_right"),
              expr("n_left * n_right div greatest(ndv_left, ndv_right)")
                .as("predicted"),
              col("actual"))
        }.reduce(_ unionByName _)
      }
    ),
    Q(
      "q240_sampled_stats",
      "Stats collection at sample cost — the 100 TB ANALYZE reality: " +
        "the q232 histogram estimated from a deterministic 1-in-16 " +
        "hash sample (portable row-uid hash, so both engines draw the " +
        "IDENTICAL sample), bucketed against the FULL bounds (parquet " +
        "footers give min/max free — Profile.columnBounds is a " +
        "separate stat for exactly this reason), scaled back by 16, " +
        "beside the true per-cell counts. Scale-up is integer " +
        "arithmetic — no float in the comparison. The estimate face " +
        "scans 1/16 of the data in production; this audit pays for " +
        "both faces to put the per-cell sampling error on record " +
        "(Profile.sampledHistogram).",
      Some(s"""WITH bnd AS (
         |  SELECT CAST(MIN(l_quantity) AS DOUBLE) AS mn,
         |         CAST(MAX(l_quantity) AS DOUBLE) AS mx
         |  FROM lineitem WHERE l_quantity IS NOT NULL
         |), asg AS (
         |  SELECT CASE WHEN mx = mn THEN 0
         |              ELSE LEAST(${HistBuckets - 1}, CAST(FLOOR(
         |                (CAST(l_quantity AS DOUBLE) - mn) * $HistBuckets / (mx - mn))
         |                AS BIGINT)) END AS bucket,
         |         CAST('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
         |           AS VARCHAR)), 1, 8) AS BIGINT) % 16 = 0 AS samp
         |  FROM lineitem, bnd WHERE l_quantity IS NOT NULL
         |)
         |SELECT t.bucket, t.n_true, COALESCE(s.n_est, 0) AS n_est
         |FROM (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_true
         |      FROM asg GROUP BY 1) t
         |LEFT JOIN (SELECT bucket, CAST(COUNT(*) * 16 AS BIGINT) AS n_est
         |           FROM asg WHERE samp GROUP BY 1) s
         |ON t.bucket = s.bucket""".stripMargin),
      (spark, dir) => {
        import graft.operators.{Profile, TextAnalysis}
        val li = Tables.lineitem(spark, dir)
        val uid = col("l_orderkey") * 8 + col("l_linenumber")
        Profile.sampledHistogram(
          li, "l_quantity", HistBuckets,
          TextAnalysis.portableHash32(uid.cast("string")) % 16 === 0,
          rate = 16L)
      }
    ),
    Q(
      "q241_join_order_choice",
      "The stats layer's capstone: a COST-BASED JOIN-ORDER decision " +
        "made from the stored catalog alone, audited against the true " +
        "sizes. For lineitem |><| orders |><| customer (chained on " +
        "o_orderkey / o_custkey), the two left-deep orders differ only " +
        "in which intermediate they materialize; System-R costing from " +
        "q239's catalog predicts |L><O| = 60k vs |O><C| = 15k (at " +
        "sf0.01) and picks orders-customer first — 4x less " +
        "intermediate state shuffled, the decision that dominates " +
        "multi-join cost at 100 TB. Second-join estimates use the " +
        "standard key-ndv preservation assumption, ndv(k in A><B) = " +
        "min(ndv_B(k), |A><B|) — documented, and the beside-the-truth " +
        "columns show where it holds. Every prediction is integer " +
        "arithmetic over EIGHT catalog rows (broadcast lookups, zero " +
        "data scans); only the audit's actual counts touch tables. " +
        "chosen = the plan whose predicted intermediate is the min — " +
        "an integer compare, no float in the decision.",
      Some("""
         |WITH s AS (
         |  SELECT (SELECT COUNT(*) FROM lineitem) AS n_l,
         |         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_l_ok,
         |         (SELECT COUNT(*) FROM orders) AS n_o,
         |         (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_o_ok,
         |         (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_o_ck,
         |         (SELECT COUNT(*) FROM customer) AS n_c,
         |         (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_c_ck,
         |         (SELECT COUNT(*) FROM lineitem JOIN orders
         |            ON l_orderkey = o_orderkey) AS act_lo,
         |         (SELECT COUNT(*) FROM orders JOIN customer
         |            ON o_custkey = c_custkey) AS act_oc,
         |         (SELECT COUNT(*) FROM lineitem
         |            JOIN orders ON l_orderkey = o_orderkey
         |            JOIN customer ON o_custkey = c_custkey) AS act_f
         |), p AS (
         |  SELECT *,
         |         (n_l * n_o) // greatest(ndv_l_ok, ndv_o_ok) AS pred_lo,
         |         (n_o * n_c) // greatest(ndv_o_ck, ndv_c_ck) AS pred_oc
         |  FROM s
         |)
         |SELECT 'lineitem_orders_first' AS plan_name,
         |       CAST(pred_lo AS BIGINT) AS predicted_intermediate,
         |       CAST(act_lo AS BIGINT) AS actual_intermediate,
         |       CAST((pred_lo * n_c)
         |         // greatest(least(ndv_o_ck, pred_lo), ndv_c_ck) AS BIGINT)
         |         AS predicted_final,
         |       CAST(act_f AS BIGINT) AS actual_final,
         |       pred_lo = least(pred_lo, pred_oc) AS chosen
         |FROM p
         |UNION ALL
         |SELECT 'orders_customer_first',
         |       CAST(pred_oc AS BIGINT), CAST(act_oc AS BIGINT),
         |       CAST((pred_oc * n_l)
         |         // greatest(least(ndv_o_ok, pred_oc), ndv_l_ok) AS BIGINT),
         |       CAST(act_f AS BIGINT),
         |       pred_oc = least(pred_lo, pred_oc)
         |FROM p
         |""".stripMargin.trim),
      (spark, dir) => {
        StatsPhases.ensureStored(spark, dir)
        val cat = spark.table(StatsPhases.statsTable(dir))
        def stat(t: String, k: String, suf: String) =
          cat.filter(col("tbl") === t && col("key") === k)
            .select(col("n").as(s"n_$suf"), col("ndv").as(s"ndv_$suf"))
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
        val c = Tables.customer(spark, dir)
        val actLo = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("act_lo"))
        val actOc = o.join(c, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("act_oc"))
        val actF = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("act_f"))
        val one = stat("lineitem", "l_orderkey", "l")
          .crossJoin(broadcast(stat("orders", "o_orderkey", "o")))
          .crossJoin(broadcast(stat("orders", "o_custkey", "ock")))
          .crossJoin(broadcast(stat("customer", "c_custkey", "c")))
          .crossJoin(broadcast(actLo))
          .crossJoin(broadcast(actOc))
          .crossJoin(broadcast(actF))
          .withColumn("pred_lo",
            expr("n_l * n_o div greatest(ndv_l, ndv_o)"))
          .withColumn("pred_oc",
            expr("n_ock * n_c div greatest(ndv_ock, ndv_c)"))
        one.select(explode(array(
            struct(
              lit("lineitem_orders_first").as("plan_name"),
              col("pred_lo").as("predicted_intermediate"),
              col("act_lo").as("actual_intermediate"),
              expr("pred_lo * n_c div greatest(least(ndv_ock, pred_lo), ndv_c)")
                .as("predicted_final"),
              col("act_f").as("actual_final"),
              (col("pred_lo") === least(col("pred_lo"), col("pred_oc")))
                .as("chosen")),
            struct(
              lit("orders_customer_first").as("plan_name"),
              col("pred_oc").as("predicted_intermediate"),
              col("act_oc").as("actual_intermediate"),
              expr("pred_oc * n_l div greatest(least(ndv_o, pred_oc), ndv_l)")
                .as("predicted_final"),
              col("act_f").as("actual_final"),
              (col("pred_oc") === least(col("pred_lo"), col("pred_oc")))
                .as("chosen")))).as("r"))
          .select("r.*")
      }
    ),
    Q(
      "q242_correlation_audit",
      "Where single-column stats LIE: conjunctive selectivity " +
        "|qty >= ca AND price >= cb| predicted three ways — " +
        "independence-combined PERFECT marginals (cnt_a * cnt_b div n, " +
        "integer-exact: the System-R default), a 16x16 2-D grid " +
        "histogram (Profile.grid2dHistogram / gridSelectivity: the " +
        "q233 interpolation rule applied jointly), and the truth. " +
        "l_extendedprice is qty * unit price, so the columns correlate " +
        "and the independence error lands on record beside the grid's " +
        "(the fixture's coupling is honest-mild: the grid wins at the " +
        "tail cutoff, 1854 vs 1885 against a truth of 1861) — the " +
        "audit that tells a planner which column pairs EARN a grid " +
        "(its cells are quadratic in dimensions, kept only where this " +
        "number says so). Marginals + actuals ride ONE " +
        "conditional-aggregate scan; the grid is one counted pass with " +
        "both bounds on a single broadcast 1-row cross.",
      Some("""
         |WITH bnd AS (
         |  SELECT CAST(MIN(l_quantity) AS DOUBLE) AS amn,
         |         CAST(MAX(l_quantity) AS DOUBLE) AS amx,
         |         CAST(MIN(l_extendedprice) AS DOUBLE) AS bmn,
         |         CAST(MAX(l_extendedprice) AS DOUBLE) AS bmx
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |), g AS (
         |  SELECT CASE WHEN amx = amn THEN 0
         |              ELSE LEAST(15, CAST(FLOOR(
         |                (CAST(l_quantity AS DOUBLE) - amn) * 16 / (amx - amn))
         |                AS BIGINT)) END AS ba,
         |         CASE WHEN bmx = bmn THEN 0
         |              ELSE LEAST(15, CAST(FLOOR(
         |                (CAST(l_extendedprice AS DOUBLE) - bmn) * 16 / (bmx - bmn))
         |                AS BIGINT)) END AS bb,
         |         amn, amx, bmn, bmx
         |  FROM lineitem, bnd
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |), grid AS (
         |  SELECT ba, bb,
         |         amn + ba * (amx - amn) / 16 AS a_lo,
         |         amn + (ba + 1) * (amx - amn) / 16 AS a_hi,
         |         bmn + bb * (bmx - bmn) / 16 AS b_lo,
         |         bmn + (bb + 1) * (bmx - bmn) / 16 AS b_hi,
         |         CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM g GROUP BY 1, 2, 3, 4, 5, 6
         |), cuts AS (
         |  SELECT * FROM (VALUES
         |    (CAST(25.0 AS DOUBLE), CAST(53000.0 AS DOUBLE)),
         |    (CAST(40.0 AS DOUBLE), CAST(90000.0 AS DOUBLE)))
         |    AS t(cutoff_a, cutoff_b)
         |), pg AS (
         |  SELECT cutoff_a, cutoff_b,
         |         CAST(SUM(CAST(n_rows
         |           * (CASE WHEN cutoff_a <= a_lo THEN CAST(1.0 AS DOUBLE)
         |                   WHEN cutoff_a >= a_hi THEN CAST(0.0 AS DOUBLE)
         |                   ELSE (a_hi - cutoff_a) / (a_hi - a_lo) END)
         |           * (CASE WHEN cutoff_b <= b_lo THEN CAST(1.0 AS DOUBLE)
         |                   WHEN cutoff_b >= b_hi THEN CAST(0.0 AS DOUBLE)
         |                   ELSE (b_hi - cutoff_b) / (b_hi - b_lo) END)
         |           AS DECIMAL(28,6))) AS DOUBLE) AS predicted_grid
         |  FROM grid, cuts GROUP BY 1, 2
         |), m AS (
         |  SELECT cutoff_a, cutoff_b,
         |         CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(COUNT(CASE WHEN l_quantity >= cutoff_a THEN 1 END)
         |              AS BIGINT) AS cnt_a,
         |         CAST(COUNT(CASE WHEN l_extendedprice >= cutoff_b THEN 1 END)
         |              AS BIGINT) AS cnt_b,
         |         CAST(COUNT(CASE WHEN l_quantity >= cutoff_a
         |                          AND l_extendedprice >= cutoff_b THEN 1 END)
         |              AS BIGINT) AS actual
         |  FROM lineitem, cuts GROUP BY 1, 2
         |)
         |SELECT cutoff_a, cutoff_b,
         |       (cnt_a * cnt_b) // n AS predicted_indep,
         |       predicted_grid, actual
         |FROM m JOIN pg USING (cutoff_a, cutoff_b)
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.Profile
        val cuts = Seq((25.0, 53000.0), (40.0, 90000.0))
        val li = Tables.lineitem(spark, dir)
        val grid = Profile.grid2dHistogram(
          li, "l_quantity", "l_extendedprice", 16, 16)
        val pg = Profile.gridSelectivity(grid, cuts)
          .withColumnRenamed("predicted", "predicted_grid")
        val mAggs = count(lit(1)).as("__n") +:
          cuts.zipWithIndex.flatMap { case ((ca, cb), i) => Seq(
            sum(when(col("l_quantity") >= ca, 1L).otherwise(0L))
              .as(s"__ca_$i"),
            sum(when(col("l_extendedprice") >= cb, 1L).otherwise(0L))
              .as(s"__cb_$i"),
            sum(when(col("l_quantity") >= ca &&
                col("l_extendedprice") >= cb, 1L).otherwise(0L))
              .as(s"__act_$i")) }
        val mRows = cuts.zipWithIndex.map { case ((ca, cb), i) =>
          struct(
            lit(ca).as("cutoff_a"), lit(cb).as("cutoff_b"),
            expr(s"__ca_$i * __cb_$i div __n").as("predicted_indep"),
            col(s"__act_$i").as("actual")) }
        val m = li.agg(mAggs.head, mAggs.tail: _*)
          .select(explode(array(mRows: _*)).as("m")).select("m.*")
        m.join(broadcast(pg), Seq("cutoff_a", "cutoff_b"))
          .select("cutoff_a", "cutoff_b", "predicted_indep",
            "predicted_grid", "actual")
      }
    ),
    Q(
      "q243_mcv_selectivity",
      "Most-common-values list + equality selectivity — the third " +
        "classic optimizer stat beside the two histograms " +
        "(Profile.mcvList): top-8 l_suppkey values by exact count, " +
        "totally ordered (count desc, value asc) so the cut is " +
        "deterministic cross-engine through count ties; plans as one " +
        "grouped count into a global top-k (TakeOrderedAndProject, " +
        "never a full sort). Equality predicates then cost " +
        "Postgres-style: probe IN the list -> its exact count; " +
        "otherwise the uniform remainder (n - mcv_mass) div (ndv - k) " +
        "— heavy hitters exact, tail spread, all integer arithmetic. " +
        "Probes 1/7 (tail at sf0.01) and 16 (the sf0.01 hottest value, " +
        "exercising the exact branch) beside their true counts; the " +
        "prediction side " +
        "reads 8 MCV rows + 2 scalar stats, the audit's actuals ride " +
        "one conditional-aggregate scan.",
      Some("""
         |WITH c AS (
         |  SELECT l_suppkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1
         |), mcv AS (
         |  SELECT v, cnt FROM c ORDER BY cnt DESC, v ASC LIMIT 8
         |), t AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ndv
         |  FROM lineitem
         |), mm AS (
         |  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS mcv_mass,
         |         CAST(COUNT(*) AS BIGINT) AS k
         |  FROM mcv
         |), probes AS (
         |  SELECT UNNEST([CAST(1 AS BIGINT), CAST(7 AS BIGINT),
         |                 CAST(16 AS BIGINT)]) AS probe
         |)
         |SELECT probe,
         |       probe IN (SELECT v FROM mcv) AS in_mcv,
         |       CASE WHEN probe IN (SELECT v FROM mcv)
         |            THEN (SELECT cnt FROM mcv WHERE v = probe)
         |            ELSE (n - mcv_mass) // (ndv - k) END AS predicted,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
         |        WHERE l_suppkey = probe) AS actual
         |FROM probes, t, mm
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.Profile
        val probes = Seq(1L, 7L, 16L)
        val li = Tables.lineitem(spark, dir)
        val mcv = Profile.mcvList(li, "l_suppkey", 8)
        val tot = li.agg(count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("ndv"))
        val mm = mcv.agg(coalesce(sum("cnt"), lit(0L)).as("mcv_mass"),
          count(lit(1)).as("k"))
        val actAggs = probes.zipWithIndex.map { case (p, i) =>
          sum(when(col("l_suppkey") === p, 1L).otherwise(0L)).as(s"__a_$i") }
        val actRows = probes.zipWithIndex.map { case (p, i) =>
          struct(lit(p).as("probe"), col(s"__a_$i").as("actual")) }
        val act = li.agg(actAggs.head, actAggs.tail: _*)
          .select(explode(array(actRows: _*)).as("a")).select("a.*")
        val probeDf = spark.range(1).select(
          explode(array(probes.map(p => struct(lit(p).as("probe"))): _*))
            .as("p")).select("p.*")
        probeDf
          .join(broadcast(mcv), col("probe") === col("v"), "left")
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(mm))
          .join(broadcast(act), Seq("probe"))
          .select(
            col("probe"),
            col("v").isNotNull.as("in_mcv"),
            when(col("v").isNotNull, col("cnt"))
              .otherwise(expr("(n - mcv_mass) div (ndv - k)"))
              .as("predicted"),
            col("actual"))
      }
    ),
    Q(
      "q244_rule_broadcast_choice",
      "The stats layer ENACTED in Catalyst #1 — catalog-driven " +
        "broadcast choice (graft.plans.CatalogBroadcastRule, installed " +
        "via the public extraOptimizations hook on a child session): " +
        "with spark.sql.autoBroadcastJoinThreshold=-1 (size-based " +
        "auto-broadcast OFF, the regime where file size misleads or " +
        "no runtime evidence exists yet), the rule reads the STORED " +
        "catalog's row counts (supplier 1/600th of lineitem) and sets " +
        "the BROADCAST join hint itself, so the fact side never " +
        "shuffles — the 100 TB decision made from KBs of ANALYZE " +
        "state. The result is plan-independent (the oracle checks " +
        "semantics; CatalogRulesSpec pins that the physical plan is " +
        "BroadcastHashJoin with the rule on and SortMergeJoin with it " +
        "off, results equal).",
      Some("""
         |SELECT s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogBroadcastRule, CatalogRules}
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(CatalogBroadcastRule(st.tables.map { case (t, s) => t -> s.rows })),
          NoBroadcast)
        q244Text(child, dir)
      },
      bench = Seq(twin("q244_ruleoff_smj", q244Text)(NoBroadcast), Phase.Self)
    ),
    Q(
      "q245_rule_join_order",
      "The stats layer ENACTED in Catalyst #2 — q241's join-order " +
        "decision made BY the optimizer (graft.plans." +
        "CatalogJoinOrderRule): the query text joins lineitem><orders " +
        "FIRST (the 60k-row intermediate at sf0.01); the rule costs " +
        "both left-deep orders from the stored catalog's eight rows " +
        "(System-R n*n/max(ndv), integer) and re-associates so " +
        "orders><customer (15k rows) materializes instead — 4x less " +
        "intermediate state shuffled, from the same query text. " +
        "autoBroadcastJoinThreshold=-1 puts the plan in the " +
        "shuffle-join regime where intermediate size IS the cost (at " +
        "100 TB none of these tables broadcasts). Output-preserving by " +
        "construction: same resolved condition expressions over the " +
        "same relation nodes, a restoring projection pins the original " +
        "column order; the oracle checks the result, CatalogRulesSpec " +
        "pins the rewritten tree shape and rule-off equality.",
      Some("""
         |SELECT c_mktsegment, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogJoinOrderRule, CatalogRules}
        val st = StatsPhases.collected(spark, dir)
        q245Text(CatalogRules.sessionWith(spark,
          Seq(CatalogJoinOrderRule(st)), NoBroadcast), dir)
      },
      bench = Seq(twin("q245_ruleoff_written", q245Text)(NoBroadcast), Phase.Self)
    ),
    Q(
      "q246_rule_conjunct_order",
      "The stats layer ENACTED in Catalyst #3 — histogram-driven " +
        "conjunct order (graft.plans.ConjunctReorderRule): the filter " +
        "is WRITTEN unselective-first (l_extendedprice >= 1000 keeps " +
        "~99%, then l_quantity >= 45 keeps ~11%); the rule reads the " +
        "two stored q232 equi-width histograms (16 cells each, " +
        "collected to KBs) and reorders the AND chain " +
        "most-selective-first, so short-circuit evaluation inside " +
        "whole-stage codegen rejects ~89% of scan survivors on the " +
        "FIRST test instead of the second. Pushdown is untouched " +
        "(row-group pruning extracts conjuncts by membership, not " +
        "order). Same rows either way — the oracle checks semantics; " +
        "CatalogRulesSpec pins the reordered Filter condition and " +
        "rule-off equality.",
      Some("""
         |SELECT l_returnflag, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |WHERE l_extendedprice >= 1000.0 AND l_quantity >= 45.0
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConjunctReorderRule}
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir))
        val child = CatalogRules.sessionWith(spark, Seq(ConjunctReorderRule(est)))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 && col("l_quantity") >= 45.0)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      },
      bench = Seq(
        Phase.build("histcat_build")(HistPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q247_rule_join_order4",
      "Greedy System-R ordering over a DEEPER chain — the " +
        "CatalogJoinOrderRule generalized past q241's 3-table shape: " +
        "the text joins lineitem><orders FIRST and nation LAST (the " +
        "worst left-deep order, 60k-then-60k-then-60k intermediates at " +
        "sf0.01); the rule seeds from the smallest predicted pair " +
        "(customer><nation, 1.5k — the join the text runs LAST) and " +
        "greedily attaches orders then lineitem, carrying the running " +
        "cardinality under the ndv-preservation assumption. Every " +
        "decision is integer arithmetic over stored catalog rows " +
        "already collected for q239/q241 — zero data scans to plan. " +
        "Shuffle-join regime (threshold=-1): at 100 TB the " +
        "intermediate-size ordering is the difference between " +
        "exchanging dimension-sized and fact-sized state twice. " +
        "CatalogRulesSpec pins the rebuilt attach order " +
        "(customer><nation, +orders, +lineitem) and rule-off equality.",
      Some("""
         |SELECT n_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogJoinOrderRule, CatalogRules}
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(CatalogJoinOrderRule(st)),
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        Tables.lineitem(child, dir)
          .join(Tables.orders(child, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(child, dir),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(child, dir),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q248_rule_decision_approx",
      "The join-order decision from APPROXIMATE stats — the 100 TB " +
        "reality, where nobody computes exact ndv; the catalog is " +
        "maintained as HLL register tables (q234's fold). The q241 " +
        "choice needs only the ORDER of the predicted sizes, and with " +
        "raw-HLL ndv (alpha*m^2/s) the comparison n*n/ndv_max reduces " +
        "to comparing n_left*n_right*s_min — alpha*m^2 cancels — so " +
        "the decision is INTEGER arithmetic over the scaled register " +
        "sums (s_min because ndv is inversely proportional to s; " +
        "accumulated at DECIMAL(38,0) so no width overflows the " +
        "product, emitted as BIGINT per the repo's no-DECIMAL-outputs " +
        "edge convention — the score tops out around 2.3e16 at bench " +
        "scale, well inside the 64-bit range), exactly " +
        "reproducible by the oracle's md5 device. Counts are exact " +
        "(additively foldable, q234's other half). On the fixture the " +
        "approx decision MATCHES the exact one (orders_customer_first " +
        "chosen — compare q241); CatalogRulesSpec additionally pins " +
        "that CatalogJoinOrderRule fed approx-ndv stats builds the " +
        "same tree as the exact catalog.",
      Some {
        def hllS(table: String, key: String): String =
          s"""(SELECT CAST((64 - count(*)) * (CAST(1 AS BIGINT) << 27)
             |       + sum(CAST(1 AS BIGINT) << (27 - register)) AS BIGINT)
             |FROM (SELECT bucket,
             |             max(CASE WHEN w = 0 THEN 27
             |                      ELSE 27 - length(bin(w)) END) AS register
             |      FROM (SELECT CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 8) AS BIGINT) & 63 AS bucket,
             |                   CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 8) AS BIGINT) >> 6 AS w
             |            FROM $table WHERE $key IS NOT NULL)
             |      GROUP BY 1))""".stripMargin
        s"""WITH st AS (
           |  SELECT (SELECT COUNT(*) FROM lineitem) AS n_l,
           |         (SELECT COUNT(*) FROM orders) AS n_o,
           |         (SELECT COUNT(*) FROM customer) AS n_c,
           |         ${hllS("lineitem", "l_orderkey")} AS s_l_ok,
           |         ${hllS("orders", "o_orderkey")} AS s_o_ok,
           |         ${hllS("orders", "o_custkey")} AS s_o_ck,
           |         ${hllS("customer", "c_custkey")} AS s_c_ck
           |), sc AS (
           |  SELECT *,
           |         CAST(n_l AS HUGEINT) * n_o * LEAST(s_l_ok, s_o_ok) AS score_lo,
           |         CAST(n_o AS HUGEINT) * n_c * LEAST(s_o_ck, s_c_ck) AS score_oc
           |  FROM st
           |)
           |SELECT 'lineitem_orders_first' AS plan_name,
           |       CAST(n_l AS BIGINT) AS n_left, CAST(n_o AS BIGINT) AS n_right,
           |       CAST(LEAST(s_l_ok, s_o_ok) AS BIGINT) AS s_min,
           |       CAST(score_lo AS BIGINT) AS score,
           |       score_lo <= score_oc AS chosen
           |FROM sc
           |UNION ALL
           |SELECT 'orders_customer_first',
           |       CAST(n_o AS BIGINT), CAST(n_c AS BIGINT),
           |       CAST(LEAST(s_o_ck, s_c_ck) AS BIGINT),
           |       CAST(score_oc AS BIGINT),
           |       score_oc <= score_lo
           |FROM sc""".stripMargin
      },
      (spark, dir) => {
        import graft.operators.{HyperLogLog, Profile}
        def stat(t: String, k: String, suf: String) = {
          val tb = Tables(spark, dir, t)
          tb.agg(count(lit(1)).as(s"n_$suf"))
            .crossJoin(broadcast(
              HyperLogLog.estimateRaw(
                  Profile.profileSketch(tb, Seq(k), p = 6), Seq("column"), p = 6)
                .select(col("s_scaled").as(s"s_$suf"))))
        }
        val one = stat("lineitem", "l_orderkey", "l_ok")
          .crossJoin(broadcast(stat("orders", "o_orderkey", "o_ok")))
          .crossJoin(broadcast(stat("orders", "o_custkey", "o_ck")))
          .crossJoin(broadcast(stat("customer", "c_custkey", "c_ck")))
          .withColumn("score_lo",
            (col("n_l_ok").cast("decimal(38,0)") * col("n_o_ok") *
              least(col("s_l_ok"), col("s_o_ok"))).cast("decimal(38,0)"))
          .withColumn("score_oc",
            (col("n_o_ok").cast("decimal(38,0)") * col("n_c_ck") *
              least(col("s_o_ck"), col("s_c_ck"))).cast("decimal(38,0)"))
        one.select(explode(array(
            struct(
              lit("lineitem_orders_first").as("plan_name"),
              col("n_l_ok").as("n_left"), col("n_o_ok").as("n_right"),
              least(col("s_l_ok"), col("s_o_ok")).as("s_min"),
              col("score_lo").cast("bigint").as("score"),
              (col("score_lo") <= col("score_oc")).as("chosen")),
            struct(
              lit("orders_customer_first").as("plan_name"),
              col("n_o_ok").as("n_left"), col("n_c_ck").as("n_right"),
              least(col("s_o_ck"), col("s_c_ck")).as("s_min"),
              col("score_oc").cast("bigint").as("score"),
              (col("score_oc") <= col("score_lo")).as("chosen"))
          )).as("p")).select("p.*")
      }
    ),
    Q(
      "q249_mv_rewrite",
      "Materialized-view rewrite — aggregate navigation (graft.plans." +
        "MvRewriteRule): the query text is the q10 TPC-H-Q1 aggregate " +
        "over LINEITEM; the rule recognizes that the stored rollup " +
        "(MvPhases: grouped by returnflag+linestatus with count, " +
        "DECIMAL partial sums, min/max — maintained at ingest like " +
        "every stored artifact) subsumes it and answers from the " +
        "rollup's handful of rows, fact table untouched. COUNT folds " +
        "as sum(cnt), SUMs re-sum the DECIMAL partials (exact — " +
        "decimal addition is associative, so partials-then-total " +
        "equals the oracle's direct total bit for bit), MIN/MAX fold " +
        "through. At 100 TB this turns a fact scan into a KB read for " +
        "every query shaped like a report the pipeline already " +
        "maintains. The oracle aggregates the BASE table in DuckDB — " +
        "proving the rewrite end-to-end, not just the plan shape; " +
        "CatalogRulesSpec pins that the plan reads ONLY the rollup " +
        "(no lineitem relation) and that non-subsumed shapes bail to " +
        "the fact scan.",
      Some("""
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStored(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDef(child, dir)))))
        q249Text(child, dir)
      },
      bench = Seq(
        Phase.build("mv_build")(MvPhases.buildStored),
        twin("q249_ruleoff_base", q249Text)(),
        Phase.Self)
    ),
    Q(
      "q250_mv_rewrite_coarser",
      "MV rewrite at a COARSER grain + dimension filter — the " +
        "subsumption half of aggregate navigation: grouping by " +
        "returnflag alone (a subset of the rollup's dims) re-aggregates " +
        "the rollup's cells, and the l_linestatus = 'F' predicate " +
        "touches only dimensions, so it commutes with the rollup's " +
        "group-by and is remapped onto the rollup's attributes — the " +
        "fact table stays untouched for a filtered report the rollup " +
        "never saw verbatim. Any predicate on a NON-dimension column " +
        "bails to the fact scan (spec-pinned), because filter-then-" +
        "aggregate does not commute through partials.",
      Some("""
         |SELECT l_returnflag, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |WHERE l_linestatus = 'F'
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStored(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDef(child, dir)))))
        Tables.lineitem(child, dir)
          .filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q251_mv_incremental",
      "Incremental rollup maintenance — the q249 artifact kept fresh " +
        "the q234 way: an arrival batch reduces to its own partials " +
        "(one batch-sized aggregation) and FOLDS into the stored " +
        "rollup cell-wise — count and the DECIMAL sums are additive, " +
        "min/max are their own monoids — so folded EQUALS " +
        "from-scratch row for row (decimal addition is associative; " +
        "the oracle recomputes the scratch rollup over the full " +
        "table). The fact table is never rescanned: at 100 TB the " +
        "rollup stays serveable for the MV rewrite at " +
        "arrival-batch cost. Shards are the q234/q240 device " +
        "(injective uid = orderkey*8+linenumber, even/odd), so both " +
        "engines cut identical batches. Additive sides carry the " +
        "exactly-once ingest contract (a replayed batch would " +
        "double-count cnt/sums; min/max shrug replay off) — the same " +
        "split Profile.refreshBatch documents.",
      Some("""
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val uid = col("l_orderkey") * 8 + col("l_linenumber")
        // The STORED artifact keeps its exact DECIMAL partials (that is
        // the fold's whole contract); only the query EDGE casts to
        // DOUBLE, per the repo's no-DECIMAL-outputs convention — the
        // fold-equals-scratch claim is unchanged (decimal addition is
        // associative; the cast is applied to the already-exact total).
        MvPhases.fold(
          MvPhases.partials(li.filter(uid % 2 === 0)),
          li.filter(uid % 2 === 1))
          .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
            col("sum_qty").cast("double").as("sum_qty"),
            col("sum_price").cast("double").as("sum_price"),
            col("min_qty"), col("max_price"))
      }
    ),
    Q(
      "q252_mv_join_rewrite",
      "JOIN-shaped aggregate navigation — the MV layer and the stats " +
        "catalog composed: the text aggregates lineitem JOIN supplier " +
        "by s_name; the rule recognizes the join key (l_suppkey) as a " +
        "dimension of the stored FK rollup AND proves from the " +
        "catalog that s_suppkey is unique on the dim side " +
        "(ndv == rows — the FK/PK fact a real planner gets from a " +
        "constraint, derived here from ANALYZE state), so each rollup " +
        "cell matches at most one supplier row and the partials pass " +
        "through the join unchanged: the fact scan becomes a " +
        "dim-cardinality rollup joined to the live dim table. The dim " +
        "side is reused VERBATIM (its attributes keep their ids — " +
        "grouping by s_name needs no surgery), and dim attributes are " +
        "deliberately not denormalized into the rollup, so dim edits " +
        "never invalidate it. Without the uniqueness proof (empty " +
        "stats) or with the key not a rollup dim, the shape bails to " +
        "the fact scan — MvRewriteSpec pins both. Same query text as " +
        "q244 (which demonstrates the broadcast DECISION); this face " +
        "removes the fact scan entirely.",
      Some("""
         |SELECT s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredSk(spark, dir)
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefSk(child, dir)), st)))
        Tables.lineitem(child, dir)
          .join(Tables.supplier(child, dir),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              .as("sum_qty"))
      }
    ),
    Q(
      "q253_rules_composed",
      "The WHOLE decision layer on one query " +
        "(CatalogRules.standardRules — MV rewrite, join order, " +
        "conjunct order, broadcast, in the documented composition " +
        "order): the text filters lineitem unselective-first, joins " +
        "the 3-chain in the worst order, and aggregates. In one " +
        "fixpoint pass the conjunct rule flips the filter (quantity " +
        "test first), the FILTER-AWARE join-order rule (standardRules " +
        "passes its selectivity estimator through by default since " +
        "r19) keeps the ~12%-filtered fact's join first — at the " +
        "fixture scale the discounted fact is smaller than the " +
        "orders><customer pair, so aware ordering beats the blind " +
        "dims-first choice — and the broadcast rule " +
        "hints the surviving joins' cataloged sides; the MV rules " +
        "correctly stand down (the filter touches measures). " +
        "CatalogRulesSpec pins all three effects on the one plan plus " +
        "row equality; the oracle checks the composed semantics. The " +
        "ordering contract (shape rules before the hint rule — a " +
        "hinted join is user intent to the shape rules) is documented " +
        "on standardRules and exercised here.",
      Some("""
         |SELECT c_mktsegment, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_extendedprice >= 1000.0 AND l_quantity >= 45.0
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConjunctReorderRule}
        MvPhases.ensureStored(spark, dir)
        MvPhases.ensureStoredSk(spark, dir)
        val st = StatsPhases.collected(spark, dir)
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir))
        val child = CatalogRules.sessionWith(spark, Nil,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        CatalogRules.installRules(child,
          CatalogRules.standardRules(st,
            mvs = Seq(MvPhases.mvDef(child, dir), MvPhases.mvDefSk(child, dir)),
            selectivity = Some(est)))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 && col("l_quantity") >= 45.0)
          .join(Tables.orders(child, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(child, dir),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q254_rule_conjunct_equality",
      "MCV-driven EQUALITY costing in the conjunct-reorder rule — the " +
        "r17 gap closed: the q243 most-common-values stat, previously " +
        "collected but unread by any rule, now costs EqualTo conjuncts " +
        "(MCV member -> its exact count; tail -> the uniform remainder " +
        "(n - mcv_mass) div (ndv - k)), so a chain containing an " +
        "equality no longer makes the whole filter uncostable. The " +
        "text is written worst-first (l_extendedprice >= 1000 keeps " +
        "~99%, then l_suppkey = 1 keeps ~1/ndv); the rule reads the " +
        "stored histogram + MCV catalogs (KBs) and flips the chain so " +
        "short-circuit evaluation rejects ~99% of scan survivors on " +
        "the equality test first. Same rows either way — the oracle " +
        "checks semantics; CatalogRulesSpec pins the reordered Filter " +
        "and rule-off written order.",
      Some("""
         |SELECT l_returnflag, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |WHERE l_extendedprice >= 1000.0 AND l_suppkey = 1
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConjunctReorderRule}
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir),
          McvPhases.collectedMcvs(spark, dir))
        val child = CatalogRules.sessionWith(spark, Seq(ConjunctReorderRule(est)))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 && col("l_suppkey") === 1)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      },
      bench = Seq(
        Phase.build("mcvcat_build")(McvPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q255_mv_sk_incremental",
      "Incremental maintenance for the FK rollup — the one stored " +
        "serving artifact that closed r17 without a freshness story " +
        "(q252's rollup was build-once): an arrival batch reduces to " +
        "its own per-suppkey partials and FOLDS into the stored rollup " +
        "cell-wise (count and the DECIMAL sum are additive — the same " +
        "monoids as q251's returnflag rollup), so folded EQUALS " +
        "from-scratch row for row and the q252 join rewrite stays " +
        "serveable under ingest at arrival-batch cost, the fact table " +
        "never rescanned. Shards are the q251 device (injective " +
        "uid = orderkey*8+linenumber, even/odd) so both engines cut " +
        "identical batches; the oracle recomputes the scratch rollup " +
        "over the full table. Additive cells carry the exactly-once " +
        "ingest contract (replay double-counts; StreamingIncremental" +
        "Spec pins the streaming refreshBatchSk face). Output cast to " +
        "DOUBLE at the edge; the STORED artifact keeps exact DECIMAL " +
        "partials, overflow-guarded to fail its build loudly.",
      Some("""
         |SELECT l_suppkey, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val uid = col("l_orderkey") * 8 + col("l_linenumber")
        MvPhases.foldSk(
          MvPhases.partialsSk(li.filter(uid % 2 === 0)),
          li.filter(uid % 2 === 1))
          .select(col("l_suppkey"), col("cnt"),
            col("sum_qty").cast("double").as("sum_qty"))
      }
    ),
    Q(
      "q256_mv_avg_rewrite",
      "COUNT(col) + AVG-shaped folding in the MV rewrite: the rollup " +
        "now stores per-column NON-NULL counts (cnt_qty/cnt_price — " +
        "appended partials, same fold monoid as cnt), so COUNT(x) " +
        "folds onto them exactly like COUNT(*) onto cnt, and the " +
        "engine's deterministic-average idiom — " +
        "sum(cast(x as decimal)) / count(x), the only average the " +
        "repo's cross-engine exactness discipline permits — folds " +
        "with NO average-specific machinery: the rewrite swaps the " +
        "two aggregate calls inside the division independently and " +
        "keeps the scalar wrapper. Native float-order-dependent " +
        "Average(x) deliberately does NOT fold (no decimal partial " +
        "can reproduce a double-accumulation bit for bit); " +
        "MvRewriteSpec pins rollup-only scans, the rule-off " +
        "equality, and the Average refusal. At 100 TB this makes " +
        "every report-style mean a KB read from the artifact the " +
        "ingest pipeline already folds per batch.",
      Some("""
         |SELECT l_returnflag, l_linestatus,
         |       COUNT(l_quantity) AS cnt_qty,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
         |         / COUNT(l_quantity) AS avg_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         |         / COUNT(l_extendedprice) AS avg_price
         |FROM lineitem
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStored(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDef(child, dir)))))
        Tables.lineitem(child, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(col("l_quantity")).as("cnt_qty"),
            (sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              / count(col("l_quantity"))).as("avg_qty"),
            (sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              / count(col("l_extendedprice"))).as("avg_price"))
      }
    ),
    Q(
      "q257_mv_sk_retract",
      "DELETE maintenance for the FK rollup — the retraction half of " +
        "CDC-grade MV upkeep (MvPhases.foldRetractSk): every measure " +
        "the sk rollup stores is additive (count, DECIMAL sum), so a " +
        "delete batch reduces to its own partials and folds " +
        "NEGATIVELY, cell-wise, with ZERO fact rescans — and a cell " +
        "whose count reaches zero drops, exactly as a from-scratch " +
        "rebuild over the remaining rows would omit it (an " +
        "all-deleted group must disappear). A count driven NEGATIVE " +
        "raises (retracting rows never folded in is a corrupt-feed " +
        "bug, not state to serve). The oracle rebuilds the rollup " +
        "over lineitem MINUS the deleted quarter (uid % 4 == 3, the " +
        "q251 injective-uid device) from scratch; the Spark side " +
        "retracts that quarter from the full-table rollup — " +
        "equality IS the retraction proof. Replay contract mirrored " +
        "from the insert fold: a replayed retract over-subtracts, so " +
        "retraction rides the same exactly-once batch-id discipline. " +
        "Min/max-bearing rollups cannot take this path (q258).",
      Some("""
         |SELECT l_suppkey, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE (l_orderkey * 8 + l_linenumber) % 4 <> 3
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val uid = col("l_orderkey") * 8 + col("l_linenumber")
        MvPhases.foldRetractSk(
          MvPhases.partialsSk(li),
          li.filter(uid % 4 === 3))
          .select(col("l_suppkey"), col("cnt"),
            col("sum_qty").cast("double").as("sum_qty"))
      }
    ),
    Q(
      "q258_mv_delete_touched",
      "DELETE maintenance for a rollup WITH non-retractable measures " +
        "(MvPhases.deleteMaintain): min/max cannot subtract — a " +
        "deleted row might have BEEN the min — so the touched CELLS, " +
        "and only those, recompute their partials from the remaining " +
        "fact rows (the touched dim values ride a broadcast semi-join " +
        "into the scan) while every untouched cell keeps its stored " +
        "row verbatim via an anti-join. The fixture deletes one " +
        "returnflag's rows entirely ('R', which also removes its " +
        "cells) plus a quarter of 'A' (whose cells recompute); 'N' " +
        "cells must arrive byte-identical from the stored artifact. " +
        "At 100 TB the recompute bill is the touched cells' row " +
        "share, not the table — the honest price of min/max under " +
        "deletes, and exactly why the q257 rollup keeps only additive " +
        "measures. Oracle: from-scratch partials over the remaining " +
        "rows, edge-cast per convention.",
      Some("""
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem
         |WHERE NOT (l_returnflag = 'R'
         |           OR (l_returnflag = 'A'
         |               AND (l_orderkey * 8 + l_linenumber) % 4 = 3))
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val uid = col("l_orderkey") * 8 + col("l_linenumber")
        val isDeleted = col("l_returnflag") === "R" ||
          (col("l_returnflag") === "A" && uid % 4 === 3)
        MvPhases.deleteMaintain(
          MvPhases.partials(li),
          li.filter(isDeleted),
          li.filter(!isDeleted))
          .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
            col("sum_qty").cast("double").as("sum_qty"),
            col("min_qty"), col("max_price"))
      }
    ),
    Q(
      "q259_mv_conf_rewrite",
      "The MV layer by CONFIG — the last decision-layer rule to gain " +
        "the conf-only deployment form (graft.plans.ConfMvRewriteRule, " +
        "injected by GraftExtensions first, per the shape-before-hint " +
        "composition order): the rollup CONTRACT (table, base+path, " +
        "dims, measures with their accumulation casts) is published as " +
        "one runtime conf string, the rule resolves the rollup's read " +
        "plan against the active session's catalog per invocation, and " +
        "the q249 query text is answered from the rollup with zero " +
        "code installed — the full aggregate-navigation story a real " +
        "cluster enables by setting spark.sql.extensions plus one " +
        "conf. Unset conf = strict no-op; malformed conf or a missing " +
        "rollup table fails the query loudly; join-shaped rewrites " +
        "additionally need spark.graft.mv.exactstats, the " +
        "DECLARED-CONSTRAINT channel (same act and responsibility as " +
        "declaring a PK — entries are trusted Exact because the " +
        "deployer said so; MvRewriteSpec pins the conf face firing " +
        "with it and standing down without). Oracle aggregates the " +
        "base table — end-to-end semantics, not plan shape.",
      Some("""
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConfMvRewriteRule}
        MvPhases.ensureStored(spark, dir)
        val child = CatalogRules.sessionWith(spark, Seq(ConfMvRewriteRule),
          ConfMvRewriteRule.DefsConf -> MvPhases.mvDefConf(dir))
        Tables.lineitem(child, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              .as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_extendedprice")).as("max_price"))
      }
    ),
    Q(
      "q260_rule_conjunct_string",
      "MCV equality costing over a STRING column — the q254 mechanism " +
        "generalized past numerics: ColumnMcv holds values under one " +
        "canonical key form (numerics meet at Double.toString's " +
        "rendering on both the collection and the probe side, strings " +
        "are themselves), so l_returnflag = 'A' costs from the same " +
        "stored catalog shape as l_suppkey = 1. The text is written " +
        "worst-first (price >= 1000 keeps ~99%, the flag equality " +
        "~25%); the rule flips it so scan survivors die on the " +
        "one-byte string compare, not the price test. " +
        "CatalogRulesSpec pins the reordered Filter and rule-off " +
        "order.",
      Some("""
         |SELECT l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |WHERE l_extendedprice >= 1000.0 AND l_returnflag = 'A'
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConjunctReorderRule}
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir),
          McvPhases.collectedMcvs(spark, dir))
        val child = CatalogRules.sessionWith(spark, Seq(ConjunctReorderRule(est)))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 && col("l_returnflag") === "A")
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q261_conf_stack",
      "The WHOLE decision layer by CONFIG — q253's composition with " +
        "zero code installed: every catalog the rules need is " +
        "published as a conf string by the ANALYZE artifacts' own " +
        "serializers (StatsPhases.confJoinOrder/confBroadcastRows, " +
        "HistPhases.confString, McvPhases.confString, " +
        "MvPhases.mvDefConf — the exact strings a real ANALYZE job " +
        "would push to cluster config), and the four Conf* rules are " +
        "installed in the shape-before-hint order GraftExtensions " +
        "uses. Same text as q253 (filter written unselective-first, " +
        "3-chain joined worst-first): the conjunct rule flips the " +
        "filter, the join-order rule re-associates orders><customer " +
        "first, the broadcast rule hints the cataloged sides, the MV " +
        "rules stand down (measure filter) — all from five conf " +
        "strings. CatalogRulesSpec pins plan-identity with the " +
        "programmatic q253 stack.",
      Some("""
         |SELECT c_mktsegment, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_extendedprice >= 1000.0 AND l_quantity >= 45.0
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans._
        MvPhases.ensureStored(spark, dir)
        MvPhases.ensureStoredSk(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(ConfMvRewriteRule, ConfCatalogJoinOrderRule,
            ConfConjunctReorderRule, ConfCatalogBroadcastRule),
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          ConfMvRewriteRule.DefsConf ->
            s"${MvPhases.mvDefConf(dir)}|${MvPhases.mvDefSkConf(dir)}",
          ConfCatalogJoinOrderRule.StatsConf ->
            StatsPhases.confJoinOrder(spark, dir),
          ConfConjunctReorderRule.HistsConf ->
            HistPhases.confString(spark, dir),
          ConfConjunctReorderRule.McvsConf ->
            McvPhases.confString(spark, dir),
          ConfCatalogBroadcastRule.RowsConf ->
            StatsPhases.confBroadcastRows(spark, dir))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 && col("l_quantity") >= 45.0)
          .join(Tables.orders(child, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(child, dir),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q262_rule_join_order_filtered",
      "FILTER-AWARE join ordering — System-R's other half: the q245 " +
        "rule costs each base at its CATALOG count, so a fact table " +
        "wearing a 3%-pass filter still looks huge and the chain " +
        "re-associates away from it; fed the conjunct rule's " +
        "histogram estimator (CatalogJoinOrderRule's opt-in " +
        "selectivity), each base's count is discounted by its " +
        "costable filters' pass fractions (IsNotNull and uncostable " +
        "conjuncts contribute 1.0 — the safe overestimate; note the " +
        "deliberate semantic split from the conjunct-ORDER estimator, " +
        "where IsNotNull prices at 0 as the cheapest test to " +
        "EVALUATE), and a key's ndv is capped at the surviving rows. " +
        "The decision then tracks the actual numbers — at small " +
        "scales the 3%-filtered fact is smaller than the dim pair and " +
        "keeps the first join; where the filtered fact still exceeds " +
        "the dims, the dims still win. That scale-dependence IS the " +
        "feature — and since r19 standardRules passes its estimator " +
        "through to the join-order rule by default (q253 composes it); " +
        "this query remains the isolated demonstration. " +
        "CatalogRulesSpec pins the blind-vs-aware contrast on one " +
        "text+catalog; the oracle checks semantics either way.",
      Some("""
         |SELECT c_mktsegment, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_quantity >= 49.0
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, CatalogJoinOrderRule, ConjunctReorderRule}
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir),
          McvPhases.collectedMcvs(spark, dir))
        val child = CatalogRules.sessionWith(spark,
          Seq(CatalogJoinOrderRule(StatsPhases.collected(spark, dir), Some(est))),
          NoBroadcast)
        q262Text(child, dir)
      },
      bench = Seq(
        // the same rule fed no selectivity estimator: the filter-blind order
        twin("q262_blindorder", q262Text, (s, d) => Seq(
          graft.plans.CatalogJoinOrderRule(StatsPhases.collected(s, d))))(NoBroadcast),
        Phase.Self)
    ),
    Q(
      "q263_rule_conjunct_inlist",
      "IN-list costing in the conjunct-reorder rule: distinct members " +
        "are disjoint events, so IN costs as the SUM of the members' " +
        "MCV equality fractions (capped at 1), costable only when " +
        "every member is a literal the stat can key. The text is " +
        "written worst-first (price >= 1000 keeps ~99%; " +
        "l_returnflag IN ('A','R') keeps ~half); the rule fronts the " +
        "IN test. Composes with q254/q260's equality costing from the " +
        "same stored MCV catalog — one ANALYZE artifact now prices " +
        "equality, IN, and (via q262) join-input sizes.",
      Some("""
         |SELECT l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |WHERE l_extendedprice >= 1000.0 AND l_returnflag IN ('A', 'R')
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, ConjunctReorderRule}
        val est = ConjunctReorderRule.estimator(
          HistPhases.collectedHists(spark, dir),
          McvPhases.collectedMcvs(spark, dir))
        val child = CatalogRules.sessionWith(spark, Seq(ConjunctReorderRule(est)))
        Tables.lineitem(child, dir)
          .filter(col("l_extendedprice") >= 1000.0 &&
            col("l_returnflag").isin("A", "R"))
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      }
    ),
    Q(
      "q264_eager_aggregation",
      "Eager aggregation (Yan-Larson group-by pushdown, " +
        "graft.plans.EagerAggregationRule) — q252's FK-rollup rewrite " +
        "with NO stored artifact: the text aggregates " +
        "lineitem JOIN supplier by s_name; the rule proves s_suppkey " +
        "unique from the EXACT catalog (the q252 trust boundary " +
        "verbatim), checks the fact shrinks >= 4x at the key grain " +
        "(rows/ndv from the same catalog — a fact already at key " +
        "grain gains nothing), and rewrites to aggregate lineitem to " +
        "l_suppkey grain FIRST, join the ndv-sized partials to the " +
        "live dim, and fold (COUNT as sum-of-counts with the 0-not-" +
        "null empty fold, SUM over INTEGRAL inputs — 64-bit addition " +
        "is associative even under wraparound — MIN/MAX through " +
        "themselves, DECIMAL sums through the loud-guarded narrow, " +
        "q271). SUM over double is REFUSED: regrouping reorders " +
        "float addition, a bit-level divergence no guard can detect " +
        "(spec-pinned). At 100 TB the fact's contribution to the " +
        "join exchange drops from rows to ndv(fk) BEFORE any data " +
        "moves — Spark's own partial aggregation only kicks in ABOVE " +
        "the join. The SUM fold is a NON-ANSI feature by contract " +
        "(the session sets ansi.enabled=false): under ANSI eval " +
        "regrouped partials could throw on an intermediate overflow " +
        "where the direct sum would not, so the fold stands down " +
        "there (spec-pinned) and only COUNT/MIN/MAX fold. " +
        "CatalogRulesSpec pins the pushed-Aggregate plan " +
        "shape, the no-proof and low-reduction bails, and rule-off " +
        "row equality.",
      Some("""
         |SELECT s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        // non-ANSI by contract: the integral-SUM fold's associativity
        // proof is wraparound addition, which ANSI eval voids
        q264Text(CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)), NonAnsi), dir)
      },
      bench = Seq(
        twin("q264_ruleoff_rowgrain", q264Text)(NonAnsi),
        // the shuffle regime (no broadcast, AQE off), eager aggregation's
        // home turf: rowgrain exchanges every fact row, eager ndv(fk) partials
        twin("q264_smj_rowgrain", q264Text)(NoBroadcast, NoAqe, NonAnsi),
        twin("q264_smj_eager", q264Text, eagerRule)(NoBroadcast, NoAqe, NonAnsi),
        Phase.Self)
    ),
    Q(
      "q265_mv_rollup_cube",
      "GROUPING SETS through the MV rewrite — ROLLUP/CUBE navigation: " +
        "Catalyst plans GROUP BY ROLLUP(a, b) as an Aggregate over an " +
        "Expand that emits one copy of every fact row per grouping set " +
        "(classically N scans' worth of work fused into one pass); the " +
        "rewrite substitutes the stored rollup at the scan, so the " +
        "Expand multiplies the rollup's HANDFUL OF CELLS per set " +
        "instead of the fact rows — cell counts re-sum to set totals " +
        "for the same associativity reason partials fold at all, " +
        "grouping attributes and the grouping-id keep their expanded " +
        "exprIds, and the same measure-for-partial call swaps apply " +
        "(COUNT as sum-of-counts, DECIMAL sums exact, MIN/MAX " +
        "through). At 100 TB a 3-level management rollup report drops " +
        "from a fact scan x sets to KBs x sets. The oracle runs the " +
        "identical GROUP BY ROLLUP on the base table in DuckDB; " +
        "MvRewriteSpec pins rollup-only scans, rule-off equality, and " +
        "the non-dim-slot / non-measure bails.",
      Some("""
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_extendedprice) AS max_price
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStored(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDef(child, dir)))))
        Tables.lineitem(child, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              .as("sum_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_extendedprice")).as("max_price"))
      }
    ),
    Q(
      "q266_mv_time_bucket",
      "EXPRESSION dimensions in the MV rewrite — the time-bucketed " +
        "rollup, the most common materialized view in any metrics " +
        "pipeline: the query groups events by an EXPRESSION (the q08 " +
        "hour bucket, floor-div over the loader-normalized int64-ns " +
        "event time — Catalyst pulls it into a computed Project below " +
        "the Aggregate, and the ns normalization itself is another " +
        "computed Project), while the stored rollup carries the bucket " +
        "as a plain column. The rewrite resolves every attribute back " +
        "to leaf columns through the collected alias definitions and " +
        "matches the grouping expression's exprId-free CANONICAL form " +
        "against the declared MvExprDim (derived from a probe plan " +
        "through the same machinery, so def and match cannot drift); " +
        "measures swap as usual on the resolved form, guarded so a " +
        "computed alias shadowing a base column's name can never " +
        "match its measure (the same shadow hole is closed for the " +
        "plain-dims path by requiring the matched leaf to be the raw " +
        "relation — both spec-pinned). At 100 TB every hourly report " +
        "reads bucket-count cells instead of the event stream. Oracle " +
        "recomputes the report from raw events in DuckDB.",
      Some("""
         |SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredTs(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefTs(child, dir)))))
        q266Text(child, dir)
      },
      bench = Seq(
        Phase.build("mvts_build")(MvPhases.buildStoredTs),
        twin("q266_ruleoff_events", q266Text)(),
        Phase.Self)
    ),
    Q(
      "q267_mv_ts_incremental",
      "Incremental maintenance for the time-bucketed rollup — the " +
        "house standard (every stored serving artifact gets a fold) " +
        "applied to q266's artifact the day it was born, not a round " +
        "later: an arrival batch of events reduces to its own " +
        "(hour, type) partials and folds cell-wise into the stored " +
        "rollup (count + DECIMAL sum, both additive), so folded " +
        "EQUALS from-scratch row for row and the q266 rewrite keeps " +
        "serving under ingest at arrival-batch cost — the event " +
        "stream, append-heavy and huge at 100 TB, is never rescanned " +
        "while the cell count stays bounded by hours x types. Shards " +
        "are the q251 device on event_id (even/odd) so both engines " +
        "cut identical batches; StreamingIncrementalSpec drives the " +
        "refreshBatchTs streaming face. Additive cells carry the " +
        "exactly-once replay contract.",
      Some("""
         |SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        val ev = Tables.eventsTsNs(spark, dir)
        MvPhases.foldTs(
          MvPhases.partialsTs(ev.filter(col("event_id") % 2 === 0)),
          ev.filter(col("event_id") % 2 === 1))
          .select(col("hour_idx"), col("event_type"), col("cnt"),
            col("sum_value").cast("double").as("sum_value"))
      }
    ),
    Q(
      "q268_rule_join_order_composite",
      "COMPOSITE join keys in the decision layer — the snapshot-diff " +
        "shape: a delta feed joins its snapshot on a MULTI-PART key " +
        "(here lineitem to itself on the (l_orderkey, l_linenumber) " +
        "PK — the 'AND of equalities' join every CDC/as-of pipeline " +
        "writes), then rides the usual dim chain. The chain flattener " +
        "now treats an AND-of-EqualTos as ONE edge whose cost comes " +
        "from the catalog's COUNTED composite-ndv entry " +
        "(CatalogRules.compositeKey, collected as countDistinct over " +
        "the column tuple — per-column ndvs are never combined: " +
        "independence would overestimate a correlated key's ndv and " +
        "underprice the join). The text is written worst-first (the " +
        "self-join's 60k x 60k/60k edge first); greedy re-associates " +
        "to seed orders><customer (1.5k), exactly the q241 decision " +
        "generalized past single-column keys. At 100 TB a misordered " +
        "chain with a composite edge materializes fact-sized " +
        "intermediates twice; the catalog entry costs pennies at " +
        "ANALYZE time. CatalogRulesSpec pins the reorder, the " +
        "missing-composite-entry bail, and rule-off row equality.",
      Some("""
         |SELECT c_mktsegment, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(b.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM lineitem a
         |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |               AND a.l_linenumber = b.l_linenumber
         |JOIN orders ON a.l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, CatalogJoinOrderRule}
        val st = StatsPhases.collected(spark, dir)
        q268Text(CatalogRules.sessionWith(spark,
          Seq(CatalogJoinOrderRule(st)), NoBroadcast), dir)
      },
      bench = Seq(twin("q268_ruleoff_written", q268Text)(NoBroadcast), Phase.Self)
    ),
    Q(
      "q269_mv_bucket_aligned_filter",
      "Bucket-ALIGNED range predicates served from the time rollup — " +
        "the q266 gap closed: a raw-event-time filter used to bail " +
        "the rewrite outright because a timestamp predicate does not " +
        "in general commute with the hour grain; when the literal IS " +
        "a bucket boundary it commutes EXACTLY (floorDiv is monotone " +
        "with floorDiv(k*w, w) == k, so ts >= k*w <=> hour_idx >= k " +
        "and ts < k*w <=> hour_idx < k), which is the declared " +
        "MvBucket decomposition on the exprDim — promise: hour_idx = " +
        "floorDiv(ts, 3600e9), both canonicals derived from one probe " +
        "so def and match cannot drift. >/<= normalize via +1 on the " +
        "integral source; a MISALIGNED literal selects part of a " +
        "bucket, unprovable from cells, and correctly bails " +
        "(spec-pinned, both directions). This is the dashboard " +
        "time-range query: every 'last N hours' report reads cells, " +
        "never events — at 100 TB of append-heavy stream that IS the " +
        "serving path. Oracle recomputes from raw events in DuckDB.",
      Some("""
         |SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE epoch_us(ts) >= 1705363200000000
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredTs(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefTs(child, dir)))))
        q269Text(child, dir)
      },
      // Timed on the 16x wide events fixture, where the avoided scan is
      // large enough to separate cells from scan: the same text scans
      // the wide table (q269w_scan16) or reads the wide rollup's cells.
      // The build line rebuilds the whole instrument on every run.
      bench = Seq(
        Phase.build("wide_events_build") { (s, d) =>
          WidePhases.build(s, d)
          MvPhases.buildStoredTsWide(s, d)
          WidePhases.freshStats(s, d)
        },
        Phase("q269w_scan16", (s, d) => q269Text(
          graft.plans.CatalogRules.sessionWith(s, Nil), WidePhases.ensureBuilt(s, d))),
        Phase("q269w_cells", (s, d) => {
          import graft.plans.{CatalogRules, MvRewriteRule}
          val wd = WidePhases.ensureBuilt(s, d)
          MvPhases.ensureStoredTsWide(s, d)
          val child = CatalogRules.sessionWith(s, Nil)
          CatalogRules.installRules(child,
            Seq(MvRewriteRule(Seq(MvPhases.mvDefTsWide(child, d)))))
          q269Text(child, wd)
        }),
        Phase.Self)
    ),
    Q(
      "q270_mv_rollup_join",
      "GROUPING SETS through the FK-JOIN MV shape — the q265 Expand " +
        "navigation COMPOSED with the q252 join shape: the text runs " +
        "ROLLUP over lineitem JOIN supplier grouping on a DIM " +
        "attribute (s_name), and the rewrite serves it from the " +
        "stored FK rollup joined to the live dim — the fact scan is " +
        "gone (spec-pinned) while the Expand multiplies (cell, dim) " +
        "rows per grouping set instead of fact rows. Sound because " +
        "the two proofs compose: each cell matches at most ONE " +
        "supplier row (s_suppkey counted unique, Exact provenance + " +
        "recorded path — the q252 trust boundary verbatim), so " +
        "partials pass through the join unchanged, and cell partials " +
        "re-aggregate per set exactly as in the flat Expand shape. " +
        "Dim attributes stay un-denormalized: the subtotal report " +
        "reads cells + the live dim, so supplier edits never " +
        "invalidate the artifact. At 100 TB an N-set management " +
        "report over a joined fact drops from N fact scans' worth of " +
        "Expand work to N copies of ndv(fk) cells. Oracle runs the " +
        "identical GROUP BY ROLLUP in DuckDB.",
      Some("""
         |SELECT s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY ROLLUP (s_name)
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredSk(spark, dir)
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefSk(child, dir)), st)))
        q270Text(child, dir)
      },
      bench = Seq(twin("q270_ruleoff_rowgrain", q270Text)(), Phase.Self)
    ),
    Q(
      "q271_eager_avg",
      "The deterministic-average idiom through EAGER AGGREGATION — " +
        "q256's fold for the no-stored-artifact path: " +
        "sum(cast(x as decimal)) / count(x), the only average the " +
        "repo's cross-engine exactness discipline permits, now " +
        "decomposes to the fk grain with NO Average-specific " +
        "machinery: the two calls swap independently inside the " +
        "division — COUNT(col) as a sum of per-key non-null counts, " +
        "the DECIMAL numerator as a sum of per-key partials narrowed " +
        "back to the input width under a LOUD raise_error guard (an " +
        "fk-grain partial that outgrows DECIMAL(18,4) would otherwise " +
        "be nulled by the non-ANSI cast and silently DROPPED by the " +
        "outer sum's null-ignoring fold — an optimizer may fail a " +
        "query loudly, never change its rows; the same contract as " +
        "the MV layer's narrowExact). Decimal addition is " +
        "associative, so the fold is exact; native double Average " +
        "still refuses (addition order). Same trust boundary and " +
        "evidence gate as q264; CatalogRulesSpec extends the " +
        "random-provenance safety property to this fold. At 100 TB " +
        "every per-entity mean in a report joins ndv(fk) partials " +
        "instead of exchanging the fact at row grain.",
      Some("""
         |SELECT s_name, COUNT(l_quantity) AS cnt_qty,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
         |         / COUNT(l_quantity) AS avg_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)),
          "spark.sql.ansi.enabled" -> "false")
        Tables.lineitem(child, dir)
          .join(Tables.supplier(child, dir),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(col("l_quantity")).as("cnt_qty"),
            (sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              / count(col("l_quantity"))).as("avg_qty"))
      }
    ),
    Q(
      "q272_eager_mixed_grouping",
      "Eager aggregation with grouping keys on BOTH sides — the full " +
        "Yan-Larson shape: the text groups lineitem JOIN supplier by " +
        "(l_returnflag, s_name); dim-side keys pass through the " +
        "rejoin verbatim while fact-side keys join the INNER " +
        "aggregate's grouping, so the fact is exchanged at the " +
        "(l_suppkey x l_returnflag) grain — still never row grain. " +
        "The evidence gate prices exactly that grain: the counted " +
        "COMPOSITE ndv entry for the join key PLUS the fact grouping " +
        "keys (rows/ndv >= 4, per-column ndvs never combined), and " +
        "the uniqueness proof is the q252 trust boundary verbatim. " +
        "At 100 TB this is the report-by-(entity, category) query — " +
        "grouping columns riding the fact do not forfeit the " +
        "exchanged-volume win. CatalogRulesSpec pins the pushed " +
        "inner grouping, the missing-composite-entry stand-down, and " +
        "rule-off row equality.",
      Some("""
         |SELECT l_returnflag, s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        q272Text(CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)), NonAnsi), dir)
      },
      bench = Seq(twin("q272_ruleoff_rowgrain", q272Text)(NonAnsi), Phase.Self)
    ),
    Q(
      "q273_eager_rollup",
      "Eager aggregation under GROUPING SETS — q270's Expand " +
        "navigation with NO stored artifact: the text runs " +
        "ROLLUP(l_returnflag, s_name) over lineitem JOIN supplier; " +
        "the rule pushes the fact partials below the join at the " +
        "(l_suppkey x l_returnflag) grain and the rebuilt Expand " +
        "multiplies (partial, dim) rows per grouping set instead of " +
        "fact rows — its pass-through section swaps from raw " +
        "measures to partial columns, expanded slots keep their " +
        "attr/null mix verbatim (the inner aggregate emits the " +
        "fact-side grouping key under the same exprId). Sound for " +
        "the same two composed reasons as the stored-rollup Expand " +
        "shape: partials re-aggregate per set, and the proven-unique " +
        "dim key (Exact + counted + path) passes them through the " +
        "join unchanged. The evidence gate prices the inner grain's " +
        "counted composite ndv. At 100 TB an N-set report over a " +
        "joined fact drops from N fact scans' worth of Expand work " +
        "to N copies of ndv-sized partials — with zero ingest-side " +
        "artifacts to maintain. Oracle runs the identical ROLLUP in " +
        "DuckDB; CatalogRulesSpec pins the pushed shape and rule-off " +
        "equality.",
      Some("""
         |SELECT l_returnflag, s_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY ROLLUP (l_returnflag, s_name)
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        q273Text(CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)), NonAnsi), dir)
      },
      bench = Seq(twin("q273_ruleoff_rowgrain", q273Text)(NonAnsi), Phase.Self)
    ),
    Q(
      "q274_eager_chain",
      "Eager aggregation over a proven-unique dim CHAIN — the " +
        "snowflake/report shape, the most common real query after " +
        "single-dim: lineitem >< supplier >< nation grouped by " +
        "n_name. decompose now PEELS eligible joins recursively; " +
        "each rejoin step preserves partial multiplicity for exactly " +
        "the single-join reason (a proven-unique dim key matches " +
        "each partial row at most once), so the proof composes " +
        "step-wise — EVERY dim needs its own Exact + counted-tuple + " +
        "recorded-path entry, and one unproven dim stands the whole " +
        "rewrite down (spec-pinned). The nation step keys off " +
        "s_nationkey — an INNER dim's column — which therefore never " +
        "enters the inner grain: the fact exchanges at the l_suppkey " +
        "grain (60k rows -> 100 partials at sf0.01) below BOTH " +
        "joins, the snowflake arm rides the rejoin. At 100 TB every " +
        "multi-dimension report otherwise exchanges the fact at row " +
        "grain through the entire chain; this drops it to ndv(fk) " +
        "before any data moves. CatalogRulesSpec pins the " +
        "below-both-joins shape, the one-unproven-dim stand-down, " +
        "and rule-off row equality.",
      Some("""
         |SELECT n_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        q274Text(CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)), NonAnsi), dir)
      },
      // shuffle regime only: the rowgrain side exchanges the fact once per
      // chain join, the eager side ndv(l_suppkey) partials below the chain
      bench = Seq(
        twin("q274_smj_rowgrain", q274Text)(NoBroadcast, NoAqe, NonAnsi),
        twin("q274_smj_eager", q274Text, eagerRule)(NoBroadcast, NoAqe, NonAnsi),
        Phase.Self)
    ),
    Q(
      "q278_eager_chain_rollup",
      "Eager aggregation: GROUPING SETS over a proven dim CHAIN — " +
        "the q273 Expand navigation and the q274 chain peel are one " +
        "mechanism, so they compose for free: ROLLUP(n_name) over " +
        "lineitem >< supplier >< nation pushes the fact partials " +
        "below BOTH joins (the chain decompose runs under the " +
        "Expand), and the rebuilt Expand multiplies " +
        "(partial, supplier, nation) rows per grouping set instead " +
        "of fact rows. Sound by the composed proofs: partials " +
        "re-aggregate per set, and every chain step's proven-unique " +
        "key passes them through its rejoin unchanged. At 100 TB an " +
        "N-set subtotal report over a snowflake otherwise pays N " +
        "fact scans' worth of Expand work through the whole chain. " +
        "Oracle runs the identical ROLLUP in DuckDB; " +
        "CatalogRulesSpec pins the below-both-joins Expand shape.",
      Some("""
         |SELECT n_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY ROLLUP (n_name)
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)),
          "spark.sql.ansi.enabled" -> "false")
        Tables.lineitem(child, dir)
          .join(Tables.supplier(child, dir),
            col("l_suppkey") === col("s_suppkey"))
          .join(Tables.nation(child, dir),
            col("s_nationkey") === col("n_nationkey"))
          // col(...) not String overloads: Dataset.col's dataset-id
          // metadata trips DetectAmbiguousSelfJoin under the Expand
          .rollup(col("n_name"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("bigint")).as("sum_qty"))
      }
    ),
    Q(
      "q280_mv_chain",
      "Aggregate navigation through a DIM CHAIN — the q252 FK-join " +
        "shape peeled recursively (the MV-layer twin of q274's eager " +
        "chain): the snowflake report lineitem >< supplier >< nation " +
        "grouped by n_name serves from the stored (l_suppkey) rollup " +
        "joined to BOTH live dims — the fact scan is gone " +
        "(spec-pinned). Each step carries its own q252 proof (Exact " +
        "+ counted tuple + recorded path; one unproven dim stands " +
        "the whole chain down), and a snowflake step's key " +
        "(s_nationkey, an inner dim's column) rides that dim's " +
        "rejoin verbatim — it never needs to be a rollup dimension, " +
        "so ONE fk-grain artifact serves every report up the " +
        "dimension hierarchy. At 100 TB this is the geography/org " +
        "drill-up: cells x tiny dims, never the fact, and the dims " +
        "stay live (a nation rename never invalidates the rollup). " +
        "Oracle recomputes the chain from base tables in DuckDB.",
      Some("""
         |SELECT n_name, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredSk(spark, dir)
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefSk(child, dir)), st)))
        Tables.lineitem(child, dir)
          .join(Tables.supplier(child, dir),
            col("l_suppkey") === col("s_suppkey"))
          .join(Tables.nation(child, dir),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              .as("sum_qty"))
      }
    ),
    Q(
      "q279_mv_window_spelling",
      "The WINDOW-START spelling of the hour bucket — " +
        "window(<event time>, '1 hour'), the Structured-Streaming-" +
        "adjacent way users write tumbling reports — served from the " +
        "SAME floorDiv hour rollup (the third spelling after floorDiv " +
        "and date_trunc). Spark's TimeWindow rule expands the call " +
        "into a struct-typed computed grouping plus INJECTED " +
        "isnotnull guards on the event time; the def declares both " +
        "from one probe plan (MvAltDim canonical + guards, " +
        "MvRewriteRule.filterGuardCanonicals): the struct rebuilds " +
        "per cell as (timestamp_micros(hour_idx*3600e6), " +
        "timestamp_micros((hour_idx+1)*3600e6)) — a bijection of the " +
        "stored bucket under the tumbling no-slide geometry — and " +
        "each guard maps to isnotnull(hour_idx), sound because the " +
        "bucket chain is null-intolerant and total over its source " +
        "(the cells' null-bucket cell aggregates exactly the " +
        "null-source rows the guard rejects). Output projects " +
        "unix_micros(window.start) per the no-raw-timestamp " +
        "convention. Oracle recomputes the window start as " +
        "(epoch_us // 3.6e9) * 3.6e9 over non-null events.",
      Some("""
         |SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
         |       event_type, COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE ts IS NOT NULL
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredTs(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefTs(child, dir)))))
        Tables.eventsTsNs(child, dir)
          .groupBy(
            window(timestamp_micros(expr("ts div 1000")), "1 hour"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .select(unix_micros(col("window.start")).as("hour_us"),
            col("event_type"), col("cnt"), col("sum_value"))
      }
    ),
    Q(
      "q275_mv_computed_join",
      "EXPRESSION dims through the FK-JOIN MV shape — the q266 " +
        "defs-walk COMPOSED with the q252/q270 join decomposition, " +
        "the round-19 handoff's #2: the hourly-report-by-ENTITY " +
        "query (a top-3 warehouse shape) groups events >< customer " +
        "by (hour bucket, c_mktsegment), and the rewrite serves it " +
        "from the stored (hour_idx, user_id) rollup JOINED to the " +
        "live customer dim — the event scan is gone (spec-pinned). " +
        "The base side of the join gets its own defs walk (the " +
        "loader's ts normalization lives BELOW the join), the join " +
        "key must resolve to a verbatim leaf column the rollup " +
        "carries as a plain dim, and the uniqueness proof is the " +
        "q252 trust boundary verbatim (c_custkey counted unique, " +
        "Exact + recorded path). Customer attributes stay " +
        "un-denormalized: segment edits never invalidate the " +
        "artifact. At 100 TB every per-entity hourly report reads " +
        "ndv(user x hour) cells instead of the append-heavy event " +
        "stream. Oracle recomputes from raw events in DuckDB.",
      Some("""
         |SELECT epoch_us(ts) // 3600000000 AS hour_idx, c_mktsegment,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredTsU(spark, dir)
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefTsU(child, dir)), st)))
        Tables.eventsTsNs(child, dir)
          .join(Tables.customer(child, dir),
            col("user_id") === col("c_custkey"))
          .groupBy(
            expr(graft.operators.Resample.floorDivSql("ts", MvPhases.HourNs))
              .as("hour_idx"),
            col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
      }
    ),
    Q(
      "q276_mv_date_trunc",
      "BUCKET SPELLINGS beyond floorDiv — the q266 hourly report " +
        "written the way users actually write it: GROUP BY " +
        "date_trunc('hour', <timestamp>), served from the SAME " +
        "floorDiv hour rollup. The def declares the alternate " +
        "spelling (MvAltDim): its canonical derives from a probe " +
        "built with the date_trunc text (the no-drift device), and " +
        "its value REBUILDS per cell as timestamp_micros(hour_idx * " +
        "3600e6) — a bijection of the stored bucket, exact on the " +
        "loader contract (µs-aligned int64 ns, UTC-pinned sessions, " +
        "so hour truncation == epoch-hour floor even pre-1970). A " +
        "DIFFERENT width (date_trunc('minute')) canonicalizes " +
        "differently, matches nothing, and correctly keeps the " +
        "event scan (spec-pinned). Output projects unix_micros at " +
        "the edge per the no-raw-timestamp driver convention. At " +
        "100 TB this widens the serving match to every spelling of " +
        "the dashboard hour — floorDiv, date_trunc — without a " +
        "second artifact. Oracle recomputes from raw events.",
      Some("""
         |SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, MvRewriteRule}
        MvPhases.ensureStoredTs(spark, dir)
        val child = CatalogRules.sessionWith(spark, Nil)
        CatalogRules.installRules(child,
          Seq(MvRewriteRule(Seq(MvPhases.mvDefTs(child, dir)))))
        Tables.eventsTsNs(child, dir)
          .groupBy(
            date_trunc("hour", timestamp_micros(expr("ts div 1000")))
              .as("hour_start"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .select(unix_micros(col("hour_start")).as("hour_us"),
            col("event_type"), col("cnt"), col("sum_value"))
      }
    ),
    Q(
      "q277_eager_computed_key",
      "COMPUTED grouping keys in eager aggregation — GROUP BY " +
        "floorDiv(ts, week) over events >< customer, the natural " +
        "composition of the q269 bucket machinery with the q272 " +
        "mixed-grouping shape: Catalyst pulls the bucket expression " +
        "into a Project below the Aggregate; the rule resolves it " +
        "through the collected alias defs (the q266 device), proves " +
        "it deterministic and fact-only, and pushes the EXPRESSION " +
        "into the inner aggregate's grouping, re-emitted under the " +
        "original exprId so the outer plan needs no surgery. The " +
        "evidence gate prices the computed grain through a counted " +
        "ndv entry keyed by CatalogRules.exprKey over the " +
        "leaf-resolved canonical — StatsPhases derives the SAME " +
        "canonical from a probe plan (groupingCanonicals, the " +
        "no-drift device), so ANALYZE entry and rewrite-time lookup " +
        "cannot diverge; no entry, no rewrite (spec-pinned). The " +
        "fact exchanges at the (user_id x week) grain — 13x fewer " +
        "rows than row grain at every fixture SF — and c_mktsegment " +
        "rides the rejoin verbatim. At 100 TB this is the " +
        "cohort-report-by-period query: the bucketed report joins " +
        "ndv-sized partials instead of exchanging the event stream " +
        "at row grain.",
      Some("""
         |SELECT epoch_us(ts) // 604800000000 AS week_idx, c_mktsegment,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2
         |""".stripMargin.trim),
      (spark, dir) => {
        import graft.plans.{CatalogRules, EagerAggregationRule}
        val st = StatsPhases.collected(spark, dir)
        val child = CatalogRules.sessionWith(spark,
          Seq(EagerAggregationRule(st)),
          "spark.sql.ansi.enabled" -> "false")
        Tables.eventsTsNs(child, dir)
          .join(Tables.customer(child, dir),
            col("user_id") === col("c_custkey"))
          .groupBy(
            expr(graft.operators.Resample.floorDivSql("ts", MvPhases.WeekNs))
              .as("week_idx"),
            col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
      }
    )
  )
}

/** The stored per-(table, key) stats catalog behind q239 — the ANALYZE
  * artifact a planner reads instead of scanning: six rows of
  * (tbl, key, n, ndv) over the q231 join keys, persisted once per input
  * dir. q230/q234 are the collection/maintenance faces; this is the
  * serving face.
  */
object StatsPhases {
  import org.apache.spark.sql.SparkSession

  def statsTable(dir: String): String = s"graft_statcat_${Q.scratchTag(dir)}"

  /** Keys q241's join-order costing needs beyond the q231 joins, plus
    * supplier for q244's broadcast decision (the rule needs the dim's
    * row count in the catalog to call it small), plus the fact's
    * supplier FK for q264's eager-aggregation reduction gate, plus the
    * COMPOSITE lineitem PK (CatalogRules.compositeKey form — counted
    * as distinct non-null tuples) for q268's multi-column join edges
    * and the composite uniqueness proofs. */
  private val extraPairs =
    Seq(("orders", "o_custkey"), ("customer", "c_custkey"),
      ("supplier", "s_suppkey"), ("lineitem", "l_suppkey"),
      ("lineitem", graft.plans.CatalogRules.compositeKey(
        Seq("l_orderkey", "l_linenumber"))),
      // the (fk x fact-group) grain q272's mixed-grouping eager
      // aggregation gates on
      ("lineitem", graft.plans.CatalogRules.compositeKey(
        Seq("l_suppkey", "l_returnflag"))))

  /** The canonical of the q277 week-bucket grouping expression,
    * derived by resolving a probe plan built with the SAME query text
    * through the SAME machinery the eager-aggregation rewrite names
    * computed grains with (MvRewriteRule.groupingCanonicals -> leaf
    * canonical -> CatalogRules.exprKey) — the ANALYZE entry and the
    * rewrite-time lookup cannot drift. */
  private val weekCanonCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def weekBucketCanonical(spark: SparkSession, dir: String): String =
    weekCanonCache.computeIfAbsent(dir, { _ =>
      val probe = Tables.eventsTsNs(spark, dir)
        .groupBy(expr(graft.operators.Resample.floorDivSql(
          "ts", MvPhases.WeekNs)).as("wk"))
        .agg(count(lit(1)).as("c"))
      graft.plans.MvRewriteRule.groupingCanonicals(
        probe.queryExecution.optimizedPlan).values.toSeq match {
        case Seq(one) => one
        case other => sys.error(
          "week-bucket probe lost its computed grouping dimension — the " +
            s"expression-dim seam changed shape (got $other)")
      }
    })

  /** Catalog key of the (user_id x week bucket) COMPUTED grain the
    * q277 eager aggregation gates on. Public so specs can build
    * negative catalogs (entry removed -> stand-down). */
  def weekGrainKey(spark: SparkSession, dir: String): String =
    graft.plans.CatalogRules.compositeKey(Seq("user_id",
      graft.plans.CatalogRules.exprKey(weekBucketCanonical(spark, dir))))

  def buildStored(spark: SparkSession, dir: String): Unit = {
    val pairs = (RelationalQueries.JoinCardSpecs
      .flatMap { case (_, l, lk, r, rk) => Seq((l, lk), (r, rk)) }
      ++ extraPairs).distinct
    // The computed (user_id x week) grain entry (q277): counted over
    // the loader-normalized frame — the canonical names an expression
    // over the CONTRACT ts (int64 ns), not the raw physical column.
    val weekEntry = Tables.eventsTsNs(spark, dir).agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id"),
          expr(graft.operators.Resample.floorDivSql(
            "ts", MvPhases.WeekNs))).as("ndv"))
      .select(lit("events").as("tbl"),
        lit(weekGrainKey(spark, dir)).as("key"), col("n"), col("ndv"))
    val cat = (pairs.map { case (t, k) =>
      // a composite key's entry counts distinct fully-non-null TUPLES
      val parts = k.split("\\+")
      Tables(spark, dir, t).agg(
          count(lit(1)).as("n"),
          countDistinct(col(parts.head),
            parts.tail.toSeq.map(col): _*).as("ndv"))
        .select(lit(t).as("tbl"), lit(k).as("key"), col("n"), col("ndv"))
    } :+ weekEntry).reduce(_ unionByName _)
    Products.store(cat, statsTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, statsTable(dir))(buildStored(spark, dir))
  }

  /** The catalog COLLECTED for a planner rule (q244/q245): one driver
    * read of the stored table into the KB-scale map the optimizer
    * consults per Join node — the q239 "cost every query from KBs"
    * seam, now feeding Catalyst itself instead of a costing query.
    * Tagged EXACT — this collector counts (countDistinct), never
    * estimates — which is what entitles MvRewriteRule's uniqueness
    * proof to trust it; each entry also records the table's root path
    * so the proof refuses a same-named table from another directory.
    * Cached per dir after the first read (the production shape — a
    * planner holds its catalog in memory, it does not re-read the
    * ANALYZE table per query): rule-using bench/verify lines pay the
    * read once per JVM, so a rule-on/rule-off pair's difference is the
    * PLAN, not a repeated KB-scale table read.
    */
  private val collectedCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.plans.CatalogRules.CatalogStats]()

  def collected(spark: SparkSession, dir: String): graft.plans.CatalogRules.CatalogStats =
    collectedCache.computeIfAbsent(dir, { _ =>
      ensureStored(spark, dir)
      val rows = spark.table(statsTable(dir)).collect()
      graft.plans.CatalogRules.CatalogStats(
        rows.groupBy(_.getString(0)).map { case (t, rs) =>
          t -> graft.plans.CatalogRules.TableStat(
            rs.head.getLong(2),
            rs.map(r => r.getString(1) -> r.getLong(3)).toMap,
            provenance = graft.plans.CatalogRules.StatProvenance.Exact,
            path = Some(graft.plans.CatalogRules.normalizePath(
              graft.Tables.path(dir, t))))
        })
    })

  /** The stored catalog rendered in ConfCatalogJoinOrderRule's conf
    * grammar — what the ANALYZE job PUBLISHES so sessions enable the
    * join-order rule by config (q261). Deterministic ordering so the
    * string is stable run to run. */
  def confJoinOrder(spark: SparkSession, dir: String): String =
    collected(spark, dir).tables.toSeq.sortBy(_._1).map { case (t, ts) =>
      val ndv = ts.ndv.toSeq.sortBy(_._1)
        .map { case (c, d) => s"$c=$d" }.mkString(",")
      s"$t:${ts.rows}:$ndv"
    }.mkString(";")

  /** Row counts in ConfCatalogBroadcastRule's grammar. */
  def confBroadcastRows(spark: SparkSession, dir: String): String =
    collected(spark, dir).tables.toSeq.sortBy(_._1)
      .map { case (t, ts) => s"$t:${ts.rows}" }.mkString(",")

  /** The stored catalog rendered in ConfMvRewriteRule's EXACT grammar —
    * what the ANALYZE job publishes to `spark.graft.mv.exactstats` so
    * conf-deployed sessions can fire uniqueness PROOFS, not just
    * ordering decisions. Carries each table's `path=` field (this
    * collector counts, and records which files it counted), which the
    * proofs require: a pathless declaration could vouch for another
    * directory's same-named table. Deterministic ordering so the
    * string is stable run to run; parseExact(confExact(…)) round-trips
    * to `collected(…)` exactly (spec-pinned). */
  def confExact(spark: SparkSession, dir: String): String =
    collected(spark, dir).tables.toSeq.sortBy(_._1).map { case (t, ts) =>
      val ndv = ts.ndv.toSeq.sortBy(_._1)
        .map { case (c, d) => s"$c=$d" }.mkString(",")
      s"$t:${ts.rows}:path=${ts.path.get}:$ndv"
    }.mkString(";")
}

/** The 16x-REPLICATED events fixture — a bench measurement instrument,
  * not a data source (r19 verdict item 5): at sf0.1 the event scan the
  * q269/q277 rewrites avoid is so small their rule-pairs sat at
  * parity, so the wins were plan-shape-proven but unmeasured. Uniform
  * replication preserves every grain cardinality (hour x type cells,
  * user x week tuples — only event_id is shifted per copy), so the
  * serving artifacts stay cell-sized while the avoided scan grows 16x
  * — exactly the append-heavy 100 TB shape, scaled to fit the bench
  * budget. Built once per input dir per session catalog under `target/`
  * (registered there as an external table over the dir), with `ts`
  * stored DIRECTLY in the contract int64-ns form (Tables.eventsTsNs
  * passes it through); correctness of the queries measured over it is
  * carried by the same-text sf0.01 oracle lines, the rule specs, and
  * the same-rows pins — the wide pair measures, it does not verify.
  */
object WidePhases {
  import org.apache.spark.sql.SparkSession

  val Factor = 16

  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.plans.CatalogRules.CatalogStats]()

  /** Absolute by construction: the MvDef basePath / stats path fields
    * are compared against [[graft.plans.CatalogRules.scanPath]]'s
    * absolute URI paths — a relative spelling would never match and
    * silently stand every rewrite down. */
  def wideDir(dir: String): String =
    java.nio.file.Paths.get(s"target/graft_wide_${Q.scratchTag(dir)}")
      .toAbsolutePath.toString

  /** Catalog entry over the wide events dir; loaders read the dir. */
  private[graft] def wideTable(dir: String): String =
    s"graft_wide_${Q.scratchTag(dir)}"

  /** Build (idempotently, once per session catalog) and return the wide
    * dir — laid out like a testdata dir (`<wd>/events.parquet`) so every
    * loader and rule identifies the table exactly as it would the
    * original. */
  def ensureBuilt(spark: SparkSession, dir: String): String = synchronized {
    Products.ensure(spark, wideTable(dir))(build(spark, dir))
    wideDir(dir)
  }

  /** Force (re)write of the wide fixture. */
  def build(spark: SparkSession, dir: String): Unit = synchronized {
    val wd = wideDir(dir)
    val ev = Tables.eventsTsNs(spark, dir)
    val wide = (0 until Factor).map(i =>
        ev.withColumn("event_id",
          col("event_id") + lit(i.toLong * 1000000000L)))
      .reduce(_ unionByName _)
    wide.write.mode("overwrite").parquet(s"$wd/events.parquet")
    Products.register(spark, wideTable(dir), s"$wd/events.parquet")
  }

  /** [[stats]], recomputed rather than served from the cache. */
  def freshStats(spark: SparkSession, dir: String): graft.plans.CatalogRules.CatalogStats = {
    statsCache.remove(dir)
    stats(spark, dir)
  }

  /** The stats catalog a rule over the WIDE fixture plans from: the
    * per-dir collected catalog with the events entry RE-COUNTED over
    * the wide table — rows 16x, the (user_id x week) grain unchanged
    * (so the q277w reduction gate prices ~213x at sf0.1), the grain
    * key derived from a probe over the wide frame (whose `ts` is
    * already leaf-form, hence a DIFFERENT canonical than the
    * normalizing loader's — the no-drift machinery handles both). */
  def stats(spark: SparkSession, dir: String): graft.plans.CatalogRules.CatalogStats =
    statsCache.computeIfAbsent(dir, { _ =>
      val wd = ensureBuilt(spark, dir)
      val row = Tables.eventsTsNs(spark, wd).agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id"),
            expr(graft.operators.Resample.floorDivSql(
              "ts", MvPhases.WeekNs))).as("ndv"))
        .head()
      val base = StatsPhases.collected(spark, dir)
      graft.plans.CatalogRules.CatalogStats(base.tables.updated("events",
        graft.plans.CatalogRules.TableStat(
          row.getLong(0),
          Map(StatsPhases.weekGrainKey(spark, wd) -> row.getLong(1)),
          provenance = graft.plans.CatalogRules.StatProvenance.Exact,
          path = Some(graft.plans.CatalogRules.normalizePath(
            graft.Tables.path(wd, "events"))))))
    })
}

/** The stored HISTOGRAM catalog behind q246's conjunct-reorder rule —
  * the distribution stats' serving seam, same discipline as
  * [[StatsPhases]]: the q232 equi-width histograms the rule costs from
  * are COLLECTED once per input dir (one bounded scan per column at
  * ANALYZE time) and persisted as a (colname, bucket, lo, hi, n_rows,
  * mn, mx) table; every planning consumer reads the stored rows (KBs)
  * instead of re-scanning data. Bench pays the build on its own
  * `histcat_build` line so the per-query number is what a repeat
  * planning decision actually costs.
  */
object HistPhases {
  import org.apache.spark.sql.SparkSession

  /** Columns the conjunct-reorder rule can cost (q246's predicates). */
  private val HistColumns = Seq("l_quantity", "l_extendedprice")

  def histTable(dir: String): String = s"graft_histcat_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Checkpoints
    val li = Tables.lineitem(spark, dir)
    val buckets = RelationalQueries.HistBuckets
    // r22 (guide §1.2): the per-column build paid THREE scan subtrees
    // per column — the bounds pass inside equiWidthHistogram, the
    // counted pass, and a second bounds derivation for the (mn, mx)
    // columns — six lazy scans of the fact table for two columns.
    // Fused: ONE bounds aggregate for every column (pinned; this is a
    // phase build, so the checkpoint has a principled release right
    // after the write) and ONE counted pass over the long-form
    // (colname, value-as-double) explode. The bucket/lo/hi arithmetic
    // is the identical IEEE expression chain per column, so the stored
    // rows are value-for-value the per-column build's.
    val bAggs = HistColumns.flatMap { c =>
      Seq(min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c"))
    }
    val bounds = li.agg(bAggs.head, bAggs.tail: _*).localCheckpoint()
    try {
      val bRows = HistColumns.map(c => struct(lit(c).as("colname"),
        col(s"__mn_$c").as("__mn"), col(s"__mx_$c").as("__mx")))
      val boundsLong =
        bounds.select(explode(array(bRows: _*)).as("b")).select("b.*")
      val vRows = HistColumns.map(c => struct(
        lit(c).as("colname"), col(c).cast("double").as("__v")))
      val longForm = li.select(explode(array(vRows: _*)).as("p")).select("p.*")
        .filter(col("__v").isNotNull)
      val mn = col("__mn"); val mx = col("__mx")
      val bucket = when(mx === mn, lit(0L)).otherwise(
        least(lit(buckets - 1L), floor((col("__v") - mn) * buckets / (mx - mn))))
      val cat = longForm.join(broadcast(boundsLong), Seq("colname"))
        .groupBy(col("colname"), bucket.as("bucket"), mn, mx)
        .agg(count(lit(1)).as("n_rows"))
        .select(col("colname"), col("bucket"),
          (mn + col("bucket") * (mx - mn) / buckets).as("lo"),
          (mn + (col("bucket") + 1) * (mx - mn) / buckets).as("hi"),
          col("n_rows"), mn.as("mn"), mx.as("mx"))
      Products.store(cat, histTable(dir))
    } finally Checkpoints.release(bounds)
  }

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, histTable(dir))(buildStored(spark, dir))
  }

  /** The stored histograms collected into the rule's estimator form:
    * per column, [mn, mx] plus dense per-bucket counts (absent cells
    * are zero rows — the groupBy never emits them). */
  def collectedHists(
      spark: SparkSession,
      dir: String): Map[String, graft.plans.ConjunctReorderRule.ColumnHist] = {
    ensureStored(spark, dir)
    val rows = spark.table(histTable(dir)).collect()
    rows.groupBy(_.getString(0)).map { case (c, rs) =>
      val counts = Array.fill(RelationalQueries.HistBuckets)(0L)
      rs.foreach(r => counts(r.getLong(1).toInt) = r.getLong(4))
      c -> graft.plans.ConjunctReorderRule.ColumnHist(
        rs.head.getDouble(5), rs.head.getDouble(6), counts.toVector)
    }
  }

  /** The stored histograms rendered in ConfConjunctReorderRule's conf
    * grammar — the published form for config-only sessions (q261). */
  def confString(spark: SparkSession, dir: String): String =
    collectedHists(spark, dir).toSeq.sortBy(_._1).map { case (c, h) =>
      s"$c:${h.mn}:${h.mx}:${h.counts.mkString("|")}"
    }.mkString(";")
}

/** The stored MCV catalog behind q254's equality costing — the q243
  * stat in serving form, same discipline as [[HistPhases]]: per
  * costable column, the top-k values by EXACT count plus the (n, ndv)
  * scalars the Postgres-style tail split needs, collected once per
  * input dir (one grouped-count pass into a global top-k at ANALYZE
  * time) and persisted as a (colname, v, cnt, n, ndv) table; planning
  * consumers read the stored k+2 numbers per column (KBs) instead of
  * re-scanning data. Bench pays the build on its own `mcvcat_build`
  * line.
  */
object McvPhases {
  import org.apache.spark.sql.SparkSession

  /** Columns the conjunct-reorder rule can cost equality predicates
    * on (q254's numeric key, q260's string flag), with their MCV list
    * width. */
  private val McvColumns = Seq(("l_suppkey", 8), ("l_returnflag", 4))

  def mcvTable(dir: String): String = s"graft_mcvcat_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Checkpoints, Profile}
    import org.apache.spark.sql.types.StringType
    val li = Tables.lineitem(spark, dir)
    // r22 (guide §1.2): the (n, ndv) scalars ran one count + one
    // distinct-groupBy pass PER COLUMN; one shared aggregate (per-column
    // distinct sub-aggregates under a union — the column-pruned q230
    // shape — crossed with the one row count) computes them all, pinned
    // once for both per-column top-k branches to broadcast from. The
    // top-k passes stay per column: each reads only its own column and
    // its groupBy key type is the column's own (the canonical-string
    // cast happens after counting, exactly as before).
    val ndvs = McvColumns.map { case (c, _) =>
      li.select(col(c)).distinct().agg(count(col(c)).as("ndv"))
        .select(lit(c).as("colname"), col("ndv"))
    }.reduce(_ unionByName _)
    val scalars = ndvs.crossJoin(li.agg(count(lit(1)).as("n")))
      .localCheckpoint()
    try {
      val cat = McvColumns.map { case (c, k) =>
        // Values persist under the estimator's CANONICAL key form
        // (ColumnMcv.key): numerics through double->string — the same
        // rendering a probe literal takes — strings as themselves.
        val vCanon =
          if (li.schema(c).dataType == StringType) col("v").cast("string")
          else col("v").cast("double").cast("string")
        Profile.mcvList(li, c, k)
          .crossJoin(broadcast(
            scalars.filter(col("colname") === c).select("n", "ndv")))
          .select(lit(c).as("colname"), vCanon.as("v"),
            col("cnt"), col("n"), col("ndv"))
      }.reduce(_ unionByName _)
      Products.store(cat, mcvTable(dir))
    } finally Checkpoints.release(scalars)
  }

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, mcvTable(dir))(buildStored(spark, dir))
  }

  /** The stored MCV lists collected into the estimator's serving form. */
  def collectedMcvs(
      spark: SparkSession,
      dir: String): Map[String, graft.plans.ConjunctReorderRule.ColumnMcv] = {
    ensureStored(spark, dir)
    val rows = spark.table(mcvTable(dir)).collect()
    rows.groupBy(_.getString(0)).map { case (c, rs) =>
      c -> graft.plans.ConjunctReorderRule.ColumnMcv(
        rs.head.getLong(3), rs.head.getLong(4),
        rs.map(r => graft.plans.ConjunctReorderRule.ColumnMcv.key(
          r.getString(1)) -> r.getLong(2)).toMap)
    }
  }

  /** The stored MCV lists rendered in ConfConjunctReorderRule's conf
    * grammar — the published form for config-only sessions (q261). */
  def confString(spark: SparkSession, dir: String): String =
    collectedMcvs(spark, dir).toSeq.sortBy(_._1).map { case (c, m) =>
      val pairs = m.top.toSeq.sortBy(_._1)
        .map { case (v, cnt) => s"$v=$cnt" }.mkString(",")
      s"$c:${m.n}:${m.ndv}:$pairs"
    }.mkString(";")
}

/** The stored ROLLUP behind q249/q250's materialized-view rewrite — the
  * data-level serving artifact beside [[StatsPhases]]' plan-level one:
  * lineitem pre-aggregated by (l_returnflag, l_linestatus) with
  * foldable partials (count, DECIMAL partial sums cast back to the
  * accumulation width so a re-sum reproduces the query's exact type,
  * min/max). Built once per input dir at ingest (bench: `mv_build`);
  * the MvRewriteRule answers subsumed aggregates from
  * its handful of rows instead of the fact scan.
  */
object MvPhases {
  import org.apache.spark.sql.SparkSession

  def mvTable(dir: String): String = s"graft_mv_li_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit =
    Products.store(partials(Tables.lineitem(spark, dir)), mvTable(dir))

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, mvTable(dir))(buildStored(spark, dir))
  }

  /** SUM `in` per group and narrow the exact DECIMAL total back to the
    * stored partial width — LOUDLY, on BOTH silent-null paths. Under
    * non-ANSI eval (a) a decimal cast that overflows returns null, so
    * a group whose partial outgrew DECIMAL(18,4) would silently store
    * null where the base query (accumulating at DECIMAL(28,4)) is
    * correct; and (b) the Sum's own DECIMAL(28,4) ACCUMULATOR can
    * overflow to null before the cast ever runs — indistinguishable,
    * by the total alone, from a legitimately-null all-null-input
    * group. Taking the un-summed input lets the guard count it:
    * a null total over a positive non-null count IS accumulator
    * overflow, and raises. A wrong stored artifact must fail its
    * build, not its readers. (raise_error is NullType, so the branches
    * coerce to the narrowed decimal type.) */
  private def narrowExact(in: org.apache.spark.sql.Column, name: String)
      : org.apache.spark.sql.Column = {
    val total = sum(in)
    val narrowed = total.cast("decimal(18,4)")
    when(total.isNull && count(in) > 0,
      raise_error(concat(
        lit(s"rollup partial '$name' overflowed its DECIMAL(28,4) " +
          "accumulator over "),
        count(in).cast("string"), lit(" non-null inputs"))))
      .when(total.isNotNull && narrowed.isNull,
        raise_error(concat(
          lit(s"rollup partial '$name' overflows DECIMAL(18,4): "),
          total.cast("string"))))
      .otherwise(narrowed).as(name)
  }

  /** One table's rows reduced to the rollup's partials — shared by the
    * full build and the incremental fold so the two cannot drift.
    * `cnt_qty`/`cnt_price` are per-column NON-NULL counts (appended
    * last so consumers of the original column positions are
    * undisturbed): the COUNT(col) partial, and the denominator that
    * lets the engine's deterministic-average idiom
    * sum(cast(x as decimal))/count(x) fold from the same artifact
    * (q256). */
  def partials(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        narrowExact(col("l_quantity").cast("decimal(18,4)"), "sum_qty"),
        narrowExact(
          col("l_extendedprice").cast("decimal(18,4)"), "sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        count(col("l_quantity")).as("cnt_qty"),
        count(col("l_extendedprice")).as("cnt_price"))

  /** Fold an arrival batch's partials into an existing rollup — the
    * incremental-maintenance face (q251): COUNT and the DECIMAL SUMs
    * are additive, MIN/MAX are their own monoids, so folding per-batch
    * partials cell-wise EQUALS rebuilding from scratch row for row —
    * the rollup stays serveable under ingest at batch-sized cost, the
    * fact table never rescanned. The exactly-once contract is the
    * additive sides' (same as Profile.refreshBatch's count half): a
    * replayed batch would double-count cnt/sums, which min/max would
    * shrug off.
    */
  def fold(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.unionByName(partials(batch))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("cnt")).as("cnt"),
        narrowExact(col("sum_qty"), "sum_qty"),
        narrowExact(col("sum_price"), "sum_price"),
        min(col("min_qty")).as("min_qty"),
        max(col("max_price")).as("max_price"),
        sum(col("cnt_qty")).as("cnt_qty"),
        sum(col("cnt_price")).as("cnt_price"))

  /** The STREAMING face of [[fold]] — drive from
    * `writeStream.foreachBatch`: one micro-batch's rows fold into the
    * SERVED rollup table (read-merge-overwrite, rollup-sized work per
    * batch; the localCheckpoint pins the merged cells BEFORE the
    * overwrite drops the table they were read from — the
    * Profile.refreshBatch discipline). Replay contract as on [[fold]]:
    * additive cells (cnt/sums) carry the engine's exactly-once
    * batch-id contract, min/max shrug replay off
    * (StreamingIncrementalSpec pins both).
    */
  def refreshBatch(batch: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (spark.catalog.tableExists(table)) fold(spark.table(table), batch)
      else partials(batch)
    val pinned = merged.localCheckpoint()
    try pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    finally pinned.unpersist()
  }

  /** The FK rollup behind q252's JOIN-shaped rewrite: lineitem
    * pre-aggregated by its supplier foreign key. Dimension-table
    * attributes (names, balances) deliberately NOT denormalized in —
    * the rewrite joins the rollup to the live dim table, so dim edits
    * never invalidate the artifact. */
  def skTable(dir: String): String = s"graft_mv_lisk_${Q.scratchTag(dir)}"

  /** One table's rows reduced to the FK rollup's partials — shared by
    * the full build and the incremental fold so the two cannot drift
    * (the q251/q255 discipline, at the FK grain). */
  def partialsSk(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.groupBy("l_suppkey")
      .agg(
        count(lit(1)).as("cnt"),
        narrowExact(col("l_quantity").cast("decimal(18,4)"), "sum_qty"))

  /** Fold an arrival batch into the FK rollup — count and the DECIMAL
    * sum are the same monoids as [[fold]]'s, so folded EQUALS
    * from-scratch row for row (q255's oracle); the fact table is never
    * rescanned. Replay contract identical to [[fold]]: both cells are
    * additive, so a replayed batch double-counts — the exactly-once
    * ingest contract rides the batch id, not the fold. */
  def foldSk(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.unionByName(partialsSk(batch))
      .groupBy("l_suppkey")
      .agg(
        sum(col("cnt")).as("cnt"),
        narrowExact(col("sum_qty"), "sum_qty"))

  /** The STREAMING face of [[foldSk]] — same read-merge-overwrite
    * discipline as [[refreshBatch]] (localCheckpoint pins the merged
    * cells before the overwrite drops their source table). */
  def refreshBatchSk(batch: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (spark.catalog.tableExists(table)) foldSk(spark.table(table), batch)
      else partialsSk(batch)
    val pinned = merged.localCheckpoint()
    try pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    finally pinned.unpersist()
  }

  /** RETRACT a delete batch from the FK rollup — the other half of
    * CDC-grade maintenance (q257): every measure this rollup stores is
    * additive (count, sum), so deletes fold NEGATIVELY with zero fact
    * rescans — the deleted rows reduce to their own partials, subtract
    * cell-wise, and a cell whose count reaches zero drops (a group
    * with every row deleted must disappear, exactly as a from-scratch
    * rebuild would omit it). A cnt that goes NEGATIVE means the caller
    * retracted rows that were never folded in — a corrupt-feed bug, so
    * it raises rather than serving impossible state. Same
    * exactly-once contract as [[foldSk]], mirrored: a REPLAYED retract
    * over-subtracts. Min/max-bearing rollups cannot take this path —
    * see [[deleteMaintain]] for theirs. */
  def foldRetractSk(
      stored: org.apache.spark.sql.DataFrame,
      deleted: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.unionByName(
        partialsSk(deleted).select(col("l_suppkey"),
          (-col("cnt")).as("cnt"), (-col("sum_qty")).as("sum_qty")))
      .groupBy("l_suppkey")
      .agg(sum(col("cnt")).as("cnt"),
        narrowExact(col("sum_qty"), "sum_qty"))
      .withColumn("cnt",
        when(col("cnt") < 0, raise_error(concat(
          lit("retract underflow for l_suppkey="), col("l_suppkey").cast("string"),
          lit(": deleted rows were never in the rollup"))))
          .otherwise(col("cnt")))
      .filter(col("cnt") > 0)

  /** The STREAMING face of [[foldRetractSk]] — a CDC delete feed kept
    * current through `writeStream.foreachBatch`, same read-merge-
    * overwrite discipline as [[refreshBatchSk]]. An insert feed and a
    * delete feed maintaining one table compose: both fold cell-wise
    * into the same additive state. */
  def refreshRetractSk(deleted: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val spark = deleted.sparkSession
    require(spark.catalog.tableExists(table),
      s"refreshRetractSk: no stored rollup '$table' to retract from")
    val merged = foldRetractSk(spark.table(table), deleted)
    val pinned = merged.localCheckpoint()
    try pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    finally pinned.unpersist()
  }

  /** Delete maintenance for a rollup WITH non-retractable measures
    * (q258): min/max cannot subtract, so the touched CELLS — and only
    * those — recompute from the remaining fact rows, while every
    * untouched cell keeps its stored partials verbatim (anti-join on
    * the dim key). At 100 TB the recompute scan carries the touched
    * dim values as a pushed filter, so its cost is the touched cells'
    * row share, not the table — the honest price of keeping min/max
    * in a rollup under deletes (a delete that lowers nothing still
    * forces the cell's rescan; rollups that need cheap deletes store
    * only additive measures, q257's shape). */
  def deleteMaintain(
      stored: org.apache.spark.sql.DataFrame,
      deleted: org.apache.spark.sql.DataFrame,
      remaining: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keys = Seq("l_returnflag", "l_linestatus")
    // NULL-SAFE (<=>) joins throughout: groupBy makes a null dim value
    // a group like any other, so a deleted null-keyed row touches a
    // real stored cell — under plain equality that cell would match
    // neither the anti-join (stale cell retained verbatim) nor the
    // recompute semi-join (no replacement row), silently serving
    // pre-delete state. The touched keys ride under renamed columns so
    // the condition stays unambiguous when deleted/remaining derive
    // from one scan (the usual CDC shape).
    val touched = deleted
      .select(keys.map(k => col(k).as(s"__t_$k")): _*).distinct()
    def cond(left: org.apache.spark.sql.DataFrame) =
      keys.map(k => left(k) <=> touched(s"__t_$k")).reduce(_ && _)
    val recomputed = partials(
      remaining.join(broadcast(touched), cond(remaining), "left_semi"))
    stored.join(broadcast(touched), cond(stored), "left_anti")
      .unionByName(recomputed)
  }

  /** The STREAMING face of [[deleteMaintain]] — a CDC delete feed over
    * a min/max-bearing rollup, driven from `writeStream.foreachBatch`:
    * each delete micro-batch recomputes ONLY its touched cells from
    * the live remaining fact (the caller supplies the post-delete
    * view, typically the base table the CDC feed also maintains) and
    * passes untouched cells through verbatim — the q258 contract at
    * streaming cadence, same read-merge-overwrite discipline as every
    * refresh face. */
  def refreshDeleteBatch(
      deleted: org.apache.spark.sql.DataFrame,
      table: String,
      remaining: org.apache.spark.sql.DataFrame): Unit = {
    val spark = deleted.sparkSession
    require(spark.catalog.tableExists(table),
      s"refreshDeleteBatch: no stored rollup '$table' to maintain")
    val merged = deleteMaintain(spark.table(table), deleted, remaining)
    val pinned = merged.localCheckpoint()
    try pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    finally pinned.unpersist()
  }

  def buildStoredSk(spark: SparkSession, dir: String): Unit =
    Products.store(partialsSk(Tables.lineitem(spark, dir)), skTable(dir))

  def ensureStoredSk(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, skTable(dir))(buildStoredSk(spark, dir))
  }

  /** The TIME-BUCKETED rollup behind q266 — expression dimensions: the
    * events stream pre-aggregated by (hour bucket, event_type), where
    * the bucket is an EXPRESSION over the loader-normalized int64-ns
    * event time (the q08 tumbling convention, floorDiv so pre-1970
    * buckets match the oracle's truncating `//`). The metrics-pipeline
    * MV: every hourly report reads cells, never events. */
  val HourNs = 3600000000000L

  /** Week width in the same int64-ns event-time units (7 x 24 x
    * [[HourNs]]) — the q277 computed-grouping bucket: coarse enough
    * that the (user_id x week) grain clears the eager-aggregation
    * reduction gate at every fixture SF (~13x), where hour/day grains
    * sit near row grain. */
  val WeekNs = 604800000000000L

  def tsTable(dir: String): String = s"graft_mv_evh_${Q.scratchTag(dir)}"

  def partialsTs(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.groupBy(
        expr(graft.operators.Resample.floorDivSql("ts", HourNs))
          .as("hour_idx"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        narrowExact(col("value").cast("decimal(18,4)"), "sum_value"))

  def buildStoredTs(spark: SparkSession, dir: String): Unit =
    Products.store(partialsTs(Tables.eventsTsNs(spark, dir)), tsTable(dir))

  def ensureStoredTs(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, tsTable(dir))(buildStoredTs(spark, dir))
  }

  /** The WIDE fixture's hour rollup ([[WidePhases]] — the q269w bench
    * pair's serving artifact): same partials, same def machinery,
    * pointed at the 16x events dir. Cells stay hour x type sized while
    * the scan they replace grows 16x — the measured form of the
    * cells-vs-scan claim. */
  def tsTableWide(dir: String): String = s"graft_mv_evhw_${Q.scratchTag(dir)}"

  def ensureStoredTsWide(spark: SparkSession, dir: String): Unit =
    synchronized {
      Products.ensure(spark, tsTableWide(dir))(buildStoredTsWide(spark, dir))
    }

  /** Force (re)build of the wide time rollup. */
  def buildStoredTsWide(spark: SparkSession, dir: String): Unit = synchronized {
    val wd = WidePhases.ensureBuilt(spark, dir)
    Products.store(partialsTs(Tables.eventsTsNs(spark, wd)), tsTableWide(dir))
  }

  /** [[mvDefTs]] pointed at the wide fixture: base path pins the WIDE
    * events dir (a def over dir A must never answer dir B — including
    * the original-vs-wide pair), and both canonicals derive from
    * probes over the wide frame, whose leaf-form `ts` canonicalizes
    * differently than the normalizing loader's. */
  def mvDefTsWide(session: SparkSession, dir: String): graft.plans.MvDef = {
    val wd = WidePhases.ensureBuilt(session, dir)
    graft.plans.MvDef(
      baseTable = "events",
      dims = Map("event_type" -> "event_type"),
      measures = Seq(
        graft.plans.MvMeasure("count", "", None, "cnt"),
        graft.plans.MvMeasure("sum", "value",
          Some(org.apache.spark.sql.types.DecimalType(18, 4)), "sum_value")),
      mvPlan =
        org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
          session.table(tsTableWide(dir)).queryExecution.analyzed),
      basePath = Some(graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(wd, "events"))),
      exprDims = Seq(graft.plans.MvExprDim(
        tsBucketCanonical(session, wd), "hour_idx",
        bucket = Some(graft.plans.MvBucket(
          tsSrcCanonical(session, wd), HourNs)))))
  }

  /** Fold an arrival batch into the TS rollup (q267) — every stored
    * serving artifact gets a freshness story, the house standard:
    * count and the DECIMAL sum are additive per (hour_idx, event_type)
    * cell, so folded EQUALS from-scratch row for row and the q266
    * rewrite keeps serving under ingest at arrival-batch cost — the
    * event stream is never rescanned, which is the whole point of a
    * metrics rollup (events are append-heavy and huge; cells are
    * bounded by hours x types). Same exactly-once contract as every
    * additive fold: a replayed batch double-counts. */
  def foldTs(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.unionByName(partialsTs(batch))
      .groupBy("hour_idx", "event_type")
      .agg(
        sum(col("cnt")).as("cnt"),
        narrowExact(col("sum_value"), "sum_value"))

  /** The STREAMING face of [[foldTs]] — the foreachBatch read-merge-
    * overwrite discipline shared with [[refreshBatch]]/[[refreshBatchSk]]. */
  def refreshBatchTs(batch: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (spark.catalog.tableExists(table)) foldTs(spark.table(table), batch)
      else partialsTs(batch)
    val pinned = merged.localCheckpoint()
    try pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    finally pinned.unpersist()
  }

  /** Probe-derived canonicals cached per (kind, dir): deriving one
    * costs a full probe-plan optimization (~50-100 ms), and an MvDef
    * is resolved per rule invocation — the same argument that caches
    * StatsPhases.collected (r19): a rule-using bench line should
    * measure the PLAN, not repeated derivation of KB-scale planning
    * inputs. Deterministic per dir (the probe text is fixed), so the
    * cache can never serve a stale canonical. */
  private val canonCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The bucket expression's canonical key, derived by resolving a
    * probe plan built with the SAME query text through the SAME
    * machinery the rewrite matches with (MvRewriteRule.
    * groupingCanonicals) — the def and the match cannot drift. */
  private def tsBucketCanonical(session: SparkSession, dir: String): String =
    canonCache.computeIfAbsent(("bucket", dir), { _ =>
      val probe = Tables.eventsTsNs(session, dir)
        .groupBy(expr(graft.operators.Resample.floorDivSql("ts", HourNs))
          .as("hour_idx"))
        .agg(count(lit(1)).as("c"))
      // The probe groups by exactly ONE computed expression, so the map
      // holds exactly one canonical (its key is Catalyst's generated
      // `_groupingexpression` name, not the user alias — the alias lives
      // in the aggregate list).
      graft.plans.MvRewriteRule.groupingCanonicals(
        probe.queryExecution.optimizedPlan).values.toSeq match {
        case Seq(one) => one
        case other => sys.error(
          "probe plan lost its computed grouping dimension — the " +
            s"expression-dim seam changed shape (got $other)")
      }
    })

  /** The normalized event time's own canonical (the bucket's SOURCE) —
    * derived from a probe grouping on the raw loader column through
    * the same machinery as [[tsBucketCanonical]], so the bucket
    * DECOMPOSITION declared on the def cannot drift from the stored
    * expression: both come from one resolution path. */
  private def tsSrcCanonical(session: SparkSession, dir: String): String =
    canonCache.computeIfAbsent(("src", dir), { _ =>
      val probe = Tables.eventsTsNs(session, dir)
        .groupBy(col("ts")).agg(count(lit(1)).as("c"))
      graft.plans.MvRewriteRule.groupingCanonicals(
        probe.queryExecution.optimizedPlan).values.toSeq match {
        case Seq(one) => one
        case Seq() =>
          // a fixture generation that stores the contract int64-ns form
          // DIRECTLY (e.g. the widened bench fixture): ts IS the leaf
          // column, no normalization alias to collect — its canonical is
          // the bare attribute, same rendering the rewrite's resolver
          // produces for an already-leaf reference
          graft.plans.MvRewriteRule.canonicalKey(
            org.apache.spark.sql.catalyst.expressions.AttributeReference(
              "ts", org.apache.spark.sql.types.LongType)())
        case other => sys.error(
          "probe plan lost its computed ts normalization — the " +
            s"expression-dim seam changed shape (got $other)")
      }
    })

  /** Microseconds per hour bucket — the [[graft.plans.MvAltRebuild
    * .TsFromBucket]] factor for the date_trunc alternate: the hour
    * bucket's start instant is `timestamp_micros(hour_idx * HourUs)`. */
  private val HourUs = HourNs / 1000L

  /** The canonical of the date_trunc('hour', …) SPELLING of the hour
    * bucket (q276) — derived from a probe built with the alternate
    * query text through the same machinery as [[tsBucketCanonical]],
    * so the declared alt and the match cannot drift. The declared
    * bijection (`date_trunc('hour', timestamp_micros(ts div 1000)) ==
    * timestamp_micros(floorDiv(ts, HourNs) * HourUs)`) is exact on the
    * loader contract: normalizeTsNs always emits µs-aligned ns
    * (micros*1000), where `div 1000` equals floor division and the
    * UTC-pinned sessions make hour truncation epoch-aligned. */
  private def tsTruncHourCanonical(session: SparkSession, dir: String): String =
    canonCache.computeIfAbsent(("trunchour", dir), { _ =>
      val probe = Tables.eventsTsNs(session, dir)
        .groupBy(date_trunc("hour",
          timestamp_micros(expr("ts div 1000"))).as("hour_start"))
        .agg(count(lit(1)).as("c"))
      graft.plans.MvRewriteRule.groupingCanonicals(
        probe.queryExecution.optimizedPlan).values.toSeq match {
        case Seq(one) => one
        case other => sys.error(
          "date_trunc probe lost its computed grouping dimension — the " +
            s"expression-dim seam changed shape (got $other)")
      }
    })

  /** The window('1 hour') SPELLING's canonical AND the null-guard
    * canonicals Spark's TimeWindow rule injects below it (q279) — both
    * read off ONE probe plan built with the alternate query text, so
    * the declared alt (canonical + guards) and what the optimizer
    * actually produces cannot drift. The declared bijection:
    * `window(timestamp_micros(ts div 1000), '1 hour')` equals
    * `struct(timestamp_micros(hour_idx * HourUs),
    * timestamp_micros((hour_idx + 1) * HourUs))` on the loader
    * contract (µs-aligned ns, UTC sessions, tumbling geometry with no
    * slide/offset), and the injected isnotnull guards reject exactly
    * the null-source rows the cells' null-bucket cell aggregates. */
  private val winCanonCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[String])]()

  private def tsWindowHour(
      session: SparkSession, dir: String): (String, Seq[String]) =
    winCanonCache.computeIfAbsent(dir, { _ =>
      val probe = Tables.eventsTsNs(session, dir)
        .groupBy(window(timestamp_micros(expr("ts div 1000")), "1 hour"))
        .agg(count(lit(1)).as("c"))
      val plan = probe.queryExecution.optimizedPlan
      val canon = graft.plans.MvRewriteRule.groupingCanonicals(plan)
        .values.toSeq match {
        case Seq(one) => one
        case other => sys.error(
          "window probe lost its computed grouping dimension — the " +
            s"expression-dim seam changed shape (got $other)")
      }
      (canon, graft.plans.MvRewriteRule.filterGuardCanonicals(plan))
    })

  /** [[mvDefTs]] in the conf grammar — the published form: the bucket
    * expression's canonical (and its source's, for the aligned-range
    * serving; the date_trunc alternate's, for the q276 spelling; and
    * the window alternate's with its guard set, for q279) travels
    * base64-encoded (a SQL rendering full of the grammar's
    * separators). */
  def mvDefTsConf(session: SparkSession, dir: String): String = {
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val (winCanon, winGuards) = tsWindowHour(session, dir)
    s"table=${tsTable(dir)};base=events" +
      s";basePath=${graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "events"))}" +
      ";dims=event_type:event_type" +
      s";exprdims=${b64(tsBucketCanonical(session, dir))}:hour_idx:" +
      s"${b64(tsSrcCanonical(session, dir))}:$HourNs" +
      s";exprdimalts=hour_idx:" +
      s"${b64(tsTruncHourCanonical(session, dir))}:tsus:$HourUs" +
      s"~hour_idx:${b64(winCanon)}:winus:$HourUs" +
      winGuards.map(g => s":${b64(g)}").mkString +
      ";measures=count:::cnt~sum:value:decimal(18,4):sum_value"
  }

  def mvDefTs(session: SparkSession, dir: String): graft.plans.MvDef =
    graft.plans.MvDef(
      baseTable = "events",
      dims = Map("event_type" -> "event_type"),
      measures = Seq(
        graft.plans.MvMeasure("count", "", None, "cnt"),
        graft.plans.MvMeasure("sum", "value",
          Some(org.apache.spark.sql.types.DecimalType(18, 4)), "sum_value")),
      mvPlan =
        org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
          session.table(tsTable(dir)).queryExecution.analyzed),
      basePath = Some(graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "events"))),
      exprDims = Seq(graft.plans.MvExprDim(
        tsBucketCanonical(session, dir), "hour_idx",
        bucket = Some(graft.plans.MvBucket(
          tsSrcCanonical(session, dir), HourNs)),
        alts = {
          val (winCanon, winGuards) = tsWindowHour(session, dir)
          Seq(
            graft.plans.MvAltDim(
              tsTruncHourCanonical(session, dir),
              graft.plans.MvAltRebuild.TsFromBucket(HourUs)),
            graft.plans.MvAltDim(
              winCanon,
              graft.plans.MvAltRebuild.WindowFromBucket(HourUs),
              guards = winGuards))
        })))

  /** The (hour x ENTITY) rollup behind q275 — the q266 expression-dim
    * machinery carrying the JOIN KEY as a plain dimension, so the
    * hourly-report-by-entity query (a top-3 warehouse shape) serves
    * from cells joined to the live dim: events pre-aggregated by
    * (hour bucket, user_id). Cells are ndv(user x hour)-sized — larger
    * than the type rollup, still a fraction of the event stream, and
    * the entity attributes stay un-denormalized. */
  def tsuTable(dir: String): String = s"graft_mv_evhu_${Q.scratchTag(dir)}"

  def partialsTsU(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.groupBy(
        expr(graft.operators.Resample.floorDivSql("ts", HourNs))
          .as("hour_idx"),
        col("user_id"))
      .agg(
        count(lit(1)).as("cnt"),
        narrowExact(col("value").cast("decimal(18,4)"), "sum_value"))

  def ensureStoredTsU(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, tsuTable(dir))(
      Products.store(partialsTsU(Tables.eventsTsNs(spark, dir)), tsuTable(dir)))
  }

  /** Fold an arrival batch into the (hour x user) rollup — q275's
    * artifact gets the same freshness story as every stored serving
    * artifact (the foldTs/refreshBatch discipline): count and the
    * DECIMAL sum are additive per (hour_idx, user_id) cell, so folded
    * EQUALS from-scratch row for row and the serving rewrite keeps
    * answering under ingest at arrival-batch cost. Same exactly-once
    * contract as every additive fold: a replayed batch double-counts. */
  def foldTsU(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stored.unionByName(partialsTsU(batch))
      .groupBy("hour_idx", "user_id")
      .agg(
        sum(col("cnt")).as("cnt"),
        narrowExact(col("sum_value"), "sum_value"))

  def mvDefTsU(session: SparkSession, dir: String): graft.plans.MvDef =
    graft.plans.MvDef(
      baseTable = "events",
      dims = Map("user_id" -> "user_id"),
      measures = Seq(
        graft.plans.MvMeasure("count", "", None, "cnt"),
        graft.plans.MvMeasure("sum", "value",
          Some(org.apache.spark.sql.types.DecimalType(18, 4)), "sum_value")),
      mvPlan =
        org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
          session.table(tsuTable(dir)).queryExecution.analyzed),
      basePath = Some(graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "events"))),
      exprDims = Seq(graft.plans.MvExprDim(
        tsBucketCanonical(session, dir), "hour_idx",
        bucket = Some(graft.plans.MvBucket(
          tsSrcCanonical(session, dir), HourNs)))))

  def mvDefSk(session: SparkSession, dir: String): graft.plans.MvDef = {
    import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
    import org.apache.spark.sql.types.DecimalType
    graft.plans.MvDef(
      baseTable = "lineitem",
      dims = Map("l_suppkey" -> "l_suppkey"),
      measures = Seq(
        graft.plans.MvMeasure("count", "", None, "cnt"),
        graft.plans.MvMeasure("sum", "l_quantity",
          Some(DecimalType(18, 4)), "sum_qty")),
      mvPlan = EliminateSubqueryAliases(
        session.table(skTable(dir)).queryExecution.analyzed),
      basePath = Some(graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "lineitem"))))
  }

  /** The returnflag rollup's contract in the ConfMvRewriteRule conf
    * grammar — the published form of [[mvDef]] (same table, dims,
    * measures, base path), for the config-only deployment face
    * (q259). Kept adjacent to mvDef so the two spellings of one
    * contract cannot drift unnoticed. */
  def mvDefConf(dir: String): String =
    s"table=${mvTable(dir)};base=lineitem" +
      s";basePath=${graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "lineitem"))}" +
      ";dims=l_returnflag:l_returnflag,l_linestatus:l_linestatus" +
      ";measures=count:::cnt" +
      "~sum:l_quantity:decimal(18,4):sum_qty" +
      "~sum:l_extendedprice:decimal(18,4):sum_price" +
      "~min:l_quantity::min_qty" +
      "~max:l_extendedprice::max_price" +
      "~count:l_quantity::cnt_qty" +
      "~count:l_extendedprice::cnt_price"

  /** [[mvDefSk]] in the conf grammar, for the FK-join conf face. */
  def mvDefSkConf(dir: String): String =
    s"table=${skTable(dir)};base=lineitem" +
      s";basePath=${graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "lineitem"))}" +
      ";dims=l_suppkey:l_suppkey" +
      ";measures=count:::cnt~sum:l_quantity:decimal(18,4):sum_qty"

  /** The rollup's contract + its read plan resolved in `session` (the
    * session the rewrite will run in). */
  def mvDef(session: SparkSession, dir: String): graft.plans.MvDef = {
    import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
    import org.apache.spark.sql.types.DecimalType
    graft.plans.MvDef(
      baseTable = "lineitem",
      dims = Map(
        "l_returnflag" -> "l_returnflag", "l_linestatus" -> "l_linestatus"),
      measures = Seq(
        graft.plans.MvMeasure("count", "", None, "cnt"),
        graft.plans.MvMeasure("sum", "l_quantity",
          Some(DecimalType(18, 4)), "sum_qty"),
        graft.plans.MvMeasure("sum", "l_extendedprice",
          Some(DecimalType(18, 4)), "sum_price"),
        graft.plans.MvMeasure("min", "l_quantity", None, "min_qty"),
        graft.plans.MvMeasure("max", "l_extendedprice", None, "max_price"),
        graft.plans.MvMeasure("count", "l_quantity", None, "cnt_qty"),
        graft.plans.MvMeasure("count", "l_extendedprice", None, "cnt_price")),
      mvPlan = EliminateSubqueryAliases(
        session.table(mvTable(dir)).queryExecution.analyzed),
      basePath = Some(graft.plans.CatalogRules.normalizePath(
        graft.Tables.path(dir, "lineitem"))))
  }
}

/** q84's oracle: the identical positional-segment blocking + cap +
  * Levenshtein, generated from the same (numSegments, blockCap, maxDist)
  * constants as the Spark plan so the two cannot drift.
  */
private object FuzzyBlockedSql {
  private val M = 9
  private val Cap = 150
  private val MaxDist = 2
  val sql: String = {
    val branches = (0 until M).map { i =>
      s"""SELECT c_custkey, c_name, length(c_name) AS len, $i AS seg_idx,
         |         substr(c_name, ($i * length(c_name)) // $M + 1,
         |                (${i + 1} * length(c_name)) // $M - ($i * length(c_name)) // $M) AS seg
         |  FROM c""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH c AS (
       |  SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300
       |), b AS (
       |  $branches
       |), hot AS (
       |  SELECT seg_idx, seg, len FROM b GROUP BY 1, 2, 3 HAVING COUNT(*) > $Cap
       |), k AS (
       |  SELECT * FROM b ANTI JOIN hot USING (seg_idx, seg, len)
       |), cand AS (
       |  SELECT DISTINCT a.c_custkey AS id_a, b2.c_custkey AS id_b
       |  FROM k a JOIN k b2
       |    ON a.seg_idx = b2.seg_idx AND a.seg = b2.seg AND a.len = b2.len
       |   AND a.c_custkey < b2.c_custkey
       |)
       |SELECT cand.id_a, cand.id_b,
       |       CAST(levenshtein(ca.c_name, cb.c_name) AS INTEGER) AS dist
       |FROM cand JOIN c ca ON ca.c_custkey = cand.id_a
       |          JOIN c cb ON cb.c_custkey = cand.id_b
       |WHERE levenshtein(ca.c_name, cb.c_name) <= $MaxDist""".stripMargin
  }
}

/** Shared SQL for q55 (one source of truth for both engines). */
private object ScalarSubquerySql {
  val sql: String = """
    |SELECT o_orderkey, o_orderpriority, o_totalprice
    |FROM orders o
    |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
    |                      WHERE o2.o_orderpriority = o.o_orderpriority)
    |""".stripMargin.trim
}

/** Shared SQL for q56 (one source of truth for both engines). */
private object RangeFrameSql {
  val sql: String = """
    |SELECT o_custkey, o_orderkey,
    |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
    |         PARTITION BY o_custkey ORDER BY o_orderdate
    |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
    |       ) AS DOUBLE) AS trailing_30d
    |FROM orders
    |""".stripMargin.trim
}

/** Shared SQL for q75 (one source of truth for both engines). */
private object GroupingSetsSql {
  val sql: String = """
    |SELECT coalesce(c_mktsegment, 'ALL') AS seg,
    |       coalesce(n_name, 'ALL') AS nat,
    |       COUNT(*) AS n,
    |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
    |FROM customer JOIN nation ON c_nationkey = n_nationkey
    |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), (c_mktsegment, n_name))
    |""".stripMargin.trim
}

/** Shared SQL for q76 (one source of truth for both engines). */
private object LateralTopNSql {
  val sql: String = """
    |SELECT n_name, t.c_name, t.c_acctbal
    |FROM nation, LATERAL (
    |  SELECT c_name, c_acctbal FROM customer
    |  WHERE c_nationkey = n_nationkey
    |  ORDER BY c_acctbal DESC, c_name
    |  LIMIT 2
    |) t
    |""".stripMargin.trim
}

/** The shared SQL text for q25 (one source of truth for both engines). */
private object SqlInterface {
  val sql: String = """
    |SELECT n_name, COUNT(*) AS n_cust,
    |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
    |FROM customer JOIN nation ON c_nationkey = n_nationkey
    |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    |GROUP BY n_name
    |""".stripMargin.trim
}

/** q64's two phases, exposed separately so the bench can time the
  * amortizable one-shot bucketed WRITE apart from the exchange-free probe
  * join. A single conflated number reads as a slow join when the join is
  * actually sub-second and the cost is the ingest-time bucketing that a
  * production deployment pays once per fact-table refresh, not per query.
  * The registry/oracle entry still runs build + probe (side-effect-free
  * for the caller, identical results to the plain parquet join).
  */
object BucketedJoinPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private def liTable(dir: String) = s"graft_li_bucketed_${Q.scratchTag(dir)}"
  private def ordTable(dir: String) = s"graft_ord_bucketed_${Q.scratchTag(dir)}"

  /** One shuffle per side: write both fact tables bucketed + sorted on
    * the order key. Idempotent (drops and rewrites).
    */
  def build(spark: SparkSession, dir: String): Unit =
    graft.operators.Bucketing.colocate(
      spark,
      Tables.lineitem(spark, dir), "l_orderkey", liTable(dir),
      Tables.orders(spark, dir), "o_orderkey", ordTable(dir),
      buckets = 16)

  /** The exchange-free join + aggregate over the bucketed tables
    * (BucketedJoinSpec proves no Exchange below the join). Requires
    * [[build]] to have run for this `dir`.
    */
  def probe(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.table(liTable(dir))
    val ord = spark.table(ordTable(dir))
    ord.join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(expr(
          "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
          .cast("double").as("revenue"))
  }
}
