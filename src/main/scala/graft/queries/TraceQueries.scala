package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{TraceConfig, TracePipeline}

/** Reference-parity queries (SURVEY.md §2 O1-O16) expressed over the
  * `events` table, whose int64-ns `ts` plays the role of the reference's
  * `start_time` (`/root/reference/main.js:158-162`). `end_time` is
  * synthesized deterministically from `event_id`/`user_id` so durations
  * straddle both reference thresholds (2000 ms keep-filter, 2650 ms long
  * slice — main.js:48-49) including per-operand-truncation corners.
  */
object TraceQueries {

  /** Synthetic end_ns giving duration_ms ≈ event_id % 4000 (+ sub-ms noise
    * from user_id that exercises the per-operand truncation corner).
    */
  private val endNsSql =
    "(start_ns + (event_id * 7 % 4000) * 1000000 + user_id * 333667)"

  /** q114/q115 funnel constants, shared by the Spark plans and the
    * generated oracle SQL (declared before `all` — referenced during the
    * registry Seq's construction).
    */
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelHorizonUs = 7L * 24 * 3600 * 1000000 // 7 days

  /** Shared q114/q115 oracle prefix: sequential conditional-min step
    * times per user (strict order), one-row-per-user dedup, horizon-
    * gated depth (`dd`). Mirrors [[graft.operators.Funnel.userDepth]]
    * step for step.
    */
  private def duckFunnelCte: String = {
    val stepCtes = FunnelSteps.zipWithIndex.map { case (s, i) =>
      val k = i + 1
      val cond =
        if (i == 0) s"event_type = '$s'"
        else s"event_type = '$s' AND us > t${i}_us"
      s"""s$k AS (
         |  SELECT *, min(CASE WHEN $cond THEN us END)
         |         OVER (PARTITION BY user_id) AS t${k}_us
         |  FROM s$i
         |)""".stripMargin
    }
    val tCols = (1 to FunnelSteps.size).map(k => s"t${k}_us").mkString(", ")
    val depthTerms = (1 to FunnelSteps.size).map(k =>
      s"CASE WHEN t${k}_us IS NOT NULL AND t${k}_us - t1_us <= $FunnelHorizonUs THEN 1 ELSE 0 END"
    ).mkString("\n           + ")
    s"""WITH s0 AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |), ${stepCtes.mkString(", ")}, dd AS (
       |  SELECT user_id, $tCols,
       |         CAST($depthTerms AS BIGINT) AS depth
       |  FROM (SELECT DISTINCT user_id, $tCols FROM s${FunnelSteps.size})
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "q01_trace_pipeline",
      "Flagship reference pipeline: scan -> derive duration_ms (per-operand " +
        "div, O4) -> keep-filter >= 2000 (O5) -> reorder duration first (O6) " +
        "-> value-distinct (O7 intent, SURVEY §2.10 B1).",
      Some(s"""
        |WITH t AS (
        |  SELECT epoch_ns(ts) AS start_ns,
        |         epoch_ns(ts) + (event_id * 7 % 4000) * 1000000 + user_id * 333667 AS end_ns,
        |         event_id, event_type
        |  FROM events
        |)
        |SELECT DISTINCT
        |  end_ns // 1000000 - start_ns // 1000000 AS duration_ms,
        |  event_id, event_type
        |FROM t
        |WHERE end_ns // 1000000 - start_ns // 1000000 >= 2000
        |""".stripMargin.trim),
      (spark, dir) => {
        val cfg = TraceConfig(inputGlob = Tables.path(dir, "events"),
          startCol = "start_ns", endCol = "end_ns")
        val base = Tables.eventsTsNs(spark, dir)
          .withColumn("start_ns", Tables.EventTime.nsUsAligned)
          .withColumn("end_ns", expr(endNsSql))
          .select("start_ns", "end_ns", "event_id", "event_type")
        TracePipeline
          .transform(base, cfg)
          .drop("start_ns", "end_ns")
          .dropDuplicates()
      }
    ),
    Q(
      "q02_derive_div",
      "O4 in isolation: ns->ms with BigInt-style per-operand truncation " +
        "(end div 1e6 - start div 1e6), plus the naive variant to pin the " +
        "off-by-one divergence (main.js:158-162).",
      Some("""
        |SELECT event_id,
        |       end_ns // 1000000 - start_ns // 1000000 AS duration_ms,
        |       (end_ns - start_ns) // 1000000 AS duration_ms_naive
        |FROM (
        |  SELECT event_id, epoch_ns(ts) AS start_ns,
        |         epoch_ns(ts) + (event_id * 7 % 4000) * 1000000 + user_id * 333667 AS end_ns
        |  FROM events
        |)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .withColumn("start_ns", Tables.EventTime.nsUsAligned)
          .withColumn("end_ns", expr(endNsSql))
          .selectExpr(
            "event_id",
            "end_ns div 1000000 - start_ns div 1000000 AS duration_ms",
            "(end_ns - start_ns) div 1000000 AS duration_ms_naive")
    ),
    Q(
      "q03_filter_slices",
      "O5 + O13: keep-filter at 2000 ms and the 'long records' slice at " +
        "2650 ms as a label over one pass (main.js:48-49,164-167,244-255).",
      Some("""
        |SELECT event_id, duration_ms,
        |       CASE WHEN duration_ms >= 2650 THEN 'long' ELSE 'normal' END AS slice
        |FROM (
        |  SELECT event_id,
        |         (epoch_ns(ts) + (event_id * 7 % 4000) * 1000000 + user_id * 333667) // 1000000
        |           - epoch_ns(ts) // 1000000 AS duration_ms
        |  FROM events
        |)
        |WHERE duration_ms >= 2000
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .withColumn("start_ns", Tables.EventTime.nsUsAligned)
          .withColumn("end_ns", expr(endNsSql))
          .selectExpr(
            "event_id",
            "end_ns div 1000000 - start_ns div 1000000 AS duration_ms")
          .filter(col("duration_ms") >= 2000)
          .withColumn("slice",
            when(col("duration_ms") >= 2650, lit("long")).otherwise(lit("normal")))
    ),
    Q(
      "q04_union_by_name",
      "O8: schema union with null padding across heterogeneous inputs " +
        "(src/notFoundKeys.js:3-20) — unionByName(allowMissingColumns).",
      Some("""
        |SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment,
        |       'customer' AS src
        |FROM customer
        |UNION ALL BY NAME
        |SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS src
        |FROM supplier
        |""".stripMargin.trim),
      (spark, dir) => {
        val c = Tables.customer(spark, dir).selectExpr(
          "c_name AS name", "c_acctbal AS acctbal",
          "c_mktsegment AS segment", "'customer' AS src")
        val s = Tables.supplier(spark, dir).selectExpr(
          "s_name AS name", "s_acctbal AS acctbal", "'supplier' AS src")
        c.unionByName(s, allowMissingColumns = true)
      }
    ),
    Q(
      "q05_distinct",
      "O7 intent: value-based distinct (the reference's Set-of-references " +
        "is a literal no-op — SURVEY §2.10 B1; we implement the intent).",
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .select("l_returnflag", "l_linestatus")
          .dropDuplicates()
    ),
    Q(
      "q06_cast_typemodel",
      "O16 intent: the two-class sink type model — numberKeys -> INTEGER, " +
        "rest -> TEXT, real NULLs preserved (main.js:287-294,331-341; B4 " +
        "fixed by design).",
      Some("""
        |SELECT CAST(event_id AS VARCHAR) AS event_id_text,
        |       CAST(user_id AS BIGINT) AS user_id_num,
        |       CAST(event_type AS VARCHAR) AS event_type_text,
        |       epoch_ns(ts) AS ts_num
        |FROM events
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir).select(
          col("event_id").cast("string").as("event_id_text"),
          col("user_id").cast("long").as("user_id_num"),
          col("event_type").cast("string").as("event_type_text"),
          Tables.EventTime.nsUsAligned.as("ts_num"))
    ),
    Q(
      "q07_json_extract",
      "JSON-in-string handling (the cache layer's JSON semantics, O9/O10 " +
        "main.js:95-99,117): extract a typed field from the events props.",
      Some("""
        |SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir).selectExpr(
          "event_id",
          "CAST(get_json_object(props, '$.k') AS BIGINT) AS k_val")
    ),
    Q(
      "q08_window_tumbling",
      "Streaming-shaped batch query: 1-hour tumbling-window counts/sums over " +
        "the int64-ns event time (the batch equivalent of the Structured " +
        "Streaming path in graft.streaming).",
      Some("""
        |SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .groupBy(
            // explicit floor so a pre-1970 ns timestamp buckets like the
            // oracle's // (truncating div rounds toward zero) — the q132
            // convention
            expr(graft.operators.Resample.floorDivSql("ts", 3600000000000L))
              .as("hour_idx"),
            col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    ),
    Q(
      "q09_session_window",
      "Sessionization via Spark's native session_window (30-min inactivity " +
        "gap) per user — the same operator runs unchanged under Structured " +
        "Streaming with a watermark (see graft.streaming.EventStream." +
        "sessionized + its streaming==batch spec). Oracle: classic " +
        "gaps-and-islands (lag + running sum) over epoch-us event time.",
      Some("""
        |WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT user_id, us, value,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us, value,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id,
        |       MIN(us) AS session_start_us,
        |       MAX(us) + 1800000000 AS session_end_us,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .withColumn("event_time", Tables.EventTime.eventTime)
          .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(
            col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events"),
            col("sum_value"))
    ),
    Q(
      "q43_window_sliding",
      "Sliding (hopping) windows: 1-hour windows every 30 minutes — each " +
        "event lands in exactly 2 windows (Spark expands via its window " +
        "generator pre-aggregation). Oracle: explicit 2-offset expansion " +
        "from the epoch-aligned window-start arithmetic.",
      Some("""
        |WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |w AS (
        |  SELECT (us // 1800000000) * 1800000000 - off AS window_start_us,
        |         event_type, value
        |  FROM e, (SELECT unnest([0, 1800000000]) AS off) o
        |)
        |SELECT window_start_us, event_type,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .withColumn("event_time", Tables.EventTime.eventTime)
          .groupBy(
            window(col("event_time"), "1 hour", "30 minutes"),
            col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(
            unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"),
            col("cnt"),
            col("sum_value"))
    ),
    Q(
      "q67_csv_roundtrip",
      "The reference's raison d'etre surfaced in the oracle gate: parquet " +
        "-> header CSV -> read back with the source schema (SURVEY.md §2 " +
        "O12). Doubles survive because Spark writes the shortest " +
        "round-trippable decimal rendering; quoting covers embedded " +
        "delimiters. Oracle = the original parquet rows: the round trip " +
        "must be lossless.",
      Some("""
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |""".stripMargin.trim),
      (spark, dir) => {
        val src = Tables.customer(spark, dir)
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-q67-csv-${Q.scratchTag(dir)}"
        src.write.mode("overwrite").option("header", true).csv(out)
        spark.read.schema(src.schema).option("header", true).csv(out)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      }
    ),
    Q(
      "q82_latest_by_key",
      "CDC/upsert compaction: keep only the LATEST event per (user, type) " +
        "key by event time (ties broken on event_id) — the compaction " +
        "pass any append-only ingest (the reference's rerun-and-append " +
        "SQLite sink included) needs before serving. One shuffle on the " +
        "key; Spark turns the rank filter into a per-key top-1 heap " +
        "(WindowGroupLimit), so no partition is ever fully sorted.",
      Some("""
        |SELECT user_id, event_type, event_id, ts_us, value
        |FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |WHERE rn = 1
        |""".stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.eventsTsNs(spark, dir)
          .withColumn("ts_us", Tables.EventTime.us)
          .select("user_id", "event_type", "event_id", "ts_us", "value")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("rn")
      }
    ),
    Q(
      "q72_orc_roundtrip",
      "Format interop: parquet -> ORC -> read back. ORC is the second " +
        "columnar format a complete engine speaks (both ship in Spark); " +
        "doubles/ints/strings survive bit-exactly. Oracle = the original " +
        "parquet rows.",
      Some("""
        |SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part
        |""".stripMargin.trim),
      (spark, dir) => {
        val src = Tables.part(spark, dir)
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-q72-orc-${Q.scratchTag(dir)}"
        src.write.mode("overwrite").orc(out)
        spark.read.schema(src.schema).orc(out)
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      }
    ),
    Q(
      "q73_json_roundtrip",
      "Format interop: parquet -> newline-delimited JSON -> schema-ed read " +
        "back (the reference's own cache format, SURVEY.md §2 O9/O10, done " +
        "the Spark way). Doubles survive because the writer emits the " +
        "shortest round-trippable rendering. Oracle = the original rows.",
      Some("""
        |SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier
        |""".stripMargin.trim),
      (spark, dir) => {
        val src = Tables.supplier(spark, dir)
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-q73-json-${Q.scratchTag(dir)}"
        src.write.mode("overwrite").json(out)
        spark.read.schema(src.schema).json(out)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      }
    ),
    Q(
      "q74_partition_pruning",
      "Hive-style partition pruning: orders written partitioned by " +
        "priority, then aggregated under a partition-key predicate — the " +
        "scan plans with a PartitionFilter and touches ONE directory of " +
        "five (PlanPropertiesSpec pins it). At 100 TB this is the " +
        "difference between reading 20 TB and reading 100 TB; partition " +
        "pruning happens at PLANNING time, before any I/O.",
      Some("""
        |SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-q74-part-${Q.scratchTag(dir)}"
        Tables.orders(spark, dir).write.mode("overwrite")
          .partitionBy("o_orderpriority").parquet(out)
        spark.read.parquet(out)
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
      }
    ),
    Q(
      "q114_funnel_user_depth",
      "Ordered event-funnel per user: first view, first click strictly " +
        "after it, first purchase strictly after that; depth = longest " +
        "prefix completed within a 7-day horizon of the first view. Each " +
        "step time is a conditional MIN window over the SAME user " +
        "partitioning — three sequential Window passes, ONE exchange " +
        "(the q108/q109 shared-partitioning lesson), no self-joins, no " +
        "per-step scans. The sequence-pattern operator the reference's " +
        "row-at-a-time JS loop could only express as client code.",
      Some(
        s"""$duckFunnelCte
           |SELECT user_id, t1_us, t2_us, t3_us, depth FROM dd""".stripMargin),
      (spark, dir) =>
        graft.operators.Funnel.userDepth(
          Tables.eventsTsNs(spark, dir).withColumn("us", Tables.EventTime.us),
          "user_id", "event_type", "us", FunnelSteps, FunnelHorizonUs)
    ),
    Q(
      "q115_funnel_counts",
      "The funnel rollup: users reaching each step within the horizon, " +
        "monotone nonincreasing by construction. The per-user depth " +
        "frame explodes k literal structs per user onto a k-sized key " +
        "space — rollup input is users x steps, never the event stream.",
      Some(
        s"""$duckFunnelCte
           |SELECT CAST(st.i AS BIGINT) AS step_idx, st.s AS step,
           |       CAST(count(*) FILTER (WHERE dd.depth >= st.i) AS BIGINT) AS n_users
           |FROM dd, (VALUES ${FunnelSteps.zipWithIndex
                .map { case (s, i) => s"(${i + 1}, '$s')" }.mkString(", ")}) AS st(i, s)
           |GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        graft.operators.Funnel.counts(
          Tables.eventsTsNs(spark, dir).withColumn("us", Tables.EventTime.us),
          "user_id", "event_type", "us", FunnelSteps, FunnelHorizonUs)
    ),
    Q(
      "q132_retention_cohorts",
      "Cohort retention: users grouped by first-active day, counted " +
        "distinct at each day offset they return — the engagement table " +
        "behind every retention curve. Day buckets use an explicit " +
        "FLOOR division (Resample.floorDivSql) so ns (Spark) and the " +
        "µs-truncated TIMESTAMP (DuckDB `//`) agree for ANY timestamp " +
        "sign — `div` alone truncates toward zero and would diverge " +
        "pre-1970. The cohort table is " +
        "users-sized, so the join back BROADCASTS it (plan-pinned); at " +
        "a user count past broadcast range the same plan degrades to a " +
        "user-keyed co-partitioned join. The distinct + rollup run on " +
        "the users x offsets space, far smaller than the stream.",
      Some("""
        |WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        |), c AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT e.user_id, c.cohort_day, e.day - c.cohort_day AS offset_days
        |  FROM e JOIN c USING (user_id)
        |)
        |SELECT cohort_day, offset_days, CAST(count(*) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) => {
        val e = Tables.eventsTsNs(spark, dir)
          .select(col("user_id"),
            expr(graft.operators.Resample.floorDivSql("ts", 86400000000000L)).as("day"))
        val c = e.groupBy("user_id").agg(min("day").as("cohort_day"))
        e.join(c, Seq("user_id"))
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("offset_days"))
          .distinct()
          .groupBy("cohort_day", "offset_days")
          .agg(count(lit(1)).as("n_users"))
      }
    ),
    Q(
      "q139_value_anomalies",
      "Per-(user, type) z-score anomaly flags over the event value " +
        "stream: group sums accumulate in exact DECIMAL (partitioning- " +
        "independent) and cast to double ONCE, so mean/std/z are " +
        "fixed-shape IEEE ops both engines reproduce bit for bit; " +
        "constant groups score z=0 instead of dividing by zero. One " +
        "map-side-combined group aggregate joined back on the group " +
        "key; the scoring is narrow.",
      Some("""
        |WITH s AS (
        |  SELECT user_id, event_type,
        |         CAST(count(value) AS BIGINT) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
        |         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv2
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT user_id, event_type, sv / n AS mean,
        |         sqrt(greatest(sv2 / n - (sv / n) * (sv / n), 0.0)) AS std
        |  FROM s
        |)
        |SELECT e.event_id, e.user_id, e.event_type, e.value,
        |       CASE WHEN m.std > 0 THEN (e.value - m.mean) / m.std ELSE 0.0 END AS z,
        |       CASE WHEN m.std > 0 THEN abs((e.value - m.mean) / m.std) > 3.0 ELSE FALSE END AS is_anomaly
        |FROM events e JOIN m ON e.user_id = m.user_id AND e.event_type = m.event_type
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.Anomaly.zScores(
          Tables.eventsTsNs(spark, dir)
            .select("event_id", "user_id", "event_type", "value"),
          groupCols = Seq("user_id", "event_type"),
          valueCol = "value",
          keepCols = Seq("event_id"),
          threshold = 3.0)
    ),
    Q(
      "q140_hourly_gapfill",
      "Hour-grid resampling with forward fill: per user, one row per " +
        "hour from first to last activity, carrying the last observed " +
        "value (in-hour 'last' = max of a (µs, id, value) struct — one " +
        "map-side-combined aggregate, never a sort; µs not ns so the " +
        "tiebreak matches engines that truncate nanosecond timestamps) " +
        "and a gap flag. The grid is a bounded narrow sequence explode " +
        "(span/step rows per key); the fill is one per-key window over " +
        "span-sized partitions.",
      Some("""
        |WITH e AS (
        |  SELECT user_id, event_id, value,
        |         epoch_us(ts) AS us, epoch_us(ts) // 3600000000 AS h
        |  FROM events
        |), hourly AS (
        |  SELECT user_id, h, value AS hour_value FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, h ORDER BY us DESC, event_id DESC) AS rn
        |    FROM e
        |  ) WHERE rn = 1
        |), b AS (
        |  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1
        |), grid AS (
        |  SELECT b.user_id, CAST(u.h AS BIGINT) AS h
        |  FROM b, UNNEST(range(b.h0, b.h1 + 1)) AS u(h)
        |), j AS (
        |  SELECT g.user_id, g.h, hourly.hour_value
        |  FROM grid g LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h
        |)
        |SELECT user_id, h,
        |       last_value(hour_value IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
        |       hour_value IS NULL AS is_gap
        |FROM j
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.Resample.hourlyForwardFill(
          Tables.eventsTsNs(spark, dir),
          userCol = "user_id", tsNsCol = "ts",
          idCol = "event_id", valueCol = "value")
    ),
    Q(
      "q161_hll_hourly_users",
      "Approximate distinct users per hour via HLL (p=6) beside the " +
        "exact count — the canonical streaming-analytics sketch applied " +
        "to the event side: per-hour registers are 64 cells whatever " +
        "the event volume, merge across shards/batches by cell-wise " +
        "max (the q160 monoid), and the estimate re-derives from the " +
        "persisted registers without rescanning events. The harmonic " +
        "sum stays in exact fixed point (s_scaled BIGINT), so the " +
        "checked numbers are engine-portable; the exact count beside " +
        "it is the standing error audit. One map-side-combined shuffle " +
        "onto (hours x 64) cells + one tiny distinct-count.",
      Some(s"""
        |WITH e AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
        |         CAST(user_id AS VARCHAR) AS uid
        |  FROM events
        |), hr AS (
        |  SELECT hour_idx,
        |         CAST('0x' || substr(md5(uid), 1, 8) AS BIGINT) & 63 AS bucket,
        |         CAST('0x' || substr(md5(uid), 1, 8) AS BIGINT) >> 6 AS w
        |  FROM e
        |), regs AS (
        |  SELECT hour_idx, bucket,
        |         max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS register
        |  FROM hr GROUP BY 1, 2
        |), est AS (
        |  SELECT hour_idx,
        |         CAST((64 - count(*)) * (CAST(1 AS BIGINT) << 27)
        |           + sum(CAST(1 AS BIGINT) << (27 - register)) AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY 1
        |)
        |SELECT e2.hour_idx, e2.s_scaled,
        |       (${graft.operators.HyperLogLog.alphaLiteral(6)}) * 549755813888.0
        |         / CAST(e2.s_scaled AS DOUBLE) AS hll_raw,
        |       x.n_exact
        |FROM est e2
        |JOIN (SELECT hour_idx, count(DISTINCT uid) AS n_exact
        |      FROM e GROUP BY 1) x USING (hour_idx)
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.HyperLogLog
        val ev = Tables.eventsTsNs(spark, dir).select(
          Tables.EventTime.hourIdx.as("hour_idx"),
          col("user_id").cast("string").as("uid"))
        val est = HyperLogLog.estimateRaw(
          HyperLogLog.registers(ev, "uid", Seq("hour_idx"), p = 6),
          Seq("hour_idx"), p = 6)
        est.join(
          ev.groupBy("hour_idx").agg(countDistinct("uid").as("n_exact")),
          Seq("hour_idx"))
      }
    ),
    Q(
      "q165_ewma_value",
      "Per-user EWMA of the event value — time-decayed trend smoothing " +
        "with dyadic decay (alpha = 1/2), the monitoring primitive " +
        "behind drift/quality dashboards: the k-th most recent event " +
        "weighs 2^(16-k) over the last 16 events, so numerator and " +
        "denominator are EXACT BIGINTs (values fixed-pointed by " +
        "floor(v*100), weights are shifts — the q148 dyadic-alpha " +
        "discipline applied to time decay) and the emitted ewma is one " +
        "IEEE divide, engine-portable. Scale: the rn <= 16 filter is " +
        "declarative, so InferWindowGroupLimit plans per-user top-16 " +
        "HEAPS partial+final (never a retained per-user sort), then one " +
        "16-row-per-user agg — the same shape as q13's rank filter, at " +
        "any event volume.",
      Some("""
        |WITH r AS (
        |  SELECT user_id,
        |         CAST(floor(value * 100) AS BIGINT) AS v,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id,
        |       COUNT(*) AS n_recent,
        |       CAST(SUM(v << (16 - rn)) AS BIGINT) AS ewma_num,
        |       CAST(SUM(CAST(1 AS BIGINT) << (16 - rn)) AS BIGINT) AS ewma_den,
        |       CAST(SUM(v << (16 - rn)) AS DOUBLE)
        |         / CAST(SUM(CAST(1 AS BIGINT) << (16 - rn)) AS DOUBLE) AS ewma_centi
        |FROM r WHERE rn <= 16
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.eventsTsNs(spark, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") * lit(100)).cast("long").as("v"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 16)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_recent"),
            sum(call_function("shiftleft", col("v"),
              (lit(16) - col("rn")).cast("int"))).as("ewma_num"),
            sum(call_function("shiftleft", lit(1L),
              (lit(16) - col("rn")).cast("int"))).as("ewma_den"))
          .withColumn("ewma_centi",
            col("ewma_num").cast("double") / col("ewma_den").cast("double"))
      }
    ),
    Q(
      "q166_zorder_compaction",
      "Incremental z-order compaction — the LAYOUT face of the " +
        "incremental discipline (components: corpus arrivals; IVF " +
        "delta: index arrivals; sketches: statistics arrivals; here the " +
        "FILE LAYOUT absorbs arrivals): the base layout is written once " +
        "into FIXED curve segments (zbucket = z >> 26 — deterministic, " +
        "unlike sampled range boundaries, so bucket identity survives " +
        "across writes), a ~2% arrival batch (event_id % 50 = 1, the " +
        "q154 small-delta geometry — the regime incremental " +
        "maintenance exists for) appends " +
        "bucket-local small files, and compaction rewrites ONLY the " +
        "touched buckets back to one z-sorted file each — cost scales " +
        "with the arrival footprint, never the table (untouched files " +
        "are never rewritten; LayoutSpec pins that by mtime). This " +
        "query audits the compacted layout bucket by bucket (rows, " +
        "curve extent) against the oracle's from-scratch derivation — " +
        "equality holds because deterministic bucketing makes " +
        "append+compact content-identical to a full rebuild.",
      Some(s"""
        |WITH z AS (
        |  SELECT ${graft.functions.ZOrderInterleave.duckSql("user_id", "event_id")} AS z_value
        |  FROM events
        |)
        |SELECT z_value >> 26 AS zbucket,
        |       count(*) AS n_rows,
        |       min(z_value) AS z_min,
        |       max(z_value) AS z_max
        |FROM z GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        ZCompactPhases.ensure(spark, dir)
        spark.read.parquet(ZCompactPhases.layoutDir(dir))
          .groupBy(col("zbucket").cast("long").as("zbucket"))
          .agg(count(lit(1)).as("n_rows"),
            min("z_value").as("z_min"),
            max("z_value").as("z_max"))
      },
      bench = Seq(
        // the static-overwrite base write resets the dir, so the pair re-runs cleanly
        Phase.build("q166_zbase_write")(ZCompactPhases.buildBase),
        Phase.build("q166_zingest")(ZCompactPhases.ingest),
        Phase.Self)
    )
  )
}

/** The compacted z-layout behind q166: base layout over even event_ids,
  * one odd-id arrival append, one touched-bucket compaction — the
  * OPTIMIZE-ZORDER lifecycle exercised once per input dir. The layout
  * lives under java.io.tmpdir keyed by the dir tag (a filesystem
  * artifact — it IS the file layout under audit, read by path); the
  * finished lifecycle registers an external catalog table over it.
  */
object ZCompactPhases {
  import org.apache.spark.sql.SparkSession
  import graft.operators.Layout

  val shiftBits = 26

  def layoutDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_zinc_${Q.scratchTag(dir)}"

  /** Catalog entry over [[layoutDir]], registered once ingest finishes. */
  private[graft] def layoutTable(dir: String): String =
    s"graft_zinc_${Q.scratchTag(dir)}"

  private def events(spark: SparkSession, dir: String) =
    Tables.eventsTsNs(spark, dir).select("user_id", "event_id")

  /** One-shot base layout: the ~98% of events NOT in the arrival slice.
    * STATIC overwrite resets the whole dir, so buildBase + ingest re-run
    * as an idempotent PAIR — what the bench's repeated passes need.
    */
  def buildBase(spark: SparkSession, dir: String): Unit =
    Layout.writeZBase(events(spark, dir).filter(col("event_id") % 50 =!= 1),
      col("user_id"), col("event_id"), layoutDir(dir), shiftBits)

  /** Per-ingest-batch cost: append the ~2% arrival slice (event_id % 50
    * = 1 — the q154 small-delta geometry; a 50% "delta" would measure
    * the incremental path outside its regime, the round-12 q152
    * finding) bucket-local, compact ONLY the touched buckets — the
    * number that must stay arrival-footprint-sized (read it against
    * buildBase).
    */
  def ingest(spark: SparkSession, dir: String): Unit = {
    val out = layoutDir(dir)
    val touched = Layout.appendArrivals(
      events(spark, dir).filter(col("event_id") % 50 === 1),
      col("user_id"), col("event_id"), out, shiftBits)
    Layout.compactTouched(spark, out, touched)
    Products.register(spark, layoutTable(dir), out)
  }

  def build(spark: SparkSession, dir: String): Unit = {
    buildBase(spark, dir)
    ingest(spark, dir)
  }

  def ensure(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, layoutTable(dir))(build(spark, dir))
}
