package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Pipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator family from
  * SURVEY.md §2; `oracleSql` holds the DuckDB-equivalent SQL for the
  * relational ones (extraction-kernel queries are non-SQL-expressible and
  * get rows-only checks). Column names are aliased identically on both
  * sides; every query is deterministically ordered.
  */
object SparkEntry {

  /** Flagship: full extraction pipeline on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.extracted(Pipeline.pages(spark, "/root/testdata/sf0.001"))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    OpsQueries.input(spark, s"$dir/$name.parquet")

  private val bucketedDbs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write-once bucketed copies of orders/lineitem for q_bucketed_join:
    * `bucketBy(8, <orderkey>)` + sortBy, so the join co-locates by storage
    * layout instead of shuffling (the SCALE.md bucketing story through the
    * driver's own oracle gate). Managed tables live under a temp-dir
    * database, deleted at JVM exit like the committed extraction table. */
  private[graft] def bucketedDb(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + "|" + dir
    bucketedDbs.computeIfAbsent(key, _ => {
      val db = "graft_bkt_" + Integer.toHexString(key.hashCode)
      val loc = java.nio.file.Files.createTempDirectory("graft-bucketed-")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try graft.lake.SnapshotLog.deleteRecursively(loc) catch { case _: Throwable => () }))
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      // the two builds are independent jobs — submit them concurrently so
      // the second back-fills executors the first's tail leaves idle
      // (optimization guide §2.6); Spark's scheduler runs both fine, and
      // catalog writes target different tables
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").map {
          case (tbl, key) => pool.submit(new Runnable {
            def run(): Unit =
              t(s, dir, tbl).write.bucketBy(8, key).sortBy(key)
                .mode("overwrite").saveAsTable(s"$db.${tbl}_b")
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      db
    })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction kernel (rows-only checks; not SQL-expressible) --------
    "x_extract" -> ((s: SparkSession, dir: String) => {
      Pipeline.extracted(Pipeline.pages(s, dir))
        .select(col("url"), col("extracted_text"), col("error"),
          size(col("spans")).as("n_spans"))
        .orderBy("url")
    }),
    // x_links / x_scores (and TwoPass's x_*) READ the committed extraction
    // table (write once, derive many) instead of re-running the kernel per
    // query — VERDICT r1 "what's wrong" #5
    "x_links" -> ((s: SparkSession, dir: String) => {
      Pipeline.linksTable(Pipeline.extractedCommitted(s, dir))
        .orderBy("url", "page", "target")
    }),
    "x_scores" -> ((s: SparkSession, dir: String) => {
      Pipeline.extractedCommitted(s, dir)
        .select(col("url"), explode(col("scores")).as("sc"))
        .select(col("url"), col("sc.page").as("page"),
          col("sc.total_score").as("total_score"),
          col("sc.probability").as("probability"),
          col("sc.n_titles").as("n_titles"),
          col("sc.n_subtitles").as("n_subtitles"),
          col("sc.n_content").as("n_content"))
        .orderBy("url", "page")
    }),

    // ---- A1 groupBy aggregation (lineitem) --------------------------------
    "q_agg" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          round(sum(col("l_extendedprice")) * 100).cast("bigint").as("sum_price_cents"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- D2 keep-best-per-group dedup as rank-1 window (orders) -----------
    "q_dedup_keep_best" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("price_cents"))
        .orderBy("o_custkey")
    }),

    // ---- W1 forward-fill (last ignoreNulls window) over events ------------
    "q_forward_fill" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("signup_value",
          when(col("event_type") === "signup", col("value")))
        .withColumn("carried",
          last(col("signup_value"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"),
          round(coalesce(col("carried"), lit(-1.0)) * 100).cast("bigint").as("carried_cents"))
        .orderBy("event_id")
    }),

    // ---- D4 anti-join (orders with no lineitems) ----------------------------
    "q_anti_join" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy("o_orderkey")
    }),

    // ---- D5 distinct --------------------------------------------------------
    "q_distinct" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- J1 broadcast join + per-group collect (links-per-page analog) ----
    "q_join_collect" -> ((s: SparkSession, dir: String) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")) * 100).cast("bigint").as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),

    // ---- W2/W3 ordered group-concat (events per user) ----------------------
    "q_group_concat" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ",").as("event_seq"))
        .orderBy("user_id")
    }),

    // ---- O/limit top-k per group (window rank) ------------------------------
    // ORACLE SHAPE ONLY (VERDICT r4 #3/#5): partitionBy over 5 priorities is
    // a low-cardinality window — at corpus scale the scale path is the
    // custom TopKPerKey operator (q_topk_custom) whose map-side partial
    // bounds the shuffle to k rows/key/partition and streams k-heaps
    // instead of sorting (SCALE.md: on a 20M-row skewed 5-key input,
    // 0.34s vs 1.95s for the built-in WindowGroupLimit plan vs 29.5s/20M
    // shuffled records for the naive window plan).
    "q_topk" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("price_cents"))
        .orderBy("o_orderpriority", "rnk")
    }),

    // ---- A3-A7 stats aggregates (counts, CV-style stddev/avg) --------------
    "q_stats" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("n_chars")).cast("bigint").as("min_chars"),
          max(col("n_chars")).cast("bigint").as("max_chars"))
        .orderBy("lang")
    }),

    // ---- A8 CASE bucketing with the reference's exact thresholds -----------
    "q_prob_bucket" -> ((s: SparkSession, dir: String) => {
      // score := n_chars % 100 stands in for the diagram score; thresholds
      // and probabilities are the reference's (diagram_analyzer.py:697-706)
      t(s, dir, "documents")
        .withColumn("score", pmod(col("n_chars"), lit(100)).cast("int"))
        .withColumn("probability",
          when(col("score") >= 60, 95)
            .when(col("score") >= 40, 75)
            .when(col("score") >= 20, 40)
            .otherwise(10))
        .filter(col("probability") >= 40)
        .select(col("doc_id"), col("score"), col("probability"))
        .orderBy("doc_id")
    }),

    // ---- F4 explode (tokens) ------------------------------------------------
    "q_tokens" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "token")
    }),

    // ---- X-row scalar/regex functions over documents ------------------------
    "q_regex_count" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), x => x === "spark")).as("spark_n"),
          length(col("text")).cast("bigint").as("len"))
        .orderBy("doc_id")
    }),

    // ---- tumbling-window aggregation over events (streaming-shaped) --------
    "q_time_window" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * 100).cast("bigint").as("value_cents"))
        .select(unix_timestamp(col("hour_ts")).as("hour_epoch"), col("event_type"),
          col("n"), col("value_cents"))
        .orderBy("hour_epoch", "event_type")
    }),

    // ---- approximate aggregates (HLL / quantile sketch; rows-only check —
    // sketch internals are engine-specific, exactness verified elsewhere) ---
    "q_approx" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 2)
            .as("approx_median_price"))
        .orderBy("l_returnflag")
    }),

    // ---- custom TopKPerKey physical operator (plans/TopKPerKey.scala) ------
    "q_topk_custom" -> ((s: SparkSession, dir: String) => {
      val top = org.apache.spark.sql.graftbridge.GraftBridge.topKPerKey(
        t(s, dir, "orders"), Seq("o_custkey"), "o_totalprice", 3)
      top.select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("price_cents"))
        .orderBy(col("o_custkey"), col("price_cents").desc)
    }),

    // ---- exact percentiles / median ------------------------------------------
    "q_median" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_discount, 0.5)"), 4).as("median_disc"))
        .orderBy("l_returnflag")
    }),

    // ---- scalar string-function battery (X-row breadth) ----------------------
    "q_strfuncs" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          length(col("p_name")).cast("int").as("len"),
          substring(col("p_name"), 1, 5).as("pre"),
          reverse(col("p_type")).as("rev"),
          lpad(col("p_brand"), 12, "_").as("pad"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
          levenshtein(col("p_brand"), col("p_type")).cast("int").as("lev"))
        .orderBy("p_partkey")
    }),

    // ---- date/time scalar functions -------------------------------------------
    "q_datefuncs" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("m"),
          dayofmonth(col("o_orderdate")).cast("int").as("d"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso"),
          datediff(lit("1998-12-31").cast("date"),
            col("o_orderdate").cast("date")).cast("int").as("days_to_end"))
        .orderBy("o_orderkey")
    }),

    // ---- ROLLUP aggregation (beyond the reference; Spark built-in) ---------
    "q_rollup" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    }),

    // ---- set operators: UNION / INTERSECT / EXCEPT --------------------------
    "q_setops" -> ((s: SparkSession, dir: String) => {
      // UNION/INTERSECT/EXCEPT semantics computed in ONE lineitem scan:
      // per-key membership flags, set ops derived from the flags (round-3
      // rewrite — the literal .union/.intersect/.except trio re-scanned
      // lineitem 3x and shuffled 3x; BENCH_r02 showed it regressing under
      // load. Same output, one scan + one shuffle; oracle SQL unchanged.)
      val li = t(s, dir, "lineitem")
      val flags = li
        .filter(col("l_quantity") >= 49 ||
          (col("l_returnflag") === "R" && col("l_quantity") <= 2))
        .groupBy(col("l_partkey"))
        .agg(max(when(col("l_quantity") >= 49, 1).otherwise(0)).as("in_hi"),
          max(when(col("l_returnflag") === "R" && col("l_quantity") <= 2, 1)
            .otherwise(0)).as("in_ret"))
      val ops = flags.select(col("l_partkey"), explode(concat(
        array(lit("union")),
        when(col("in_hi") === 1 && col("in_ret") === 1, array(lit("intersect")))
          .otherwise(array().cast("array<string>")),
        when(col("in_hi") === 1 && col("in_ret") === 0, array(lit("except")))
          .otherwise(array().cast("array<string>")))).as("op"))
      ops.groupBy(col("op")).agg(count(lit(1)).as("n"),
          sum(col("l_partkey")).cast("bigint").as("key_sum"))
        .orderBy("op")
    }),

    // ---- AS-OF JOIN: each view event matched to the latest click at-or-
    // before it by the same user — the canonical time-series operator Spark
    // lacks natively (builder mandate example). Composed Spark-first: tag +
    // union + forward-fill `last(_, ignoreNulls)` over one event-time
    // window — ONE shuffle on user_id, no range self-join blowup. The
    // DuckDB oracle uses its NATIVE ASOF LEFT JOIN, so two independent
    // formulations must agree row-for-row. Clicks sharing (user, ts) dedup
    // to max event_id to make the match deterministic on both engines. ----
    "q_asof_join" -> ((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"),
          col("click_id"), lit(0).as("is_view"), lit(null).cast("bigint").as("view_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"),
          lit(null).cast("bigint").as("click_id"), lit(1).as("is_view"),
          col("event_id").as("view_id"))
      // at equal ts the click sorts first => a same-instant click matches
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("is_view"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionAll(views)
        // both forward-fills in ONE select => a single Window operator
        // (separate withColumns planned as two stacked Windows)
        .select(col("*"),
          last(col("click_id"), ignoreNulls = true).over(w).as("last_click_id"),
          last(when(col("is_view") === 0, col("ts_us")), ignoreNulls = true)
            .over(w).as("last_click_ts"))
        .filter(col("is_view") === 1)
        .select(col("view_id"), col("last_click_id").as("click_id"),
          col("last_click_ts").as("click_ts_us"))
        .orderBy("view_id")
    }),

    // ---- sessionization: 30-min-gap sessions per user (lag + running sum) --
    "q_sessionize" -> ((s: SparkSession, dir: String) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // exact integer microseconds on both engines (fractional-second
      // EPOCH would round differently in DuckDB vs Spark)
      t(s, dir, "events")
        // parquet written by pandas is TIMESTAMP_NTZ; session TZ is UTC so
        // the cast is a no-op reinterpretation matching DuckDB's EPOCH_US
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "session_id")
    }),

    // ---- X14 chart preview as a relational op: first-5 + "..." truncation
    // (markdown_converter.py:314-317 slice semantics over an array column) --
    "q_chart_slice" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .withColumn("t", filter(split(col("text"), " "), x => length(x) > 0))
        .select(col("doc_id"),
          concat(array_join(slice(col("t"), 1, 5), ", "),
            when(size(col("t")) > 5, "...").otherwise("")).as("preview"),
          size(col("t")).cast("int").as("n_vals"))
        .orderBy("doc_id")
    }),

    // ---- O4 + P1: supported-format predicate and priority ordering over
    // SNIFFED kinds (S4 magic bytes -> X20 kind -> S2 priority table ->
    // orderBy). The oracle recomputes the kind algebraically from the
    // Synth id rule (docId % 17 == 13 -> PDF payload) — a genuine
    // byte-sniff cross-check, same pattern as the mm_* oracles. ----------
    "q_priority_order" -> ((s: SparkSession, dir: String) => {
      val prio = typedlit(graft.extract.Fidelity.processingPriorities)
      Pipeline.pages(s, dir)
        .select(
          regexp_extract(col("url"), "doc-(\\d+)$", 1).cast("bigint").as("doc_id"),
          when(substring(col("html"), 1, 5) ===
            lit("%PDF-".getBytes(java.nio.charset.StandardCharsets.US_ASCII)), "pdf")
            .otherwise("html").as("kind"))
        .filter(element_at(prio, col("kind")).isNotNull) // P1 supported filter
        .withColumn("priority", element_at(prio, col("kind")).cast("int"))
        .orderBy("priority", "doc_id")
    }),

    // ---- 3-way broadcast join chain (supplier -> nation -> region) --------
    "q_join3" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")) * 100).cast("bigint").as("acctbal_cents"))
        .orderBy("r_name", "n_name")
    }),

    // ---- A8 report threshold as a relational filter over the committed
    // extraction table (diagram_analyzer.py:80,93: probability >= 40) ------
    "x_scores_reportable" -> ((s: SparkSession, dir: String) => {
      Pipeline.extractedCommitted(s, dir)
        .select(col("url"), explode(col("scores")).as("sc"))
        .filter(col("sc.probability") >= 40)
        .select(col("url"), col("sc.page").as("page"),
          col("sc.total_score").as("total_score"),
          col("sc.probability").as("probability"))
        .orderBy("url", "page")
    }),

    // ---- S1 as a DataSource V2 connector: pages table via the custom
    // TableProvider, selecting only pruned-fast-path columns (no body
    // synthesis; the oracle recomputes warc_ts algebraically from the
    // Synth clock rule: 1700000000s + 600s per doc) ------------------------
    "q_pages_dsv2" -> ((s: SparkSession, dir: String) => {
      Pipeline.pages(s, dir)
        .select(
          regexp_extract(col("url"), "doc-(\\d+)$", 1).cast("bigint").as("doc_id"),
          unix_micros(col("warc_ts")).as("ts_us"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- bucketed co-located join (round 4): both sides bucketBy'd on the
    // join key, SortMergeJoin with NO Exchange on either join key — the
    // storage layout is the partitioning. hint("merge") keeps AQE from
    // broadcasting the test-scale build side; at 100 TB both sides are
    // fact-sized and SMJ-over-buckets is the point. ------------------------
    "q_bucketed_join" -> ((s: SparkSession, dir: String) => {
      val db = bucketedDb(s, dir)
      s.table(s"$db.orders_b").hint("merge")
        .join(s.table(s"$db.lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // ---- correlated subqueries: EXISTS / NOT EXISTS (SQL surface) ---------
    "q_exists" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderkey, o_custkey FROM orders_v o
              |WHERE EXISTS (SELECT 1 FROM lineitem_v l
              |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
              |  AND NOT EXISTS (SELECT 1 FROM lineitem_v l2
              |              WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R')
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- scalar subquery in a predicate ------------------------------------
    "q_scalar_subquery" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v2")
      s.sql("""SELECT l_returnflag, COUNT(*) AS n,
              | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
              |FROM lineitem_v2
              |WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem_v2)
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ---- JSON scalar functions over the events props column ---------------
    "q_json" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("bigint").as("k_sum"),
          count(when(col("k") > 50, 1)).as("k_big"),
          min(col("k")).cast("int").as("k_min"),
          max(col("k")).cast("int").as("k_max"))
        .orderBy("event_type")
    }),

    // ---- PIVOT: per-user event-type counts (relational reshape) -----------
    "q_pivot" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // ---- CUBE aggregation ---------------------------------------------------
    "q_cube" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }),

    // ---- window-function battery: lag/lead/ntile/rank family --------------
    "q_window_battery" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderpriority"), col("o_orderkey"),
          lag(col("o_orderkey"), 1, -1L).over(w).cast("bigint").as("prev_key"),
          lead(col("o_orderkey"), 1, -1L).over(w).cast("bigint").as("next_key"),
          ntile(4).over(w).cast("int").as("quartile"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"),
          round(percent_rank().over(w), 4).as("prank"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // ---- array higher-order-function battery over tokenized documents -----
    "q_arrayfuncs" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .withColumn("tok", filter(split(col("text"), " "), x => length(x) > 0))
        .select(col("doc_id"),
          array_join(slice(array_sort(col("tok")), 1, 3), "|").as("first3_sorted"),
          size(array_distinct(col("tok"))).cast("int").as("n_distinct"),
          array_contains(col("tok"), "spark").as("has_spark"),
          aggregate(filter(col("tok"), x => length(x) >= 5), lit(0L),
            (acc, x) => acc + 1L).cast("bigint").as("n_long"),
          array_join(transform(slice(col("tok"), 1, 2), x => upper(x)), ",").as("up2"))
        .orderBy("doc_id")
    }),

    // ---- A9 folder statistics analog (counts + weighted time estimate) ----
    "q_folder_stats" -> ((s: SparkSession, dir: String) => {
      // reference estimator: 30s per pptx-like + 15s per other
      // (folder_processor.py:199-204); `source` stands in for the format
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("source") === "src0", 30).otherwise(15))
            .cast("bigint").as("est_seconds"))
        .orderBy("source")
    })
  ) ++ OpsQueries.queries ++ graft.ops.Multimodal.queries ++
    graft.ops.TwoPass.queries

  def oracleSql: Map[String, String] = Map(
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(ROUND(SUM(l_extendedprice) * 100) AS BIGINT) AS sum_price_cents,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dedup_keep_best" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_forward_fill" ->
      """SELECT event_id, user_id,
        | CAST(ROUND(COALESCE(
        |   LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |   -1.0) * 100) AS BIGINT) AS carried_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin,
    "q_join_collect" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_group_concat" ->
      """SELECT user_id, STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS event_seq
        |FROM events WHERE user_id < 20 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_topk" ->
      """SELECT o_orderpriority, rnk, o_orderkey,
        | CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM orders)
        |WHERE rnk <= 5 ORDER BY o_orderpriority, rnk""".stripMargin,
    "q_stats" ->
      """SELECT lang, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | ROUND(AVG(n_chars), 4) AS avg_chars,
        | CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        | CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_prob_bucket" ->
      """SELECT doc_id, CAST(n_chars % 100 AS INT) AS score,
        | CASE WHEN n_chars % 100 >= 60 THEN 95
        |      WHEN n_chars % 100 >= 40 THEN 75
        |      WHEN n_chars % 100 >= 20 THEN 40
        |      ELSE 10 END AS probability
        |FROM documents WHERE (CASE WHEN n_chars % 100 >= 60 THEN 95
        |      WHEN n_chars % 100 >= 40 THEN 75
        |      WHEN n_chars % 100 >= 20 THEN 40
        |      ELSE 10 END) >= 40
        |ORDER BY doc_id""".stripMargin,
    "q_tokens" ->
      """SELECT doc_id, token, COUNT(*) AS n
        |FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
        |      WHERE doc_id < 100)
        |WHERE LENGTH(token) > 0
        |GROUP BY doc_id, token ORDER BY doc_id, token""".stripMargin,
    "q_regex_count" ->
      """SELECT doc_id,
        | CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = 'spark')) AS INT) AS spark_n,
        | CAST(LENGTH(text) AS BIGINT) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_time_window" ->
      """SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        | COUNT(*) AS n,
        | CAST(ROUND(SUM(value) * 100) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_topk_custom" ->
      """SELECT o_custkey,
        | CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC) AS rn FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, price_cents DESC""".stripMargin,
    "q_median" ->
      """SELECT l_returnflag,
        | ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median_qty,
        | ROUND(QUANTILE_CONT(l_quantity, 0.9), 4) AS p90_qty,
        | ROUND(QUANTILE_CONT(l_discount, 0.5), 4) AS median_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_strfuncs" ->
      """SELECT p_partkey,
        | UPPER(p_name) AS up, LOWER(p_brand) AS lo,
        | CAST(LENGTH(p_name) AS INT) AS len,
        | SUBSTRING(p_name, 1, 5) AS pre,
        | REVERSE(p_type) AS rev,
        | LPAD(p_brand, 12, '_') AS pad,
        | REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS novowel,
        | CAST(LEVENSHTEIN(p_brand, p_type) AS INT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_datefuncs" ->
      """SELECT o_orderkey,
        | CAST(YEAR(o_orderdate) AS INT) AS y,
        | CAST(MONTH(o_orderdate) AS INT) AS m,
        | CAST(DAY(o_orderdate) AS INT) AS d,
        | STRFTIME(o_orderdate, '%Y-%m-%d') AS iso,
        | CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_setops" ->
      """WITH hi AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49),
        |ret AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity <= 2),
        |u AS (SELECT DISTINCT l_partkey, 'union' AS op FROM (SELECT * FROM hi UNION ALL SELECT * FROM ret)),
        |i AS (SELECT l_partkey, 'intersect' AS op FROM (SELECT * FROM hi INTERSECT SELECT * FROM ret)),
        |e AS (SELECT l_partkey, 'except' AS op FROM (SELECT * FROM hi EXCEPT SELECT * FROM ret))
        |SELECT op, COUNT(*) AS n, CAST(SUM(l_partkey) AS BIGINT) AS key_sum
        |FROM (SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM e)
        |GROUP BY op ORDER BY op""".stripMargin,
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, EPOCH_US(ts) AS ts_us, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |views AS (
        |  SELECT user_id, EPOCH_US(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'view')
        |SELECT v.event_id AS view_id, c.click_id AS click_id,
        |       c.ts_us AS click_ts_us
        |FROM views v ASOF LEFT JOIN clicks c
        |  ON v.user_id = c.user_id AND v.ts_us >= c.ts_us
        |ORDER BY view_id""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, EPOCH_US(ts) AS ts_us, event_id,
        |    CASE WHEN LAG(EPOCH_US(ts)) OVER w IS NULL
        |         OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(MIN(ts_us) AS BIGINT) AS start_us,
        |  CAST(MAX(ts_us) AS BIGINT) AS end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_priority_order" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 17 = 13 THEN 'pdf' ELSE 'html' END AS kind,
        | CASE WHEN doc_id % 17 = 13 THEN 3 ELSE 5 END AS priority
        |FROM documents ORDER BY priority, doc_id""".stripMargin,
    "q_join3" ->
      """SELECT r_name, n_name, COUNT(*) AS n_suppliers,
        | CAST(ROUND(SUM(s_acctbal) * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_exists" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pages_dsv2" ->
      """SELECT doc_id,
        | (1700000000 + doc_id * 600) * 1000000 AS ts_us, lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_json" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
        | COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50 THEN 1 END) AS k_big,
        | CAST(MIN(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_min,
        | CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events WHERE user_id < 50 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        | COALESCE(l_linestatus, 'ALL') AS ls,
        | COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_window_battery" ->
      """SELECT o_orderpriority, o_orderkey,
        | CAST(COALESCE(LAG(o_orderkey) OVER w, -1) AS BIGINT) AS prev_key,
        | CAST(COALESCE(LEAD(o_orderkey) OVER w, -1) AS BIGINT) AS next_key,
        | CAST(NTILE(4) OVER w AS INT) AS quartile,
        | CAST(RANK() OVER w AS BIGINT) AS rnk,
        | CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        | ROUND(PERCENT_RANK() OVER w, 4) AS prank
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_arrayfuncs" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
        |    x -> LENGTH(x) > 0) AS tok FROM documents)
        |SELECT doc_id,
        | ARRAY_TO_STRING(LIST_SORT(tok)[1:3], '|') AS first3_sorted,
        | CAST(LEN(LIST_DISTINCT(tok)) AS INT) AS n_distinct,
        | LIST_CONTAINS(tok, 'spark') AS has_spark,
        | CAST(LEN(LIST_FILTER(tok, x -> LENGTH(x) >= 5)) AS BIGINT) AS n_long,
        | ARRAY_TO_STRING(LIST_TRANSFORM(tok[1:2], x -> UPPER(x)), ',') AS up2
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_chart_slice" ->
      """SELECT doc_id,
        | ARRAY_TO_STRING(t[1:5], ', ') ||
        |   CASE WHEN LEN(t) > 5 THEN '...' ELSE '' END AS preview,
        | CAST(LEN(t) AS INT) AS n_vals
        |FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
        |        x -> LENGTH(x) > 0) AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_folder_stats" ->
      """SELECT source, COUNT(*) AS n,
        | CAST(SUM(CASE WHEN source = 'src0' THEN 30 ELSE 15 END) AS BIGINT) AS est_seconds
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
  ) ++ OpsQueries.oracleSql ++ graft.ops.Multimodal.oracleSql
}
