package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline

/** The plan properties the scale design rests on, read from the physical
  * plans of the headline queries at sf0.001: a pruned connector scan under
  * the kernel, map-side combining aggregates, broadcast small sides, fused
  * expressions inside WholeStageCodegen, shared LSH subtrees shuffled once,
  * and AQE's skew split. A failing assertion prints the plan it read.
  * SparkJobsSpec pins the narrow extraction stage, the bucketed join, the
  * custom top-k and dd_embed_neardup's missing BNLJ beside their results. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val sf0001 = "/root/testdata/sf0.001"

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  /** The formatted physical plan, as planned before the query runs. */
  private def planned(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The final adaptive plan: AQE inserts the codegen stages and the reused
    * exchanges only as the query runs, so this runs it first. */
  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def occurrences(regex: String, plan: String): Int = regex.r.findAllIn(plan).size

  /** Whether every operator of an executed plan that evaluates `fn` sits
    * inside a WholeStageCodegen stage: its line carries a `*(n)` marker. A
    * scan line only lists `fn` among its pushed DataFilters, which the
    * Filter above it evaluates. */
  private def codegenned(executed: String, fn: String): Boolean = {
    val lines = executed.split("== Initial Plan ==").head.split("\n")
      .filter(l => l.contains(fn) && !l.contains("FileScan"))
    lines.nonEmpty && lines.forall(l => "^[\\s:|+-]*\\*\\(\\d+\\)".r.findFirstIn(l).isDefined)
  }

  test("x_extract plans the kernel expression over a connector scan that drops lang") {
    val p = planned(query("x_extract"))
    assert(p.contains("graft_extract_doc"), p)
    assert(p.contains("GraftPagesScan") &&
      p.contains("required=url,warc_ts,html,text)"), p)
  }

  test("the hot-domain pass reads urls only from the connector, no page bodies") {
    val hot = Pipeline.hotDomainsQuery(Pipeline.pages(spark, sf0001),
      Pipeline.defaultHotThresholdShare, Observation())
    val p = hot.queryExecution.executedPlan.toString
    assert(p.contains("GraftPagesScan"), p)
    assert(p.contains("required=url") && !p.contains("required=url,warc_ts,html"), p)
  }

  test("the serve queries read the committed table, never the pages or the kernel") {
    val links = planned(query("x_links"))
    assert(!links.contains("MapElements") && links.contains("Scan parquet"), links)
    // a document's lines all sit in its one committed row: the page fill is
    // the fused per-row expression, and the one Exchange is the output sort's
    val twopass = planned(query("x_links_twopass"))
    assert(twopass.contains("graft_paged_link_lines"), twopass)
    assert(!twopass.contains("Window") && occurrences("\\(\\d+\\) Exchange", twopass) == 1 &&
      twopass.contains("rangepartitioning(url"), twopass)
    val summary = planned(query("x_meta_summary"))
    assert(summary.contains("Scan parquet") && !summary.contains("graft_pages") &&
      !summary.contains("Join"), summary)
  }

  test("aggregates combine map-side and small sides broadcast") {
    Seq("q_agg", "dd_exact").foreach { q =>
      val p = planned(query(q)); assert(p.contains("HashAggregate"), s"$q\n$p")
    }
    Seq("q_join_collect", "ann_topk").foreach { q =>
      val p = planned(query(q)); assert(p.contains("Broadcast"), s"$q\n$p")
    }
    // stratum counts are a groupBy broadcast back, not a count(*) over
    // (partition by lang, split) window that funnels a language through one task
    val sample = planned(query("ta_sample"))
    assert(!sample.contains("Window") && sample.contains("BroadcastHashJoin"), sample)
    assert(sample.contains("HashAggregate"), sample)
  }

  test("window queries shuffle only for their window and output sort; as-of has no join") {
    val ffill = planned(query("q_forward_fill"))
    assert(occurrences("\\(\\d+\\) Exchange", ffill) <= 2 && ffill.contains("Window"), ffill)
    val asof = planned(query("q_asof_join"))
    assert(occurrences("\\(\\d+\\) Window", asof) == 1, asof)
    assert(!asof.contains("Join"), asof)
  }

  test("dd_simhash folds its 64 bit votes in one fused expression") {
    val p = planned(query("dd_simhash"))
    assert(p.contains("graft_simhash64"), p)
    assert(!p.contains("aggregate(hashes"), p)
  }

  test("the minhash queries run shared subtrees once over fused signatures") {
    Seq("dd_minhash_lsh", "dd_jaccard_lsh").foreach { q =>
      val df = query(q)
      val p = planned(df)
      assert(p.contains("graft_minhash_sigs"), s"$q\n$p")
      // hash-partitioned or broadcast, the band self-join is equi-keyed on
      // (band, bucket), never all pairs
      assert(occurrences("keys \\[2\\]: \\[band", p) > 0 &&
        !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), s"$q\n$p")
      val e = executed(df)
      assert(e.contains("ReusedExchange") && !p.contains("Scan ExistingRDD"), s"$q\n$e")
    }
    // the collapse groupBy's min(doc_id)/min_by(sigs) representative is the
    // only min-family aggregate: the signatures are one per-row expression
    val p = planned(query("dd_minhash_lsh"))
    assert(occurrences("min\\(", p) == occurrences("min\\(doc_id", p) && p.contains("min_by"), p)
  }

  test("the vector queries key their joins and run their fused loops in codegen") {
    val neardup = query("dd_embed_neardup")
    val p = planned(neardup)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    val e = executed(neardup)
    assert(e.contains("ReusedExchange") && !p.contains("Scan ExistingRDD"), e)
    assert(codegenned(e, "graft_hyperplane_sigs") && codegenned(e, "graft_cosine"), e)
    val lsh = executed(query("ann_lsh"))
    assert(codegenned(lsh, "graft_hyperplane_sigs") && codegenned(lsh, "graft_cosine"), lsh)
    val ivf = query("ann_ivf")
    val ivfPlan = planned(ivf)
    assert(ivfPlan.contains("Broadcast") && !ivfPlan.contains("BroadcastNestedLoopJoin"), ivfPlan)
    val ivfExec = executed(ivf)
    assert(codegenned(ivfExec, "graft_centroid_argsort") && codegenned(ivfExec, "graft_cosine"),
      ivfExec)
  }

  test("AQE splits a planted skewed join partition") {
    // 90% of a 400k-row fact on one key, with the skew thresholds scaled to
    // test size; at production scale the defaults (256MB / factor 5) do this
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k))
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(400000L).select(
        when(pmod(col("id"), lit(10)) < 9, 0L).otherwise(pmod(col("id"), lit(97))).as("k"),
        col("id").as("payload"))
      val dim = spark.range(97L).select(col("id").as("k"), concat(lit("dim-"), col("id")).as("name"))
      val p = executed(fact.join(dim, "k").groupBy(col("name"))
        .agg(count(lit(1)).as("n"), sum(col("payload")).as("s")))
      assert(p.contains("skew=true"), p)
      assert(p.contains("AQEShuffleRead") && p.contains("skewed"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
