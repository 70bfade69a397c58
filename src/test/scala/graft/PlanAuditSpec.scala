package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** Physical-plan guardrails over the whole SparkEntry query surface: the
  * patterns that kill 100-TB runs must never (re)appear in any flagship
  * query plan. Complements value-correctness (oracles) with plan shape. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-audit")
    .config("spark.sql.shuffle.partitions", 8)
    .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  // crawl_schedule* run a stateful mini-crawl (side effects); their plan
  // is the epoch job's, audited via CrawlJobSpec — skip the dump here.
  private def plans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.filter(!_._1.startsWith("crawl_schedule")).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }

  test("no declared query leaves a cached RDD behind") {
    // every query, the crawl_schedule* mini-crawls included, built and run
    // to the noop sink: a frame persisted along the way must be released
    // by its owner before the query returns
    val sc = spark.sparkContext
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val before = sc.getPersistentRDDs.keySet.toSet
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val after = sc.getPersistentRDDs.keySet.toSet
      assert(after == before,
        s"$name: cached RDDs before ${before.toSeq.sorted} after ${after.toSeq.sorted}")
    }
  }

  test("no nested-loop or cartesian join in any flagship query plan") {
    for ((name, plan) <- plans) {
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in $name")
      assert(!plan.contains("CartesianProduct"), s"cartesian in $name")
    }
  }

  test("parquet scans prune columns: no query reads every documents/lineitem column") {
    // documents has (doc_id, url, source, lang, ts, n_chars, text, ...);
    // a scan whose ReadSchema carries them all means pruning broke
    val wide = Seq("doc_id", "url", "source", "lang", "ts", "n_chars", "text")
    for ((name, plan) <- plans if plan.contains("documents.parquet")) {
      val schemas = "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(schemas.nonEmpty, s"$name: no ReadSchema in plan")
      for (s <- schemas if plan.indexOf("documents.parquet") >= 0)
        assert(!wide.forall(s.contains), s"$name reads all documents columns: $s")
    }
  }

  test("filter queries push predicates into the parquet scan") {
    val q1 = SparkEntry.queries("q1_agg")(spark, sf).queryExecution.executedPlan.toString
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
           q1.contains("PushedFilters: [") && q1.contains("l_shipdate"),
      s"q1_agg shipdate filter not pushed:\n${q1.take(800)}")
    val q3 = SparkEntry.queries("q3_join")(spark, sf).queryExecution.executedPlan.toString
    assert(q3.contains("c_mktsegment"), "q3 segment filter missing from plan")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(c_mktsegment,BUILDING\\)".r
      .findFirstIn(q3).nonEmpty, "q3 segment filter not pushed to scan")
  }

  test("broadcast joins are used for the small dimension sides") {
    val q5 = SparkEntry.queries("q5_broadcast")(spark, sf).queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastHashJoin"), "q5 lost its broadcast joins")
    val q3 = SparkEntry.queries("q3_join")(spark, sf).queryExecution.executedPlan.toString
    assert(q3.contains("BroadcastHashJoin"), "q3 customer side should broadcast")
  }

  test("top-k is TakeOrdered, not a global sort") {
    val tk = SparkEntry.queries("q_topk_orders")(spark, sf).queryExecution.executedPlan.toString
    assert(tk.contains("TakeOrderedAndProject"), "top-k should be TakeOrderedAndProject")
  }

  test("ann_ivf_bucketed's DRIVER query scan is partition-pruned to the probe cells") {
    // the fixture-level prune is pinned in PipelineSpec; this audits the
    // actual driver-visible query at the driver's own scale: its one
    // FileSourceScanExec over the persisted index must select at most
    // nProbe(=8) of the occupied __cell directories
    val df = SparkEntry.queries("ann_ivf_bucketed")(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val idxScan = scans.filter(_.relation.partitionSchema.fieldNames.contains("__cell"))
    assert(idxScan.nonEmpty, "bucketed query must read the partitioned index")
    val scanned = idxScan.map(_.selectedPartitions.partitionCount).sum
    assert(scanned <= 8, s"probe must read <= nProbe cell dirs, scanned=$scanned")
  }

  test("simhash and embedding dedup plans: one histogram aggregate, no cached scan") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Dedup
    // hot band buckets (threshold 4 over 200 rows), so the sub-banding and
    // refinement run; the histogram is joined into the plan, never
    // persisted or probed on the driver, and its count aggregate runs once
    // (the simhash self-join's second side reuses the first side's shuffle)
    val docs = spark.range(0, 200).select(col("id").as("doc_id"),
      concat_ws(" ", lit("a b c d e f g h"), (col("id") % 7).cast("string")).as("text"))
    val vecs = spark.range(0, 200).select(col("id").as("vec_id"),
      transform(array((0 until 8).map(i => lit(i.toFloat)): _*),
        (x, i) => sin(x + (col("id") % 5).cast("float") * 0.001f + i).cast("float")).as("embedding"))
    for ((name, df) <- Seq(
        "simhash" -> Dedup.simhashNearDups(docs, "doc_id", "text", hotBucketThreshold = 4),
        "embedding" -> Dedup.embeddingNearDups(vecs, "vec_id", "embedding", threshold = 0.99,
          dim = 8, hotBucketThreshold = 4))) {
      assert(df.collect().nonEmpty, s"$name found no pairs")
      val plan = df.queryExecution.executedPlan.toString
      val finalPlan = plan.take(plan.indexOf("== Initial Plan =="))
      assert(finalPlan.contains("isFinalPlan=true") && !finalPlan.contains("InMemoryTableScan"),
        s"$name reads a cached frame:\n$finalPlan")
      val histograms = "keys=\\[band#\\d+, bucket#\\d+L?\\], functions=\\[count\\(1\\)\\]".r
        .findAllIn(finalPlan).size
      assert(histograms == 1, s"$name has $histograms histogram aggregates:\n$finalPlan")
    }
  }
}
