package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness for the optimization rounds (guide §1) — SEPARATE
  * from the frozen graft.Bench contract. Modes (first arg):
  *
  *   plans <outDir> <suffix>   write .explain("formatted") for every
  *                             parquet-backed declared query to
  *                             <outDir>/<name>_<suffix>.txt
  *   noop [nameFilter...]      time each declared query with the noop sink
  *                             (computation only, no collect/driver cost),
  *                             best-of-3, print one JSON line
  *
  * Crawl-epoch phases are measured by perfbench's traced crawl workload.
  *
  * Uses the same session config as graft.Bench so timings are comparable.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftFunctions.register(spark)

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // non-relational / side-effecting queries that run whole jobs inside
    // the query builder (streaming, mini-crawls, fs sinks) — excluded from
    // plan dumps and noop timing (the frozen bench times them end-to-end)
    val sideEffecting = Set("crawl_schedule", "crawl_schedule_cuckoo",
      "stream_ingest", "stream_host_gate", "extract_sink_manifest")

    args.headOption.getOrElse("noop") match {
      case "plans" =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else "before"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !sideEffecting(name)) {
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            System.err.println(s"[plans] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
        }

      case "noop" =>
        val filter = args.drop(1).toSet
        // warm pass over the tables like the frozen bench does
        for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"))
          try spark.read.parquet(s"$sfDir/$t.parquet").count()
          catch { case _: Throwable => () }
        val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
             if !sideEffecting(name) && (filter.isEmpty || filter(name))) {
          spark.sparkContext.setJobDescription(s"noop: $name")
          def one(): Double = time {
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[noop] $name failed: ${e.getMessage}") }
          }
          val sec = (1 to 3).map(_ => one()).min
          results(name) = sec
          System.err.println(f"[noop] $name $sec%.3f")
        }
        val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
          .mkString("{", ",", "}")
        println(s"""{"metric":"noop","queries":$qs,"sf":"$sfDir","cpus":$cpus}""")

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
