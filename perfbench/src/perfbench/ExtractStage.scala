package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

import graft.core.{Rewriter, WebArchiveOps}
import graft.sql.GraftFunctions.extract_all

/** The extraction stage of the `pipeline` workload: `extract_all` over a
  * seeded mix of the committed golden archives (every archive with a
  * `tohtml` golden): a fixed count of the 400 KB Wikipedia archive plus
  * seeded draws from the small ones, in seeded order. Every pass checks
  * each row's `extracted_html` bytes against its golden. */
final class ExtractStage(ctx: Ctx) extends Stage {
  import ctx.spark
  import spark.implicits._
  import Main.time

  private val wikiRows = math.max(4, (150 * ctx.scale).toInt)
  private val smallRows = math.max(100, (10500 * ctx.scale).toInt)
  private val partitions = 4 * ctx.cores

  private val golden: Path = ctx.repoDir.resolve("src/test/resources/golden")
  /** name -> (archive bytes, golden html bytes) */
  private val archives: Map[String, (Array[Byte], Array[Byte])] = {
    val dir = golden.resolve("archives")
    val s = Files.list(dir)
    val names = try s.toArray.map(_.asInstanceOf[Path].getFileName.toString) finally s.close()
    names.filter(_.endsWith(".webarchive")).map(_.stripSuffix(".webarchive"))
      .filter(n => Files.exists(golden.resolve(s"tohtml/$n.html"))).map { n =>
        n -> (Files.readAllBytes(dir.resolve(s"$n.webarchive")),
              Files.readAllBytes(golden.resolve(s"tohtml/$n.html")))
      }.toMap
  }
  require(archives.contains("wikipedia") && archives.size > 10,
    s"golden archives missing under $golden")
  private val small = archives.keys.filter(_ != "wikipedia").toVector.sorted

  /** The mix: archive name per row, in seeded order. */
  private val mix: Vector[String] = {
    val rnd = new scala.util.Random(ctx.seed)
    rnd.shuffle(Vector.fill(wikiRows)("wikipedia") ++
      Vector.fill(smallRows)(small(rnd.nextInt(small.size))))
  }
  private val counts: Map[String, Int] = mix.groupBy(identity).map { case (k, v) => k -> v.size }

  private var input: DataFrame = _
  /** name -> (xxhash64, byte length) of the golden html */
  private var expected: Map[String, (Long, Int)] = _

  def setup(): SetupCost = {
    if (input != null) input.unpersist(true)
    val t0 = System.nanoTime()
    val bodies = archives.toSeq.map { case (n, (b, _)) => (n, b) }.toDF("name", "body")
    input = mix.zipWithIndex.map { case (n, i) => (i, n) }.toDF("id", "name")
      .repartition(partitions).join(broadcast(bodies), "name")
      .select(col("id"), col("name"), concat(lit("https://example.org/"), col("name"), lit("/"),
        col("id")).as("url"), col("body"))
      .persist()
    input.count()
    val gen = (System.nanoTime() - t0) / 1e9
    expected = archives.toSeq.map { case (n, (_, g)) => (n, g) }.toDF("name", "html")
      .select(col("name"), xxhash64(col("html")), octet_length(col("html")))
      .as[(String, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    SetupCost((System.nanoTime() - t0) / 1e9, gen, 0.0)
  }

  /** One pass: (name, hash, length, null) groups with their row counts. */
  private def extractPass(df: DataFrame): Array[(String, Long, Int, Boolean, Long)] =
    df.select(col("name"), extract_all(col("body"), col("url")).getField("extracted_html").as("h"))
      .groupBy(col("name"), xxhash64(col("h")).as("x"), coalesce(octet_length(col("h")), lit(-1)).as("n"),
        col("h").isNull.as("null"))
      .count().as[(String, Long, Int, Boolean, Long)].collect()

  private def checkPass(phase: Phase, groups: Seq[(String, Long, Int, Boolean, Long)]): Unit = {
    phase.attempted += groups.map(_._5).sum
    phase.failed += groups.filter(_._4).map(_._5).sum
    for ((n, x, len, isNull, c) <- groups if !isNull)
      phase.check(expected(n) == ((x, len)), s"$n: $c rows differ from tohtml/$n.html")
    phase.check(groups.map(_._5).sum == mix.size, s"pass returned ${groups.map(_._5).sum} of ${mix.size} rows")
  }

  def run(phase: Phase): Unit = {
    val (groups, s) = time(ctx.tracer.span("extract")(extractPass(input)))
    phase.timedSeconds += s
    phase.sample("extract", s)
    phase.items += mix.size
    checkPass(phase, groups.toSeq)
  }

  /** Single-thread direct calls into graft.core per archive, then the same
    * rows through Spark on one partition. */
  def layers(phase: Phase): Unit = {
    def perCallUs(reps: Int)(f: => Any): Double =
      Agg.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { f; i += 1 }
        (System.nanoTime() - t0) / 1e3 / reps
      })
    val parseUs = archives.map { case (n, (b, _)) =>
      n -> perCallUs(if (n == "wikipedia") 20 else 200)(WebArchiveOps.parse(b)) }
    val extractUs = archives.map { case (n, (b, _)) =>
      n -> perCallUs(if (n == "wikipedia") 10 else 100)(Rewriter.extractAll(WebArchiveOps.parse(b))) }
    def weighted(us: Map[String, Double], names: Iterable[String]): Double =
      names.map(n => us(n) * counts.getOrElse(n, 0)).sum / names.map(counts.getOrElse(_, 0)).sum
    phase.layers("core.plist_parse_us") = weighted(parseUs, archives.keys)
    phase.layers("core.extract_all_us.wiki") = extractUs("wikipedia")
    phase.layers("core.extract_all_us.small") = weighted(extractUs, small)
    // a quarter of the mix through Spark on one partition vs its summed core time
    val quarter = input.filter(col("id") % 4 === 0).coalesce(1)
    val coreS = mix.indices.filter(_ % 4 == 0).map(i => extractUs(mix(i))).sum / 1e6
    val (_, sparkS) = time(ctx.tracer.span("extract.1part")(extractPass(quarter)))
    phase.layers("sql.extract_all_1part_s") = sparkS
    phase.layers("sql.overhead_ratio") = sparkS / coreS
  }

  def close(): Unit = if (input != null) input.unpersist(true)
}
