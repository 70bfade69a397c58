package perfbench

/** The `pipeline` workload: the training-data side of the program. One
  * operation is an extraction pass over the golden-archive mix
  * ([[ExtractStage]]) followed by one run of each near-duplicate family
  * ([[DedupStage]]); its items are archives plus documents plus vectors. */
final class PipelineWorkload(ctx: Ctx) extends Workload {
  val opSpan = "pipeline"
  private val stages = Seq(new ExtractStage(ctx), new DedupStage(ctx))

  def setup(): SetupCost = {
    val c = stages.map(_.setup())
    SetupCost(c.map(_.total).sum, c.map(_.gen).sum, 0.0)
  }

  /** Two passes: operations keep getting faster for about four passes
    * (JIT and Spark code caches), and the first two carry most of it. */
  def warmup(): Unit = (1 to 2).foreach(_ => stages.foreach(_.run(new Phase)))

  def measure(seconds: Double, traced: Boolean): Phase = {
    val phase = new Phase
    while (phase.timedSeconds < seconds && phase.problems.isEmpty) {
      System.gc()
      val t0 = phase.timedSeconds
      ctx.tracer.span(opSpan)(stages.foreach(_.run(phase)))
      phase.opSeconds += phase.timedSeconds - t0
    }
    if (traced) stages.foreach(_.layers(phase))
    phase
  }

  def close(): Unit = stages.foreach(_.close())
}
