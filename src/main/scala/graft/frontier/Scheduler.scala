package graft.frontier

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Candidate

/** Per-host politeness priority dequeue (W1/W2 in SURVEY.md §2.5).
  *
  * Crawl ordering (the parity-critical total order, FIXTURES.md §4):
  * within an epoch a host schedules at most `budget` URLs, chosen by
  * (priority DESC, canonical_url ASC). The global order of a scheduled
  * batch is (host, priority DESC, url ASC).
  *
  * Scale: a naive groupBy(host) shuffles hot hosts (Zipf head) into single
  * tasks. The r6 shape is a MAP-SIDE partial top-k (guide §2.3 "aggregate
  * before you shuffle") followed by one shuffle for the exact per-host
  * merge:
  *  - phase 1 runs WHERE THE ROWS ARE (mapPartitions, no shuffle): each
  *    task keeps a bounded heap of size `budget` per host it sees, flushing
  *    the heap table whenever the kept-row count passes a cap, so task
  *    memory stays O(cap) regardless of host count. Dropping a row is only
  *    allowed when `budget` strictly-better same-host rows exist in the
  *    same task — so every row of the true global per-host top-k survives.
  *  - phase 2 merges per host with the same bounded heap. Its fan-in per
  *    host is <= min(host rows, partitions * budget): for the Zipf-hottest
  *    host that is 5x below the old salted phase-1 task volume
  *    (hostRows / saltFactor) while phase 1 is now embarrassingly parallel
  *    instead of 8-way salted.
  * The pre-r6 shape (salted groupByKey phase 1) shuffled EVERY candidate
  * once more; this one shuffles at most partitions * budget rows per host.
  * Both phases use the same bounded heap (`HostHeap`), not sorts. Final
  * output is the exact per-host top-k either way (flush boundaries change
  * only which superset phase 1 emits, never the phase-2 result).
  */
object Scheduler {

  /** saltFactor is retained for config compatibility (the r6 map-side
    * partial top-k needs no salt); it no longer affects the plan. */
  final case class Config(perHostBudget: Int = 16, saltFactor: Int = 8)

  /** Candidate order: best first (priority DESC, url ASC). Hand-written:
    * Ordering.by's tuple key allocated a boxed pair per COMPARISON, and a
    * bounded heap does log(k) comparisons per offered row — millions of
    * allocations per epoch at bench scale. */
  private val best: Ordering[Candidate] = new Ordering[Candidate] {
    def compare(a: Candidate, b: Candidate): Int = {
      val c = java.lang.Double.compare(b.priority, a.priority)
      if (c != 0) c else a.url.compareTo(b.url)
    }
  }

  /** Rows a phase-1 task may hold across its per-host heaps before it
    * flushes them downstream (memory bound ~O(this) per task; a flush
    * only ever FORWARDS rows, so it cannot affect the phase-2 result). */
  private val Phase1FlushRows = 1 << 17

  /** The best `budget` candidates offered so far, in a bounded heap whose
    * head is the worst one kept. */
  private final class HostHeap(val budget: Int) {
    val heap = new scala.collection.mutable.PriorityQueue[Candidate]()(best)
    /** Whether `c` grew the heap (false when it replaced or was dropped). */
    def offer(c: Candidate): Boolean = {
      if (heap.size < budget) { heap.enqueue(c); true }
      else if (best.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c); false }
      else false
    }
  }

  /** Dequeue with the within-host rank attached: the final top-k emits in
    * (priority DESC, url ASC) order per host, so the rank is free — no
    * global sort/zipWithIndex pass needed for a deterministic total order
    * (host ASC, rank ASC). Input rows are (candidate, crawl-delay budget);
    * the budget is constant within a host. */
  def dequeueRanked(spark: SparkSession, candidates: Dataset[(Candidate, Int)],
                    cfg: Config): Dataset[(Candidate, Int)] = {
    import spark.implicits._
    def hostHeap(budget: Int) = new HostHeap(math.min(cfg.perHostBudget, math.max(1, budget)))
    val partial = candidates.mapPartitions { rows =>
      val heaps = new java.util.HashMap[String, HostHeap]()
      var kept = 0
      def drain(): Iterator[(Candidate, Int)] = {
        val snapshot = new scala.collection.mutable.ArrayBuffer[(Candidate, Int)](kept)
        val it = heaps.values().iterator()
        while (it.hasNext) {
          val h = it.next()
          h.heap.foreach(c => snapshot += ((c, h.budget)))
        }
        heaps.clear()
        kept = 0
        snapshot.iterator
      }
      def loop(): Iterator[(Candidate, Int)] =
        if (!rows.hasNext) drain()
        else {
          while (rows.hasNext && kept < Phase1FlushRows) {
            val (c, b) = rows.next()
            var h = heaps.get(c.host)
            if (h == null) {
              h = hostHeap(b)
              heaps.put(c.host, h)
            }
            if (h.offer(c)) kept += 1
          }
          if (rows.hasNext) drain() ++ loop() else drain()
        }
      loop()
    }
    partial
      .groupByKey(_._1.host)
      .flatMapGroups { (_, it) =>
        val buf = it.buffered
        val h = hostHeap(buf.head._2)
        buf.foreach(r => h.offer(r._1))
        h.heap.toVector.sorted(best).iterator.zipWithIndex
      }
  }

}
