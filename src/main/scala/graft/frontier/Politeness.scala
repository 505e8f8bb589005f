package graft.frontier

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.CrawlJob

/** Per-host politeness wave scheduler.
  *
  * Replaces the reference's serialized priority dequeue + per-route
  * concurrency gate (reference: src/nest.js:170-173 sort by priority,
  * nest.js:238-261 concurrency cap) with a deterministic BSP wave:
  * each superstep takes, per host, the top `hostBudget` eligible jobs in
  * (priority DESC, createdStep ASC, urlKey ASC) order, skipping jobs beyond
  * their route's per-host concurrency cap — exactly the sequential
  * "dequeue highest-priority, skip capped routes, backfill from the rest"
  * semantics.
  *
  * Two phases, two shuffles:
  *
  *  1. *Salted pre-top-k* (skew guard): ranking over (host, salt, route)
  *     with `salt = pmod(urlKey, S)` spreads a hot host over S partitions;
  *     each (salt, route) keeps its local top-hostBudget, bounding survivors
  *     per host at S·routes·hostBudget regardless of frontier skew — no
  *     single task ever ranks a whole hot host. Ranked per-route because the
  *     sequential dequeue backfills a capped route's slot from other routes,
  *     so no route's candidates may crowd out another's during truncation.
  *  2. *Exact sequential take*: repartition by host, sort within partitions
  *     by (host, priority desc, createdStep, urlKey), and walk each host's
  *     bounded candidate list once ([[takeSorted]]), applying route caps +
  *     host budget — a single narrow pass (mapPartitions), no further
  *     ranking windows.
  *
  * [[waveLocal]] is the driver-side twin for a frontier held as an array:
  * the same eligibility filter and the same [[takeSorted]] over one sort,
  * no salting — phase 1 only truncates, and the take never accepts a job
  * outside its (host, route) top-hostBudget, so truncation cannot change
  * the result.
  */
object Politeness {

  val orderCols = Seq(col("priority").desc, col("createdStep").asc, col("urlKey").asc)

  /** (host, priority desc, createdStep, urlKey) — the order [[takeSorted]]
    * expects; hosts need only be contiguous. */
  private val takeOrder: Ordering[CrawlJob] =
    Ordering.by[CrawlJob, (String, Int, Int, Long)](j =>
      (j.host, j.priority, j.createdStep, j.urlKey))(
      Ordering.Tuple4(Ordering.String, Ordering.Int.reverse, Ordering.Int, Ordering.Long))

  /** The exact sequential take: walk jobs sorted by [[takeOrder]] and keep,
    * per host, the first `hostBudget` whose route is still under its cap
    * (cap < 0 = uncapped) — the reference's "dequeue highest-priority, skip
    * capped routes, backfill from the rest".
    */
  def takeSorted(sorted: Iterator[CrawlJob], hostBudget: Int,
      routeCaps: Map[String, Int]): Iterator[CrawlJob] = {
    var curHost: String = null
    var taken = 0
    val routeCount = scala.collection.mutable.Map.empty[String, Int]
    sorted.filter { j =>
      if (j.host != curHost) {
        curHost = j.host; taken = 0; routeCount.clear()
      }
      val cap = routeCaps.getOrElse(j.routeId, -1)
      val rc = routeCount.getOrElse(j.routeId, 0)
      if (taken < hostBudget && (cap < 0 || rc < cap)) {
        taken += 1; routeCount(j.routeId) = rc + 1; true
      } else false
    }
  }

  def wave(
      frontier: Dataset[CrawlJob],
      step: Int,
      hostBudget: Int,
      routeCaps: Map[String, Int],
      disabled: Set[String] = Set.empty,
      saltBuckets: Int = 16,
      jobFilter: Option[CrawlJob => Boolean] = None): Dataset[CrawlJob] = {
    val spark = frontier.sparkSession
    import spark.implicits._

    val preFiltered = frontier
      .filter(!col("state.finished") && col("notBeforeStep") <= lit(step))
      .filter(if (disabled.isEmpty) lit(true) else !col("routeId").isin(disabled.toSeq: _*))
    // worker.getJobQuery analogue (reference: src/nest.js:142-166): an extra
    // user predicate on dequeue eligibility. Typed (deserializing) filter —
    // applied only when present, after the codegen'd filters above prune.
    val eligible = jobFilter.fold(preFiltered)(f => preFiltered.filter(f))

    // Phase 1 — salted per-route pre-top-k (see scaladoc).
    val salted = Window
      .partitionBy(col("host"), pmod(col("urlKey"), lit(saltBuckets)), col("routeId"))
      .orderBy(orderCols: _*)
    val phase1 = eligible
      .withColumn("rs", row_number().over(salted))
      .filter(col("rs") <= lit(hostBudget))
      .drop("rs")
      .as[CrawlJob]

    // Phase 2 — exact sequential take per host over the bounded survivors.
    val caps = routeCaps // local: avoid capturing enclosing refs in closure
    val budget = hostBudget
    phase1
      // explicit partition count pins the downstream fetch stage's task
      // count (= parallelism of the CPU-heavy fetch+extract) even when AQE
      // size-based coalescing is active for the engine's small state ops.
      .repartition(spark.sessionState.conf.numShufflePartitions, col("host"))
      .sortWithinPartitions(Seq(col("host")) ++ orderCols: _*)
      .mapPartitions(it => takeSorted(it, budget, caps))
  }

  /** [[wave]] over a driver-held frontier, with no Spark job: same rows. */
  def waveLocal(
      frontier: Array[CrawlJob],
      step: Int,
      hostBudget: Int,
      routeCaps: Map[String, Int],
      disabled: Set[String] = Set.empty,
      jobFilter: Option[CrawlJob => Boolean] = None): Array[CrawlJob] = {
    val eligible = frontier.filter(j =>
      !j.state.finished && j.notBeforeStep <= step && !disabled(j.routeId) &&
        jobFilter.forall(_(j)))
    takeSorted(eligible.sorted(takeOrder).iterator, hostBudget, routeCaps).toArray
  }
}
