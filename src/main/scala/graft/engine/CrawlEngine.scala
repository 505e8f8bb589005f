package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.canon.UrlCanon
import graft.corpus.CorpusRow
import graft.fetch.{CorpusFetcher, FetchStage, Fetcher, StepOutcome}
import graft.frontier.{BloomSeen, BloomShard, Politeness}
import graft.items.Items
import graft.model._
import graft.robots.Robots
import graft.state.SnapshotStore

/** A permanently-failed fetch (retries exhausted or a 4xx "stop") — the
  * reference throws and abandons the job (src/spider.js:239-244); we land it
  * in a queryable dead-letter table instead.
  */
case class DeadLetter(urlKey: Long, url: String, host: String, routeId: String,
    status: Int, errorCount: Int, step: Int)

/** One row per fetch — the engine's dequeue/crawl-ordering record AND the
  * source of all observability: metrics and dead letters are aggregations /
  * filters over this log at READ time, so supersteps pay exactly one
  * narrow log write (north rule: per-partition lineage + fetch metrics;
  * ordering parity vs the oracle is asserted on this log — within a
  * (step, host) wave rows are unordered parallel fetches, compared after
  * sorting by the scheduler's own (priority, createdStep, urlKey) order).
  */
case class FetchLog(step: Int, host: String, urlKey: Long, url: String,
    routeId: String, page: Int, status: Int, priority: Int, createdStep: Int,
    action: String, errorCount: Int, spawnCount: Int,
    itemsCreated: Long, itemsUpdated: Long,
    /** job terminated this fetch (last page, dead-letter, or redirect) —
      * the reference's `job:finish` event bit (worker.js:137-142). */
    finished: Boolean)

object CrawlEngine {
  /** Event fan-out surface — the reference's emitter chain
    * (src/emitter.js:53-63; worker events `job:start/finish` etc.,
    * src/worker.js:95-161) re-expressed batch-wise: after every committed
    * superstep, listeners receive that step's fetch log as a typed Dataset
    * (filter `finished`/`action`/`itemsCreated` for the per-job events).
    * Runs on the driver between supersteps; a throwing listener fails the
    * crawl like a throwing reference handler. The Dataset scans the step's
    * landed raw-outcome table and should be consumed INSIDE the callback
    * (collect/write/aggregate). With listeners attached the commit runs
    * synchronously (fan-out is contractually after-commit), trading the
    * pipelined overlap for the event ordering guarantee.
    */
  trait StepListener {
    def onStepCommitted(step: Int, stepLog: Dataset[FetchLog]): Unit
  }

  /** Byte-free per-outcome metadata — the single-collect envelope of the
    * driver superstep path: one scan of the landed raw table feeds the
    * run accounting, item decisions, spawn candidates, job-state updates,
    * fetch log and archive rows, replacing ~5 driver jobs per superstep.
    * `itemMeta` rows are (pos, key, image_id, phash).
    */
  private[engine] case class OutcomeMeta(
      job: CrawlJob, status: Int, action: String, hasNextPage: Boolean,
      newState: Map[String, String], spawned: Seq[SpawnedJob],
      itemMeta: Seq[(Int, String, String, Long)])

  /** Job-state transition for one fetched job — the reference worker's
    * post-job bookkeeping (pagination worker.js:223-233, finish 137-142,
    * retry spider.js:226-248), shared verbatim by the driver-path loop and
    * the distributed Dataset map so the two paths cannot drift.
    */
  private[engine] def advance(job: CrawlJob, action: String,
      hasNextPage: Boolean, newState: Map[String, String], nSpawned: Int,
      created: Long, updated: Long, stepNow: Int, transitionDelay: Int,
      backoffSteps: Int): CrawlJob = {
    val stats2 = job.stats.copy(
      pages = job.stats.pages + (if (action == "ok") 1 else 0),
      items = job.stats.items + created.toInt,
      updated = job.stats.updated + updated.toInt,
      spawned = job.stats.spawned + nSpawned)
    val started = if (job.state.startedStep < 0) stepNow else job.state.startedStep
    action match {
      case "ok" if hasNextPage =>
        job.copy(stats = stats2,
          notBeforeStep = stepNow + 1 + transitionDelay,
          state = job.state.copy(currentPage = job.state.currentPage + 1,
            startedStep = started,
            data = job.state.data ++ newState))
      case "ok" =>
        job.copy(stats = stats2,
          state = job.state.copy(finished = true, startedStep = started,
            finishedStep = stepNow, data = job.state.data ++ newState))
      case "retry" =>
        job.copy(errorCount = job.errorCount + 1,
          notBeforeStep = stepNow + 1 + backoffSteps,
          stats = stats2,
          state = job.state.copy(startedStep = started))
      case _ => // stop or redirect: this job terminates
        job.copy(stats = stats2,
          state = job.state.copy(finished = true, startedStep = started,
            finishedStep = stepNow))
    }
  }

  /** The step's [[FetchLog]] row for one fetched job — shared by both paths. */
  private[engine] def logRow(stepNow: Int, job: CrawlJob, status: Int,
      action: String, hasNextPage: Boolean, nSpawned: Int,
      created: Long, updated: Long): FetchLog =
    FetchLog(stepNow, job.host, job.urlKey, job.url, job.routeId,
      job.state.currentPage, status, job.priority, job.createdStep,
      action, job.errorCount, nSpawned, created, updated,
      finished = action != "retry" && !(action == "ok" && hasNextPage))
}

case class EngineConfig(
    statePath: String,
    /** max fetches per host per superstep — the politeness budget. */
    hostBudget: Int = 2,
    maxSteps: Int = 10000,
    disabledRoutes: Set[String] = Set.empty,
    /** phash hamming threshold for near-dup suppression; -1 disables. */
    phashThreshold: Int = 6,
    /** extra supersteps of backoff before retrying a 5xx (reference: fixed
      * 3500 ms vs 1 s poll ≈ a few polls, spider.js:248). */
    retryBackoffSteps: Int = 1,
    bloomPartitions: Int = 8,
    bloomCapacityPerShard: Long = 1L << 20,
    bloomFpp: Double = 0.01,
    saltBuckets: Int = 16,
    /** snapshots older than latest-N are expired after each commit. */
    retainSnapshots: Int = 4,
    /** Sub-partitions per host when rebalancing the selected wave for the
      * fetch stage. Politeness SELECTION keys whole hosts to partitions
      * (required for the sequential budget take), but leaving the FETCH on
      * that placement makes stage wall = the unluckiest partition's host
      * count (measured ~1.7× mean at 450 hosts / 32 partitions). The wave is
      * byte-free metadata, so one extra exchange splitting each host into
      * `fetchSplits` chunks is ~free and caps the tail.
      *
      * DEFAULT 1: splitting a host across k tasks means up to k simultaneous
      * connections to that host with no inter-request delay — a weaker
      * politeness posture than the reference's per-route concurrency gate
      * (nest.js:238-261). Synthetic-fetcher benches opt into 8 explicitly;
      * real fetchers should raise it only together with [[hostMinDelayMs]].
      */
    fetchSplits: Int = 1,
    /** Engine-wide target minimum milliseconds between successive fetch
      * STARTS to one host (0 = off). Enforced as a per-task token-bucket
      * min-gap of `hostMinDelayMs × fetchSplits`: a host spans at most
      * `fetchSplits` concurrent tasks, so the aggregate host rate is
      * bounded at ~1/hostMinDelayMs even when fetchSplits > 1 — the wall-
      * clock politeness floor the reference's `transitionDelay`
      * (src/route.js:59) paces only same-job pages for. Logical (step-
      * count) politeness — hostBudget, crawl-delay — is unchanged; this is
      * the real-time complement for production fetchers.
      */
    hostMinDelayMs: Int = 0,
    /** Keep AQE on inside supersteps. Default off: AQE materializes every
      * query stage as its own job, which at superstep cadence multiplies
      * scheduler+planning overhead ~2× (measured); skew is already handled
      * structurally by salting (Politeness phase 1). Set true on a real
      * cluster with multi-minute supersteps where AQE skew-join splitting
      * pays for itself.
      */
    aqeInSteps: Boolean = false,
    /** probe the seen-set via broadcast sketches while total size fits. */
    bloomBroadcastMaxBytes: Long = 256L << 20,
    /** Hash buckets (`pmod(urlKey, N)` partition dirs) of the finished-job
      * archive. The bloom-positive exact-seen probe prunes its archive scan
      * to the buckets of the positive keys instead of column-scanning every
      * archived key — at 10^10 finished URLs a per-step full scan of the
      * archive is a driver-cost cliff. 64 buckets ⇒ a probe of k keys reads
      * ≤ min(k, 64)/64 of the archive's files.
      */
    archiveBuckets: Int = 64,
    /** route every fetch through the dynamic fetcher — the reference's
      * FORCE_DYNAMIC env switch (spider.js:21,52). */
    forceDynamic: Boolean = false,
    /** Cap on fetch-stage tasks, as a multiple of shuffle partitions. The
      * actual task count adapts to the wave: ~[[fetchPagesPerTask]] pages
      * per task, floored at the shuffle-partition count and capped at
      * partitions × this factor. Page costs are heavy-tailed (encode/decode
      * varies with format and content) and big waves otherwise run as few
      * multi-second tasks whose last scheduling round idles most cores —
      * measured ~20% of fetch wall at 51k pages on 64 tasks/16 cores. The
      * exchanged rows are byte-free, so fine tasks cost only launches.
      */
    fetchTaskFactor: Int = 32,
    /** Target pages per fetch task (see [[fetchTaskFactor]]). */
    fetchPagesPerTask: Int = 128,
    /** Bound on the driver path of a superstep (see [[CrawlEngine.step]]).
      * A wave of at most `driverCollectMaxRows / 1024` rows (1,953 at the
      * default) runs on the driver: ONE collect of its byte-free outcome
      * metadata feeds the item decisions, spawn dedup and state rewrite.
      * The /1024 is the per-page envelope: a page yields at most ~1,024
      * items + links, so the rows such a step holds on the driver (wave
      * keys, item summaries, spawn candidates) stay under this bound. The
      * same `/ 1024` bound caps the driver-side frontier mirror: while the
      * pending frontier has at most that many rows, the driver holds it as
      * an array and builds the wave, the empty-wave skip-ahead and the
      * frontier rewrite with no Spark job. Larger waves run the distributed
      * plans (anti-joins + banded suppression + flag joins) and larger
      * frontiers the distributed wave — same semantics, no driver state, so
      * a 10^6-host frontier degrades to slower supersteps instead of a
      * driver OOM. Also caps the driver-side item-meta mirror. 0 forces
      * every superstep (and every seed list but an empty one) distributed;
      * tests use it to pin driver/distributed parity.
      */
    driverCollectMaxRows: Long = 2000000L)

/** Per-run roll-up returned by [[CrawlEngine.run]]. */
case class RunSummary(steps: Int, fetched: Long, items: Long, deadLettered: Long)

/** The BSP superstep crawl driver — the engine's analogue of the reference's
  * worker pool + poll loop (reference: src/nest.js:47-61, src/worker.js:86-162).
  *
  * Each superstep (one call to [[step]]):
  *
  *  1. politeness-scheduled wave off the frontier: a driver loop over the
  *     frontier mirror while the pending frontier has at most
  *     `driverCollectMaxRows / 1024` rows, else shuffle 1 (by salted host)
  *  2. `mapPartitions` fetch+extract, which WRITES its own outcomes (items
  *     + payload bytes) to the raw step table as it fetches — narrow,
  *     embarrassingly parallel, and the only pass that ever touches bytes
  *  3. item decisions over byte-free scans of the landed outcomes: winner
  *     pick + created/updated flags (shuffle 2: by item key) and phash
  *     near-dup suppression, persisted as equality-delete keys
  *  4. spawned-job dedup: bloom probe → exact anti-join on the survivors
  *     (shuffle 3: by urlKey)
  *  5. frontier/state/metrics rewrite + atomic snapshot commit (pipelined —
  *     overlaps the next superstep's wave + fetch)
  *
  * At most three shuffles per superstep, NONE carrying image bytes:
  * payloads go scraper → parquet inside the fetch task and are only re-read
  * by item consumers (merge-on-read). Every commit is a resume point: [[resume]]
  * continues from the latest snapshot with identical results (kill-safe via
  * the store's atomic rename).
  */
final class CrawlEngine(
    spark: SparkSession,
    routes: Map[String, RouteSpec],
    fetcher: Fetcher,
    robotsRules: Seq[RobotsRule],
    cfg: EngineConfig,
    hooks: WorkerHooks = WorkerHooks(),
    listeners: Seq[CrawlEngine.StepListener] = Nil) {

  import spark.implicits._

  private val store = new SnapshotStore(cfg.statePath)

  /** Run two independent Spark actions on concurrent threads and await both
    * (failures propagate). Superstep writes have no mutual dependencies, so
    * their planning/scheduling/IO latencies overlap instead of chaining.
    */
  private def inParallel(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // propagate the calling thread's scheduler pool: jobs submitted from EC
    // worker threads otherwise land in the default pool, where (FIFO) they
    // would serialize against foreground superstep jobs
    val pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    fs.map(f => Future {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      f()
    }).foreach(Await.result(_, Duration.Inf))
  }

  /** Per-superstep phase timing (env GRAFT_STEP_TIMING=1) — tuning aid for
    * the flat driver cost that bounds N→4N scaling efficiency. Off by
    * default; zero overhead beyond one branch when off.
    */
  private val stepTiming = sys.env.get("GRAFT_STEP_TIMING").contains("1")
  private def timed[T](name: String)(f: => T): T =
    if (!stepTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stepTiming] $name%-14s ${(System.nanoTime() - t0) / 1e6}%7.0f ms")
      r
    }

  /** Driver-side cache of the bloom shards (version → shards), valid only on
    * the broadcast-probe path. Skips the per-superstep parquet read+collect:
    * the shards written at step s are exactly the ones probed at s+1. Resume
    * in a fresh engine simply misses the cache and reads the snapshot.
    */
  private var shardCache: Option[(Int, Array[BloomShard])] = None

  // ---- pipelined commit ------------------------------------------------
  // The snapshot commit is crash-resume IO, not a dataflow dependency: the
  // next superstep plans entirely off in-memory checkpoints (frontier,
  // item-meta, bloom shards below), so step s+1's wave+fetch overlaps step
  // s's parquet writes instead of waiting on them. On a real cluster this
  // hides the object-store commit latency behind the next wave. At most ONE
  // commit is in flight; every DISK read of engine state awaits it first, so
  // public accessors and cache-miss paths (resume, distributed fallbacks)
  // always see the committed view. A background-commit failure surfaces at
  // the next await (step, accessor, or run() end) and fails the crawl.

  /** The previous superstep's commit, if still being written. */
  private var commitInFlight: Option[scala.concurrent.Future[Unit]] = None
  /** (version, step) of the latest ISSUED commit (possibly in flight) —
    * the in-memory twin of `store.latestVersion`/`stepOf`. */
  private var issuedState: Option[(Int, Int)] = None
  /** version → in-memory frontier of that version (a local checkpoint, or a
    * local relation over [[frontierLocal]]): the next superstep's wave
    * scans memory instead of re-reading the snapshot. */
  private var frontierCache: Option[(Int, Dataset[CrawlJob])] = None
  /** version → the rows of [[frontierCache]]'s Dataset, held on the driver
    * while the pending frontier has at most [[tinyCap]] rows (the
    * [[itemMetaLocal]] pattern): that superstep's wave, empty-wave
    * skip-ahead, exact-seen active leg and frontier rewrite run as driver
    * loops with zero Spark jobs, and the Dataset is a one-partition local
    * relation over the same rows. None for any other version.
    */
  private var frontierLocal: Option[(Int, Array[CrawlJob])] = None
  /** step → checkpointed (key, phash) of every item delta row up to step —
    * feeds near-dup suppression + created/updated flags without re-scanning
    * the delta dirs each superstep. Invalidated by [[compactItems]] (which
    * switches suppression to live-set semantics). */
  private var itemMetaCache: Option[(Int, DataFrame)] = None
  /** Driver-side mirror of [[itemMetaCache]]'s (key, phash) rows while the
    * landed-item count stays ≤ driverCollectMaxRows — the driver-path
    * suppression probe then runs with ZERO Spark jobs (the per-step
    * distributed existing-meta scan was the largest remaining flat cost of
    * a toy-scale superstep). None above the cap or after a distributed-path
    * step; the distributed probe takes over with identical semantics.
    */
  private var itemMetaLocal: Option[Array[(String, Long)]] = None

  /** Row bound of a driver-path wave (see
    * [[EngineConfig.driverCollectMaxRows]]); 0 when driverCollectMaxRows
    * forces everything distributed. */
  private def tinyCap: Long = cfg.driverCollectMaxRows / 1024

  /** The pending frontier is small enough for the driver mirror, and its
    * wave driver-sized by construction (see [[step]]). */
  private def tinyFrontier: Boolean =
    pendingCount > 0 && pendingCount <= tinyCap

  /** Make `rows` the frontier of version `ver`: its driver mirror and the
    * one-partition Dataset over it that the commit writes as one file. */
  private def mirrorFrontier(ver: Int, rows: Array[CrawlJob]): Dataset[CrawlJob] = {
    val ds = spark.createDataset(rows.toSeq).coalesce(1)
    frontierLocal = Some((ver, rows))
    frontierCache = Some((ver, ds))
    pendingCount = rows.length
    ds
  }

  // ---- exact driver-side run accounting --------------------------------
  // Maintained while every superstep since seed() ran in THIS engine
  // instance on the driver path: unfinished-frontier count (lets
  // run() stop without one final empty-wave probe — wave build + count +
  // pending-min agg, ~1 s of pure flat cost) and the [[RunSummary]] tallies
  // (fetched = Σ wave sizes; items = Σ created flags, exact because a key
  // is "created" exactly once; dead letters off the outcome metadata). Any
  // step that can't account exactly (distributed path, resume into a
  // fresh engine) flips the state to unknown and the log-based paths take
  // over — identical values, a few extra jobs.
  private var pendingCount: Long = -1L // unfinished frontier rows; -1 unknown
  private var acctValid = false
  private var fetchedAcc = 0L
  private var itemsAcc = 0L
  private var dlAcc = 0L

  /** A failed background commit POISONS the engine: the in-memory twin
    * (issuedState/frontierCache/shardCache) is already at v+1 but v+1's
    * step dirs were never written, so continuing would commit v+2 over a
    * hole (suppressed items resurrecting, a silently lost fetch-log step).
    * The failure is latched and rethrown from EVERY subsequent await — a
    * caller that catches the first throw cannot step() past it. Recovery =
    * a fresh engine resume()d from the last committed snapshot.
    */
  private var commitFailed: Option[Throwable] = None

  private def awaitCommit(): Unit = {
    commitFailed.foreach(e => throw new IllegalStateException(
      "engine poisoned by an earlier background-commit failure; " +
        "resume() a fresh engine from the last committed snapshot", e))
    commitInFlight.foreach { f =>
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      try Await.result(f, Duration.Inf)
      catch { case e: Throwable => commitFailed = Some(e); throw e }
      finally commitInFlight = None
    }
  }

  /** Superstep-scoped session conf (restored after): see
    * [[EngineConfig.aqeInSteps]]. The fetch stage's parallelism is pinned by
    * an explicit repartition count (Politeness.wave) either way.
    * `shuffleParts`, when set, also narrows `spark.sql.shuffle.partitions`
    * for the step — a tiny pending frontier otherwise pays full-width
    * exchanges (32 near-empty tasks per politeness window) purely in
    * scheduler latency.
    */
  private def withStepConf[T](shuffleParts: Option[Int])(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prevA = spark.conf.getOption(aqeKey)
    val prevS = spark.conf.getOption(spKey)
    spark.conf.set(aqeKey, cfg.aqeInSteps.toString)
    shuffleParts.foreach(p => spark.conf.set(spKey, p.toString))
    def restore(k: String, prev: Option[String]): Unit = prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
    try body
    finally { restore(aqeKey, prevA); restore(spKey, prevS) }
  }

  private def withEngineConf[T](body: => T): T = withStepConf(None)(body)

  private val routesBc = spark.sparkContext.broadcast(routes)
  private val fetcherBc = spark.sparkContext.broadcast(fetcher)
  private val hooksBc = spark.sparkContext.broadcast(hooks)
  private val routeCaps: Map[String, Int] = routes.map { case (k, r) => k -> r.concurrency }
  private val hostDelay: Map[String, Int] = Robots.delayByHost(robotsRules)

  // ---- state table IO -------------------------------------------------

  // explicit schemas skip per-read footer-inference jobs (one driver-side
  // Spark job per read.parquet call otherwise — material at superstep rate)
  private val jobSchema = org.apache.spark.sql.Encoders.product[CrawlJob].schema
  private val shardSchema = org.apache.spark.sql.Encoders.product[BloomShard].schema
  private val itemSchema = org.apache.spark.sql.Encoders.product[ImageItem].schema
  private val fetchLogSchema = org.apache.spark.sql.Encoders.product[FetchLog].schema
  private def dropStep(t: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(t.filterNot(_.name == "step"))

  // every state read off DISK awaits the in-flight commit (see "pipelined
  // commit" above) — files of the issued version may still be being written
  private def readFrontier(v: Int): Dataset[CrawlJob] = {
    awaitCommit()
    spark.read.schema(jobSchema).parquet(store.tablePath(v, "frontier")).as[CrawlJob]
  }
  private def readBloom(v: Int): Dataset[BloomShard] = {
    awaitCommit()
    spark.read.schema(shardSchema).parquet(store.tablePath(v, "bloom")).as[BloomShard]
  }

  // Raw step outcomes and observability logs are APPEND-ONLY side tables,
  // written once per superstep into step=N partition dirs and never
  // rewritten (Iceberg merge-on-read shape: O(step) IO instead of
  // O(items·steps) copy-on-write). The raw outcome table is written BY THE
  // FETCH JOB ITSELF — image bytes flow scraper → parquet in the fetching
  // task, never held across a stage boundary — and doubles as the item
  // delta: readers pick each (step, key)'s winning row and drop that step's
  // suppressed keys (the small `items_deletes` side table — Iceberg
  // equality-delete shape). Only {frontier, bloom} — the resume-critical
  // state — are snapshot-versioned; readers filter partitions to the
  // committed step, so an uncommitted step dir from a killed run is
  // invisible (cleaned and deterministically rewritten on resume).
  private def rawDir = s"${cfg.statePath}/items_raw"
  private def suppressedDir = s"${cfg.statePath}/items_deletes"
  private def itemsBaseDir = s"${cfg.statePath}/items_base"
  // Finished jobs leave the versioned frontier for this append-only archive
  // (one step dir per superstep, written in the pipelined commit). The hot
  // frontier — scanned, rewritten and snapshotted EVERY superstep — stays
  // O(pending jobs); a months-long 10^10-URL crawl would otherwise pay
  // O(all jobs ever) per step on each of those. The archive is read only by
  // the [[frontier]] accessor (union view) and by the seen-set EXACT check.
  // Each step dir is sub-partitioned by `bucket = pmod(urlKey,
  // archiveBuckets)`, so the bloom-positive probe PRUNES to the buckets of
  // its positive keys (asserted by PlanSpec) instead of scanning every
  // archived key — the remaining O(all-jobs-ever) term of a superstep.
  private def archiveDir = s"${cfg.statePath}/jobs_done"

  private def writeArchive(finished: DataFrame, step: Int): Unit = {
    // Repartition ON the bucket column first: without it every input task
    // opens a writer per bucket it sees, so a W-task wave archives up to
    // W × archiveBuckets tiny files per step (measured ~25k files on the
    // 51k-row bench wave — a flat, core-count-independent commit cost that
    // alone broke the N→4N scaling gate). Hash-partitioning by bucket puts
    // each bucket in exactly one task ⇒ ≤ archiveBuckets files per step,
    // and the shuffled rows are byte-free job rows (cheap).
    val parts = math.min(cfg.archiveBuckets,
      math.max(1, spark.sessionState.conf.numShufflePartitions))
    finished
      .withColumn("bucket", pmod(col("urlKey"), lit(cfg.archiveBuckets)).cast("int"))
      .repartition(parts, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$archiveDir/step=$step")
  }

  /** The archive rows up to `upToStep`, with `bucket`+`step` partition
    * columns exposed for pruning; None when nothing is archived yet.
    * Callers must [[awaitCommit]] first (a commit appends a step dir).
    */
  private def readArchive(upToStep: Int): Option[DataFrame] = {
    if (graft.state.StateIO.listNames(archiveDir).isEmpty) None
    else Some(spark.read.schema(jobSchema.add("bucket", "int").add("step", "int"))
      .parquet(archiveDir).filter(col("step") <= upToStep))
  }

  private def bucketOf(k: Long): Int =
    (((k % cfg.archiveBuckets) + cfg.archiveBuckets) % cfg.archiveBuckets).toInt

  /** The exact-seen probe's archive leg: scan ONLY the bucket partitions the
    * sorted bloom-positive keys hash to, then filter to those keys. Package-
    * visible so PlanSpec can assert the pruning on the plan it executes.
    */
  private[graft] def archiveProbePlan(posSorted: Array[Long], upToStep: Int)
      : Option[DataFrame] =
    readArchive(upToStep).map { a =>
      val buckets = posSorted.map(bucketOf).distinct.toSeq
      val posBc = spark.sparkContext.broadcast(posSorted)
      val inPos = udf((k: Long) =>
        java.util.Arrays.binarySearch(posBc.value, k) >= 0)
      a.filter(col("bucket").isin(buckets: _*))
        .select(col("urlKey")).filter(inPos(col("urlKey")))
    }
  private def logDir(name: String) = s"${cfg.statePath}/logs/$name"

  private val outcomeSchema =
    org.apache.spark.sql.Encoders.product[graft.fetch.StepOutcome].schema
  private val suppressedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType)))

  /** Highest compacted-base step (see [[compactItems]]); -1 = no base. */
  private def latestBaseStep: Int = {
    val steps = graft.state.StateIO.listNames(itemsBaseDir)
      .collect { case n if n.startsWith("step=") => n.substring(5).toInt }
    if (steps.isEmpty) -1 else steps.max
  }

  private def readStepPartitioned(base: String, upToStep: Int,
      dataSchema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    if (graft.state.StateIO.listNames(base).isEmpty) None
    else Some(spark.read.schema(dataSchema.add("step", "int"))
      .parquet(base).filter(col("step") <= upToStep))
  }

  /** Item deltas, reconstructed at READ time from the raw outcome table:
    * per (step, key) the winning row — lowest (srcJob, image_id, position),
    * the same deterministic pick the write-side made when deltas were
    * pre-filtered — minus that step's equality-deleted (suppressed) keys.
    * Payload bytes are re-zipped from the split `itemBytes` column, so a
    * byte-free caller (e.g. the suppression meta scan) never reads them.
    */
  private def readItemDeltas(upToStep: Int, withBytes: Boolean = true)
      : Dataset[ImageItem] = {
    awaitCommit()
    val b = latestBaseStep
    val base =
      if (b >= 0)
        Some(spark.read.schema(itemSchema)
          .parquet(s"$itemsBaseDir/step=$b").as[ImageItem])
      else None
    val deltas = readStepPartitioned(rawDir, upToStep, outcomeSchema).map { raw =>
      val stepped = raw.filter(col("step") > b)
      // metadata-only readers (suppression meta, counts) skip the payload
      // zip entirely so the parquet scan never touches the byte column
      val items =
        if (withBytes) stepped
          .select(col("step"), col("job.urlKey").as("srcJob"),
            posexplode(arrays_zip(col("items"), col("itemBytes"))).as(Seq("pos", "z")))
          .select(col("step"), col("srcJob"), col("pos"),
            col("z.items").as("item"), col("z.itemBytes").as("payload"))
        else stepped
          .select(col("step"), col("job.urlKey").as("srcJob"),
            posexplode(col("items")).as(Seq("pos", "item")))
          .withColumn("payload", lit(Array.emptyByteArray))
      val kept = readStepPartitioned(suppressedDir, upToStep, suppressedSchema) match {
        case Some(sup) => items.join(
          sup.select(col("step").as("sstep"), col("key").as("skey")),
          col("step") === col("sstep") && col("item.key") === col("skey"),
          "left_anti")
        case None => items
      }
      kept
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("step"), col("item.key"))
            .orderBy(col("srcJob").asc,
              coalesce(col("item.image_id"), lit("")).asc, col("pos").asc)))
        .filter(col("rn") === 1)
        .select(col("item.*"), col("payload"), col("step"))
        .drop("bytes", "createdStep")
        .withColumnRenamed("payload", "bytes")
        .withColumnRenamed("step", "createdStep")
        .as[ImageItem]
    }
    (base, deltas) match {
      case (Some(x), Some(y)) => x.unionByName(y)
      case (Some(x), None) => x
      case (None, Some(y)) => y
      case _ => spark.emptyDataset[ImageItem]
    }
  }

  private def readFetchLogUpTo(upToStep: Int): Dataset[FetchLog] = {
    awaitCommit()
    readStepPartitioned(logDir("fetchlog"), upToStep, dropStep(fetchLogSchema))
      .map(_.as[FetchLog]).getOrElse(spark.emptyDataset[FetchLog])
  }

  /** Remove step partitions newer than the committed step (left by a killed
    * run between the raw-outcome/log writes and the snapshot commit).
    */
  private def cleanStale(base: String, committed: Int): Unit =
    graft.state.StateIO.listNames(base).foreach { n =>
      if (n.startsWith("step=") && n.substring(5).toInt > committed)
        graft.state.StateIO.deleteRec(s"$base/$n")
    }

  def currentVersion: Option[Int] = { awaitCommit(); store.latestVersion }

  private lazy val manifestMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def stepOf(v: Int): Int = {
    // structured parse of the store's JSON manifest (it IS JSON — a regex
    // scrape would silently break when fields are added or reordered)
    val node = manifestMapper.readTree(store.manifest(v)).get("step")
    if (node == null || !node.isNumber)
      throw new IllegalStateException(s"manifest of v$v lacks step")
    node.asInt()
  }

  /** All jobs ever enqueued: the active (unfinished) frontier plus the
    * finished-job archive — the union view matching the reference's single
    * jobs collection.
    */
  def frontier: Dataset[CrawlJob] = {
    val v = currentVersion.get
    val active = readFrontier(v)
    readArchive(stepOf(v)) match {
      case Some(a) => active.unionByName(a.drop("step", "bucket").as[CrawlJob])
      case None => active
    }
  }
  def items: Dataset[ImageItem] =
    Items.resolve(readItemDeltas(stepOf(currentVersion.get)))
  def fetchLog: Dataset[FetchLog] = readFetchLogUpTo(stepOf(currentVersion.get))

  /** Read-time aggregation of the fetch log (see [[FetchLog]]). */
  def metrics: Dataset[StepMetrics] =
    fetchLog.groupBy(col("step"), col("host"))
      .agg(count(lit(1)).as("fetched"),
        sum(when(col("action") === "ok", 1L).otherwise(0L)).as("ok"),
        sum(when(col("status") >= 400, 1L).otherwise(0L)).as("errors"),
        sum(when(col("action") === "retry", 1L).otherwise(0L)).as("retried"),
        sum(when(col("status") >= 400 && col("action") === "stop", 1L).otherwise(0L))
          .as("deadLettered"),
        sum(col("itemsCreated")).as("itemsCreated"),
        sum(col("itemsUpdated")).as("itemsUpdated"),
        sum(col("spawnCount").cast("long")).as("jobsSpawned"))
      .as[StepMetrics]

  /** Read-time filter of the fetch log: permanently-failed fetches. */
  def deadLetters: Dataset[DeadLetter] =
    fetchLog.filter(col("status") >= 400 && col("action") === "stop")
      .select(col("urlKey"), col("url"), col("host"),
        col("routeId"), col("status"), col("errorCount"), col("step"))
      .as[DeadLetter]

  // ---- seeding --------------------------------------------------------

  /** Initialize snapshot v0 from seed (routeId, url) pairs — the analogue of
    * `nest.queue(routeKey, url)` (reference: src/nest.js:86-97):
    * canonicalize, dedup, robots-filter, land as the v0 frontier.
    */
  def seed(seeds: Seq[(String, String)]): Unit =
    seedResolved(seeds.map { case (r, u) => (r, u, Map.empty[String, String]) })

  /** Query-parameterized enqueue — the reference's PRIMARY seeding surface
    * `nest.queue(routeKey, {query})` (src/nest.js:86-97): the job's URL is
    * built from the route's template over the query params
    * (`route.getUrl(job)`, src/route.js:31-37). Identity is
    * xxhash64(canonical(built url)), exactly like raw-URL seeds.
    */
  def seedQueries(seeds: Seq[(String, Map[String, String])]): Unit =
    seedResolved(seeds.map { case (r, q) =>
      val route = routes.getOrElse(r,
        throw new IllegalArgumentException(s"Route $r does not exist"))
      (r, route.urlTemplate(q), q)
    })

  private def seedResolved(seeds: Seq[(String, String, Map[String, String])]): Unit =
    withEngineConf {
    awaitCommit()
    issuedState = None; frontierCache = None; frontierLocal = None
    itemMetaCache = None; shardCache = None; itemMetaLocal = None
    val seedJobs = seeds.toDF("routeId", "rawUrl", "query")
      .withColumn("url", graft.canon.CanonUdfs.canon_url(col("rawUrl")))
      .withColumn("host", graft.canon.CanonUdfs.url_host(col("url")))
      .withColumn("urlKey", xxhash64(col("url")))
    val deduped = seedJobs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("urlKey")).orderBy(col("routeId"))))
      .filter(col("rn") === 1).drop("rn", "rawUrl")
    val allowedSeeds = Robots.allowed(deduped, robotsRules)
    val prioByRoute = typedLit(routes.map { case (k, r) => k -> r.priority })
    val jobs = allowedSeeds
      .withColumn("priority", coalesce(element_at(prioByRoute, col("routeId")), lit(50)))
      .select(col("urlKey").as("_1"), col("url").as("_2"), col("host").as("_3"),
        col("routeId").as("_4"), col("priority").cast("int").as("_5"),
        col("query").as("_6"))
      .as[(Long, String, String, String, Int, Map[String, String])]
      .map { case (k, u, h, r, p, q) => CrawlJob(k, u, h, r, priority = p, query = q) }

    acctValid = true
    fetchedAcc = 0L; itemsAcc = 0L; dlAcc = 0L
    if (seeds.size <= tinyCap) {
      // small-seed fast path: ONE Spark job evaluates the (local-relation)
      // canon/dedup/robots plan; the bloom shards are built driver-side and
      // both state tables land coalesced. The seed ALSO primes the frontier
      // mirror and the shard cache, so step 1 never re-reads the v0 snapshot.
      val jobsArr = jobs.collect()
      val byPid = jobsArr.map(_.urlKey)
        .groupBy(k => BloomSeen.pidOf(k, cfg.bloomPartitions))
      val shards = BloomSeen
        .emptyLocal(cfg.bloomPartitions, cfg.bloomCapacityPerShard, cfg.bloomFpp)
        .map(sh => byPid.get(sh.pid)
          .map(ks => BloomSeen.insertLocal(sh, ks)).getOrElse(sh))
      val frontierDs = mirrorFrontier(0, jobsArr)
      store.commit(0, SnapshotStore.manifestJson(
        "version" -> 0, "step" -> -1, "frontier" -> jobsArr.length)) { dir =>
        inParallel(
          () => frontierDs.write.parquet(s"$dir/frontier"),
          () => spark.createDataset(shards.toSeq).coalesce(1)
            .write.parquet(s"$dir/bloom"))
      }
      shardCache = Some((0, shards))
    } else {
      val jobsP = jobs.persist(StorageLevel.MEMORY_AND_DISK)
      val n = jobsP.count()
      pendingCount = n
      val bloom = BloomSeen.insert(
        BloomSeen.empty(spark, cfg.bloomPartitions, cfg.bloomCapacityPerShard, cfg.bloomFpp),
        jobsP.map(_.urlKey), cfg.bloomPartitions)
      store.commit(0, SnapshotStore.manifestJson(
        "version" -> 0, "step" -> -1, "frontier" -> n)) { dir =>
        jobsP.write.parquet(s"$dir/frontier")
        bloom.write.parquet(s"$dir/bloom")
      }
      jobsP.unpersist()
    }
    // synchronous commit — the in-memory twin is immediately valid, and its
    // presence marks this engine as fresh-from-seed (vs resumed from disk)
    issuedState = Some((0, -1))
  }

  // ---- one superstep --------------------------------------------------

  /** Execute the next superstep. Returns false (and commits nothing) when no
    * eligible work remains — the analogue of the worker's empty-poll exit
    * (reference: src/worker.js:108-110).
    *
    * The wave comes off the frontier mirror ([[frontierLocal]]) with no
    * Spark job while the pending frontier has at most [[tinyCap]] rows; the
    * empty-wave skip-ahead, the exact-seen probe's active leg and the
    * frontier rewrite then run on the driver too, and a rewritten frontier
    * within the bound stays mirrored. A larger frontier takes the salted
    * [[Politeness.wave]] and a local checkpoint; it re-enters the mirror
    * (one collect) at the first rewrite that brings it within the bound,
    * and a resumed engine adopts a snapshot within it (one bounded collect).
    *
    * Once the wave is built, the superstep takes one of two paths:
    *  - driver path: the wave has at most [[tinyCap]] =
    *    `driverCollectMaxRows / 1024` rows and the bloom sketch fits
    *    `bloomBroadcastMaxBytes`. ONE job collects the landed outcomes'
    *    byte-free metadata; item decisions, spawn dedup, job-state updates,
    *    fetch log and archive rows are driver loops over that array feeding
    *    local relations. A page yields at most ~1,024 items + links, so
    *    everything the driver holds stays under driverCollectMaxRows rows.
    *  - distributed path: every other wave — banded suppression join,
    *    windowed winners, bloom cogroup, flag join and frontier anti-join;
    *    same semantics, no driver state.
    * Both run the same transition ([[CrawlEngine.advance]] /
    * [[CrawlEngine.logRow]]), so a crawl may switch paths between steps.
    */
  def step(): Boolean = withStepConf(
    // tiny pending frontier ⇒ narrow the step's exchanges to ~pendingCount
    // tasks: full-width 32-task windows over a 20-row frontier cost pure
    // scheduler latency. Unknown or large pendingCount leaves the session
    // width untouched (bench/production scale, distributed-forced tests).
    if (tinyFrontier)
      Some(math.min(spark.sessionState.conf.numShufflePartitions.toLong,
        pendingCount).toInt)
    else None) {
    // in-memory twin of the store's (version, step) — valid even while the
    // previous commit is still in flight; a resumed engine reads disk (and
    // cannot account exactly — its history is in the logs, not this JVM)
    val (v, committed) = issuedState.getOrElse {
      val v0 = currentVersion.getOrElse(
        throw new IllegalStateException("seed() first — no snapshot"))
      pendingCount = -1L
      acctValid = false
      (v0, stepOf(v0))
    }
    // exact early exit: nothing unfinished in the frontier ⇒ the next wave
    // is empty by construction — skip the wave-build/count/pending probe
    if (pendingCount == 0L) return false
    var s = committed + 1
    // safe without awaiting the in-flight commit: it writes step=committed
    // dirs, and cleanStale only removes step > committed. The raw outcome
    // dir of the step being built is written BEFORE its commit (by the
    // fetch job itself) — a kill in that window leaves a stale step dir
    // that this sweep removes on resume.
    Seq(rawDir, suppressedDir, archiveDir, logDir("fetchlog"))
      .foreach(cleanStale(_, committed))

    // The frontier of version v, and its driver mirror when it has one. A
    // cache miss (the first step after resume()) reads the snapshot and, when
    // the pending count is unknown or within the bound, adopts it as the
    // mirror with one bounded collect.
    val (front, frontLocal) = timed("wave")(frontierCache match {
      case Some((`v`, f)) => (f, frontierLocal.collect { case (`v`, rows) => rows })
      case _ =>
        val disk = readFrontier(v)
        val adopted =
          if (tinyCap > 0 && pendingCount <= tinyCap)
            Some(disk.limit(math.min(tinyCap + 1, Int.MaxValue).toInt).collect())
              .filter(_.length <= tinyCap)
          else None
        adopted match {
          case Some(rows) => (mirrorFrontier(v, rows), adopted)
          case None => (disk, None)
        }
    })
    // A mirrored frontier ⇒ the wave is a driver loop (no Spark job) and the
    // fetch stage repartitions a local relation. Other frontiers take an
    // eager localCheckpoint (truncates lineage so every downstream action
    // analyzes a shallow scan — catalyst planning was ~half of superstep
    // wall clock before it) + a cheap count.
    def buildWave(atStep: Int): (Dataset[CrawlJob], Long) = frontLocal match {
      case Some(rows) =>
        val w = Politeness.waveLocal(rows, atStep, cfg.hostBudget, routeCaps,
          cfg.disabledRoutes, hooks.jobFilter)
        (spark.createDataset(w.toSeq), w.length.toLong)
      case None =>
        val w = Politeness.wave(front, atStep, cfg.hostBudget, routeCaps,
          cfg.disabledRoutes, cfg.saltBuckets, hooks.jobFilter).localCheckpoint(true)
        (w, w.count())
    }
    var (wave, waveN) = timed("wave")(buildWave(s))
    if (waveN == 0) {
      // Nothing eligible *now*, but retry-backoff / crawl-delay jobs may be
      // waiting on a future step — jump the clock to the earliest one (the
      // analogue of the reference worker's idle poll-sleep, worker.js:108-110).
      wave.unpersist()
      val pending: Option[Int] = frontLocal match {
        case Some(rows) => rows.iterator
          .filter(j => !j.state.finished && !cfg.disabledRoutes(j.routeId))
          .map(_.notBeforeStep).minOption
        case None =>
          val row = front
            .filter(!col("state.finished"))
            .filter(if (cfg.disabledRoutes.isEmpty) lit(true)
                    else !col("routeId").isin(cfg.disabledRoutes.toSeq: _*))
            .agg(min(col("notBeforeStep"))).head()
          if (row.isNullAt(0)) None else Some(row.getInt(0))
      }
      if (pending.isEmpty) return false
      val nxt = pending.get
      if (nxt <= s) return false // safety: no forward progress possible
      s = nxt
      val (w2, n2) = buildWave(s)
      wave = w2; waveN = n2
      if (waveN == 0) { wave.unpersist(); return false }
    }
    val stepNow = s
    // the superstep's one path decision (see the scaladoc above)
    val sketchBytes = cfg.bloomPartitions *
      BloomSeen.estimatedShardBytes(cfg.bloomCapacityPerShard, cfg.bloomFpp)
    val onDriver = waveN <= tinyCap && sketchBytes <= cfg.bloomBroadcastMaxBytes

    // -- fetch+extract -----------------------------------------------------
    // Rebalance the SELECTED wave before fetching (see EngineConfig
    // .fetchSplits): cheap exchange of byte-free rows, caps the placement
    // tail that otherwise sets the fetch stage's wall clock.
    val fetchParts = {
      val base = spark.sessionState.conf.numShufflePartitions
      val byWave = ((waveN + cfg.fetchPagesPerTask - 1) / cfg.fetchPagesPerTask).toInt
      // floor at min(base, waveN): a 19-row wave gets ≤19 tasks, not the
      // full shuffle-partition count of near-empty launches (a fixed floor
      // doubled toy-scale superstep cost); big waves keep the adaptive
      // ~pagesPerTask sizing capped at base × factor
      val floor = math.max(1L, math.min(base.toLong, waveN)).toInt
      math.max(floor, math.min(base * cfg.fetchTaskFactor, byWave))
    }
    val waveFetch = wave.repartition(fetchParts,
      col("host"), pmod(col("urlKey"), lit(cfg.fetchSplits)))
    // The fetch job WRITES its outcomes as it produces them: payload bytes
    // flow scraper → parquet inside the fetching task (uncompressed — the
    // payloads are already PNG/JPEG-compressed) and never occupy executor
    // memory past that task. Every later pass re-reads the landed table
    // column-pruned (the byte column is top-level — see StepOutcome), so
    // "plan the rest of the superstep" costs narrow scans, not a multi-GB
    // in-memory checkpoint. The dir is invisible to readers until the
    // snapshot commit below (readers filter to committed steps).
    val rawPath = s"$rawDir/step=$stepNow"
    timed("fetch")(
      FetchStage.run(waveFetch, routesBc, fetcherBc, hooksBc, cfg.forceDynamic,
          cfg.hostMinDelayMs.toLong * math.max(1, cfg.fetchSplits))
        .write.mode("overwrite").option("compression", "uncompressed")
        .parquet(rawPath))
    val outcomes = spark.read.schema(outcomeSchema).parquet(rawPath)

    // -- tiny-wave fast path, i.e. the driver path: ONE job collects the
    // step's ENTIRE byte-free outcome metadata. The run accounting, item
    // tuples, spawn candidates, wave keys, job-state updates, fetch-log and
    // archive rows are all derived from this single array. None on the
    // distributed path.
    val metaLocal: Option[Array[CrawlEngine.OutcomeMeta]] =
      if (!onDriver) None
      else Some(timed("meta.collect")(outcomes
        .select(col("job"), col("status"), col("action"), col("hasNextPage"),
          col("newState"), col("spawned"),
          expr("transform(items, (it, i) -> named_struct(" +
            "'_1', i, '_2', it.key, '_3', coalesce(it.image_id, ''), " +
            "'_4', it.phash))").as("itemMeta"))
        .as[CrawlEngine.OutcomeMeta].collect()))
    // this step's dead letters + continuing jobs for the run accounting;
    // -1 (unknown) on the distributed path
    val (dlStep, contStep) = timed("probe")(metaLocal match {
      case Some(rows) =>
        (rows.count(r => r.status >= 400 && r.action == "stop").toLong,
          rows.count(r => r.action == "retry" ||
            (r.action == "ok" && r.hasNextPage)).toLong)
      case None => (-1L, -1L)
    })

    // -- items path (raw outcomes + equality deletes; merge-on-read) -----
    // The bytes are already landed; this phase only DECIDES — winner pick,
    // created-vs-updated flags, phash near-dup suppression — and persists
    // the decisions as small byte-free side outputs (the winner pick is
    // re-derived deterministically at read time; suppression lands as the
    // step's equality-delete keys). The driver path decides over the meta
    // array's (srcJob, key, image_id, phash) summaries; the distributed
    // path runs the same decisions as a banded suppression join + per-key
    // winner window + flag aggregation. Every scan below reads only
    // byte-free top-level columns of the raw outcome table (the payload
    // column is never touched).
    // (key, phash) of every existing item row — cache hit in steady state
    // (maintained below each step); none before the first commit (the
    // fetch job has just created the raw dir, but no step is committed);
    // miss = resume, one checkpointed read of the delta dirs (awaits any
    // in-flight commit)
    val existingMeta: DataFrame = itemMetaCache match {
      case Some((`committed`, df)) => df
      case _ if committed < 0 =>
        itemMetaLocal = Some(Array.empty)
        Seq.empty[(String, Long)].toDF("key", "phash")
      case _ =>
        itemMetaLocal = None // stale vs the freshly-rebuilt cache
        val df = readItemDeltas(committed, withBytes = false)
          .select(col("key"), col("phash"))
          .toDF().localCheckpoint(true)
        // resume-time one-off: repopulate the driver mirror while small,
        // so subsequent driver-path steps probe with zero Spark jobs
        if (onDriver && df.count() <= cfg.driverCollectMaxRows)
          itemMetaLocal = Some(df.as[(String, Long)].collect())
        df
    }

    // (flags: Left = each outcome with its (created, updated) counts,
    // Right = DataFrame (srcJob, created, updated); distributed-path
    // winners checkpoint; this step's landed (key, phash) rows for the
    // item-meta cache; this step's suppressed keys — the equality-delete
    // rows the commit persists so readers drop them from the already-landed
    // raw outcomes)
    val (flagged: Either[Array[(CrawlEngine.OutcomeMeta, (Long, Long))], DataFrame],
         winnersCkpt: Option[DataFrame],
         newMetaOpt: Option[DataFrame],
         newMetaLocal: Option[Array[(String, Long)]],
         suppressedOut: Option[DataFrame]) = timed("items")(metaLocal match {
      case Some(rows) =>
        // (srcJob, pos, key, image_id, phash)
        val itemTups: Array[(Long, Int, String, String, Long)] =
          rows.iterator.flatMap(r => r.itemMeta.iterator
            .map(m => (r.job.urlKey, m._1, m._2, m._3, m._4))).toArray
        // existing side: the driver mirror when valid (zero Spark jobs),
        // else the distributed (key, phash) scan
        val existingSide =
          if (itemTups.isEmpty) None else Some(itemMetaLocal.toLeft(existingMeta))
        val (suppressedKeys, existedKeys) = Items.suppressAndSeenSets(
          itemTups.map(t => (t._1, t._3, t._4, t._5)), existingSide,
          cfg.phashThreshold)
        val keepTups = itemTups.filterNot { case (_, _, k, _, _) => suppressedKeys(k) }
        // one winner per key — lowest (srcJob, image_id, pos): the ONE
        // canonical ordering, identical to the read-side ranking window
        // and the distributed twin below
        val winnersFull: Map[String, (Long, String, Int, Long)] =
          keepTups.groupBy(_._3).map {
            case (k, rows) => k -> rows.iterator.map(r => (r._1, r._4, r._2, r._5))
              .minBy(t => (t._1, t._2, t._3))
          }
        val flagBySrc: Map[Long, (Long, Long)] = winnersFull.groupBy(_._2._1).map {
          case (src, ws) =>
            val created = ws.count { case (k, _) => !existedKeys(k) }
            src -> (created.toLong, (ws.size - created).toLong)
        }
        val nmPairs = winnersFull.iterator.map { case (k, w) => (k, w._4) }.toArray
        val nm = if (nmPairs.isEmpty) None else Some(nmPairs.toSeq.toDF("key", "phash"))
        val sup =
          if (suppressedKeys.isEmpty) None
          else Some(suppressedKeys.toSeq.toDF("key"))
        (Left(rows.map(r => (r, flagBySrc.getOrElse(r.job.urlKey, (0L, 0L))))),
          None, nm, if (nmPairs.isEmpty) None else Some(nmPairs), sup)
      case None =>
        // carries the in-page position so the winner pick below uses the
        // ONE canonical ordering (srcJob, image_id, pos) — identical to the
        // read-side re-derivation in readItemDeltas; a divergent tiebreak
        // (e.g. phash) would let the landed item's phash differ from the one
        // recorded in the item-meta cache, corrupting later near-dup votes
        // and breaking resume-identical parity
        val itemMetaDf = outcomes
          .select(col("job.urlKey").as("srcJob"), posexplode(expr(
            "transform(items, it -> named_struct(" +
              "'key', it.key, 'image_id', it.image_id, 'phash', it.phash))"))
            .as(Seq("pos", "it")))
          .select(col("srcJob"), col("pos"), col("it.key").as("key"),
            coalesce(col("it.image_id"), lit("")).as("image_id"),
            col("it.phash").as("phash"))
        // The suppressed plan reads only stable inputs (the landed raw table
        // + the meta cache), so the background commit re-executes it safely.
        val suppressed = Items.suppressedKeyDf(
          itemMetaDf, Some(existingMeta), cfg.phashThreshold,
          broadcastIncoming = false)
        val keptMeta = itemMetaDf.join(suppressed, Seq("key"), "left_anti")
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"))
          .orderBy(col("srcJob").asc, col("image_id").asc, col("pos").asc)
        // reused by the flag agg, the delta semi-join AND the item-meta
        // cache update (key, phash) → checkpoint once
        val winnersDf = keptMeta
          .withColumn("rn", row_number().over(win))
          .filter(col("rn") === 1).drop("rn")
          .localCheckpoint(true)
        val existed = coalesce(col("existed"), lit(false))
        val flagDf = winnersDf
          .join(existingMeta.select(col("key")).distinct()
            .withColumn("existed", lit(true)), Seq("key"), "left")
          .groupBy(col("srcJob"))
          .agg(sum(when(existed, 0L).otherwise(1L)).as("created"),
            sum(when(existed, 1L).otherwise(0L)).as("updated"))
        (Right(flagDf), Some(winnersDf),
          Some(winnersDf.select(col("key"), col("phash"))), None,
          if (cfg.phashThreshold < 0) None else Some(suppressed))
    })

    // -- item-meta cache update (backs the next superstep's suppression) --
    val (staleMeta: Option[DataFrame], mergedMeta: DataFrame) = newMetaOpt match {
      case Some(n) =>
        (Some(existingMeta), existingMeta.unionByName(n).localCheckpoint(true))
      case None => (None, existingMeta)
    }
    itemMetaCache = Some((stepNow, mergedMeta))
    // driver mirror follows the cache exactly; any case it cannot mirror
    // (distributed-path step, cap breach) drops it — the distributed probe
    // then serves subsequent steps with identical semantics
    if (newMetaOpt.nonEmpty) itemMetaLocal = (itemMetaLocal, newMetaLocal) match {
      case (Some(o), Some(n))
        if o.length.toLong + n.length <= cfg.driverCollectMaxRows => Some(o ++ n)
      case _ => None
    }

    // -- spawned-jobs path: the driver path runs resolve → canonicalize →
    // xxhash64 → dedup → robots as a driver loop over the meta array, then
    // probes the driver-side bloom shards; the distributed path runs the
    // same pipeline as a plan over the landed outcomes and probes by
    // cogroup. UrlCanon/urlKeyScala/allowedLocal are the exact functions the
    // plan's expressions evaluate — pinned by the path-switching parity test.
    var allowedJobsCkpt: Option[DataFrame] = None
    // (fresh rows; on the driver path also the probed shards + fresh jobs)
    val (fresh: Dataset[CrawlJob], freshLocal: Option[(Array[BloomShard], Array[CrawlJob])]) =
      timed("spawn")(metaLocal match {
        case Some(rows) =>
          val shards = shardCache.collect { case (`v`, sh) => sh }
            .getOrElse(readBloom(v).collect())
          val raw = rows.iterator.flatMap(_.spawned.iterator
              .map(s => (s.routeId, s.url, s.query))) ++
            rows.iterator.filter(_.action.startsWith("redirect:"))
              .map(r => (r.job.routeId, r.action.substring("redirect:".length),
                Map.empty[String, String]))
          val resolved = raw.filter(t => routes.contains(t._1))
            .flatMap { case (rid, u, q) =>
              val qq = Option(q).getOrElse(Map.empty[String, String])
              val ru =
                if (u != null && u.nonEmpty) u
                else try routes(rid).urlTemplate(qq)
                catch { case _: Exception => "" }
              if (ru.isEmpty) None
              else {
                val cu = UrlCanon.canonicalize(ru)
                Some((graft.canon.CanonUdfs.urlKeyScala(cu), cu,
                  UrlCanon.host(cu), rid, qq))
              }
            }
          val cand = resolved.toArray.groupBy(_._1)
            .map { case (_, g) => g.minBy(_._4) } // dedup: min routeId per key
            .filter(c => Robots.allowedLocal(c._2, c._3, robotsRules))
            .toArray
          val candKeys = cand.map(_._1)
          val might = BloomSeen.probeLocal(shards, candKeys, cfg.bloomPartitions)
          val posSet = candKeys.iterator.zip(might.iterator)
            .collect { case (k, true) => k }.toSet
          // Exact check only on the bloom-positive sliver (true hits +
          // fpp·new): the active frontier is the mirror when there is one,
          // else column-scanned on urlKey, never shuffled; the archive leg
          // prunes to the positive keys' bucket partitions
          // (archiveProbePlan — PlanSpec-asserted), so
          // a probe of k keys touches ≤ min(k, archiveBuckets) buckets of
          // the all-jobs-ever table, not every archived key. Reading the
          // archive awaits any in-flight commit (it appends a step dir) —
          // usually a no-op since the commit overlapped the whole fetch;
          // spawn-free steps (posSet empty) never touch it.
          val confirmedSeen: Set[Long] =
            if (posSet.isEmpty) Set.empty
            else {
              val posSorted = posSet.toArray.sorted
              val activeSeen = frontLocal match {
                case Some(rows) => rows.iterator.map(_.urlKey).filter(posSet).toSet
                case None =>
                  val posBc = spark.sparkContext.broadcast(posSorted)
                  val inPos = udf((k: Long) =>
                    java.util.Arrays.binarySearch(posBc.value, k) >= 0)
                  front.select(col("urlKey"))
                    .filter(inPos(col("urlKey")))
                    .as[Long].collect().toSet
              }
              awaitCommit()
              val archSeen = archiveProbePlan(posSorted, committed)
                .map(_.as[Long].collect().toSet)
                .getOrElse(Set.empty[Long])
              activeSeen ++ archSeen
            }
          val freshKeySet = candKeys.iterator
            .filter(k => !posSet(k) || !confirmedSeen(k)).toSet
          val freshJobs = cand.iterator.filter(c => freshKeySet(c._1))
            .map { case (k, u, h, r, q) =>
              CrawlJob(k, u, h, r,
                priority = routes.get(r).map(_.priority).getOrElse(50),
                query = q, createdStep = stepNow + 1, notBeforeStep = stepNow + 1)
            }.toArray
          (spark.createDataset(freshJobs.toSeq), Some((shards, freshJobs)))
        case None =>
          val spawnedPart = outcomes
            .select(explode(col("spawned")).as("sj"))
            .select(col("sj.routeId").as("routeId"), col("sj.url").as("rawUrl"),
              col("sj.query").as("query"))
          val redirectPart = outcomes
            .filter(col("action").startsWith("redirect:"))
            .select(col("job.routeId").as("routeId"),
              expr(s"substring(action, ${"redirect:".length + 1})").as("rawUrl"),
              typedLit(Map.empty[String, String]).as("query"))
          val known = spawnedPart.unionByName(redirectPart)
            .filter(col("routeId").isin(routes.keys.toSeq: _*))
          // query-templated spawns (url empty, query set): build the URL
          // through the route's template — reference `route.getUrl(job)`
          // over the spawned op's query (worker.js:281-292, route.js:31-37).
          // A throwing template drops the job (the reference fails it; a
          // queryable drop is kinder).
          val routesForResolve = routesBc
          val resolveUrl = udf((rid: String, u: String, q: Map[String, String]) =>
            if (u != null && u.nonEmpty) u
            else try routesForResolve.value(rid).urlTemplate(
              Option(q).getOrElse(Map.empty))
            catch { case _: Exception => "" })
          val canonical = known
            .withColumn("rawUrl", resolveUrl(col("routeId"), col("rawUrl"), col("query")))
            .filter(col("rawUrl") =!= "")
            .withColumn("url", graft.canon.CanonUdfs.canon_url(col("rawUrl")))
            .withColumn("host", graft.canon.CanonUdfs.url_host(col("url")))
            .withColumn("urlKey", xxhash64(col("url")))
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("urlKey")).orderBy(col("routeId"))))
            .filter(col("rn") === 1).drop("rn", "rawUrl")
          val allowedJobs = Robots.allowed(canonical, robotsRules).localCheckpoint(true)
          allowedJobsCkpt = Some(allowedJobs)
          val bloom = readBloom(v)
          val probed = BloomSeen.probe(bloom,
              allowedJobs.select(col("urlKey")).as[Long], cfg.bloomPartitions)
            .toDF("urlKey", "might").persist(StorageLevel.MEMORY_AND_DISK)
          val definitelyNew = allowedJobs.join(
            broadcast(probed.filter(!col("might")).drop("might")),
            Seq("urlKey"), "left_semi")
          val maybeSeen = allowedJobs.join(
            broadcast(probed.filter(col("might")).drop("might")),
            Seq("urlKey"), "left_semi")
          // distributed path already awaited (readBloom above) — the archive
          // dirs up to `committed` are fully landed. The archive leg joins
          // on (bucket, urlKey) against the broadcast maybe-seen keys:
          // bucket is the archive's partition column, so dynamic partition
          // pruning can drop non-matching bucket dirs before the scan.
          val bucketsN = cfg.archiveBuckets
          val seenEver = readArchive(committed) match {
            case Some(a) => front.select(col("urlKey"))
              .unionByName(a
                .join(broadcast(maybeSeen.select(col("urlKey"),
                  pmod(col("urlKey"), lit(bucketsN)).cast("int").as("bucket"))),
                  Seq("bucket", "urlKey"), "left_semi")
                .select(col("urlKey")))
            case None => front.select(col("urlKey"))
          }
          val seenConfirmed = seenEver
            .join(broadcast(maybeSeen.select(col("urlKey"))), Seq("urlKey"), "left_semi")
          val confirmedNew = maybeSeen.join(
            broadcast(seenConfirmed), Seq("urlKey"), "left_anti")
          val prioByRoute = typedLit(routes.map { case (k, r) => k -> r.priority })
          val f = definitelyNew.unionByName(confirmedNew)
            .withColumn("priority",
              coalesce(element_at(prioByRoute, col("routeId")), lit(50)))
            .select(col("urlKey").as("_1"), col("url").as("_2"), col("host").as("_3"),
              col("routeId").as("_4"), col("priority").cast("int").as("_5"),
              col("query").as("_6"))
            .as[(Long, String, String, String, Int, Map[String, String])]
            .map { case (k, u, h, r, p, q) =>
              CrawlJob(k, u, h, r, priority = p, query = q,
                createdStep = stepNow + 1, notBeforeStep = stepNow + 1)
            }
            .localCheckpoint(true)
          probed.unpersist()
          (f, None)
      })

    // -- run accounting update (see fields above) ------------------------
    val freshN = freshLocal.map(_._2.length.toLong).getOrElse(-1L)
    fetchedAcc += waveN
    pendingCount =
      if (pendingCount >= 0L && contStep >= 0L && freshN >= 0L)
        pendingCount - waveN + contStep + freshN
      else -1L
    if (dlStep >= 0L) dlAcc += dlStep else acctValid = false
    flagged match {
      case Left(rows) => itemsAcc += rows.iterator.map(_._2._1).sum
      case Right(_) => acctValid = false
    }

    // -- job-state updates + fetch log -----------------------------------
    // locals only in executor closures — capturing fields would serialize `this`
    val routesLocal = routesBc
    val backoffLocal = cfg.retryBackoffSteps
    // Both paths run the SAME transition function (CrawlEngine.advance /
    // logRow). Driver path: one driver loop over the flagged meta array →
    // local relations, no re-scan of the landed table for the state
    // rewrite, the fetch-log write OR the archive write. Distributed path:
    // a byte-free Dataset projection with the flags left-joined.
    val (updatedWave: Dataset[CrawlJob], updLocal: Option[Array[CrawlJob]],
         stepFetchLog: DataFrame) = flagged match {
      case Left(rows) =>
        val upd = rows.map { case (r, (c, u)) =>
          val tdel = routes.get(r.job.routeId).map(_.transitionDelay).getOrElse(0)
          CrawlEngine.advance(r.job, r.action, r.hasNextPage, r.newState,
            r.spawned.size, c, u, stepNow, tdel, backoffLocal)
        }
        val logs = rows.map { case (r, (c, u)) =>
          CrawlEngine.logRow(stepNow, r.job, r.status, r.action,
            r.hasNextPage, r.spawned.size, c, u)
        }
        (spark.createDataset(upd.toSeq).coalesce(1), Some(upd),
          spark.createDataset(logs.toSeq).coalesce(1).toDF())
      case Right(flagDf) =>
        val metaFlagged = outcomes
          .join(flagDf, col("job.urlKey") === col("srcJob"), "left")
          .select(col("job").as("_1"), col("status").as("_2"),
            col("action").as("_3"), col("hasNextPage").as("_4"),
            col("newState").as("_5"), size(col("spawned")).as("_6"),
            coalesce(col("created"), lit(0L)).as("_7"),
            coalesce(col("updated"), lit(0L)).as("_8"))
          .as[(CrawlJob, Int, String, Boolean, Map[String, String], Int, Long, Long)]
        val upd = metaFlagged.map {
          case (job, _, action, hasNextPage, newState, nSpawned, created, updated) =>
            val tdel = routesLocal.value.get(job.routeId)
              .map(_.transitionDelay).getOrElse(0)
            CrawlEngine.advance(job, action, hasNextPage, newState,
              nSpawned, created, updated, stepNow, tdel, backoffLocal)
        }
        val logDf = metaFlagged.map {
          case (job, status, action, hasNext, _, nSpawned, created, updated) =>
            CrawlEngine.logRow(stepNow, job, status, action, hasNext,
              nSpawned, created, updated)
        }.toDF()
        (upd, None, logDf)
    }

    // -- frontier rewrite + per-host crawl-delay bump --------------------
    // robots crawl-delay: bump hosts fetched this wave. The delayed-host
    // universe is the robots rules table (tiny by design), so the touched∩
    // delayed set collects driver-side at ANY wave size.
    val hostNext: Map[String, Int] =
      if (hostDelay.isEmpty) Map.empty
      else metaLocal match {
        case Some(rows) => rows.iterator.map(_.job.host)
          .filter(hostDelay.contains).distinct
          .map(h => h -> (stepNow + hostDelay(h))).toMap
        case None => wave.select(col("host")).distinct()
          .filter(col("host").isin(hostDelay.keys.toSeq: _*))
          .as[String].collect()
          .map(h => h -> (stepNow + hostDelay(h))).toMap
      }
    // Jobs that finished THIS step leave the hot frontier for the append-
    // only archive (written in the commit below); the versioned frontier —
    // scanned, rewritten and snapshotted every superstep — stays O(pending).
    val archivedWave = updatedWave.filter(col("state.finished"))
    // untouched + unfinished updated + fresh, then the crawl-delay bump.
    // Mirror + driver path: a driver loop (Left). Otherwise a plan (Right):
    // on the driver path the meta array holds every wave key (the fetch
    // stage maps wave rows 1:1 to outcomes), broadcast → the frontier is
    // narrowly scanned and filtered, never shuffled or joined; on the
    // distributed path a plain anti-join, strategy left to Catalyst/AQE.
    val frontier3: Either[Array[CrawlJob], Dataset[CrawlJob]] =
      (frontLocal, updLocal, freshLocal) match {
        case (Some(rows), Some(upd), Some((_, freshJobs))) =>
          val waveKeys = upd.iterator.map(_.urlKey).toSet
          Left((rows.iterator.filterNot(j => waveKeys(j.urlKey)) ++
              upd.iterator.filterNot(_.state.finished) ++ freshJobs.iterator)
            .map(j => hostNext.get(j.host) match {
              case Some(n) if !j.state.finished =>
                j.copy(notBeforeStep = math.max(j.notBeforeStep, n))
              case _ => j
            }).toArray)
        case _ =>
          val untouched = metaLocal match {
            case Some(rows) =>
              val waveKeysBc = spark.sparkContext.broadcast(rows.map(_.job.urlKey).sorted)
              val notInWave = udf((k: Long) =>
                java.util.Arrays.binarySearch(waveKeysBc.value, k) < 0)
              front.filter(notInWave(col("urlKey")))
            case None =>
              front.join(wave.select(col("urlKey")), Seq("urlKey"), "left_anti")
                .as[CrawlJob]
          }
          val frontier2 = untouched
            .unionByName(updatedWave.filter(!col("state.finished")))
            .unionByName(fresh)
          if (hostNext.isEmpty) Right(frontier2)
          else {
            val nextLit = typedLit(hostNext)
            Right(frontier2.toDF()
              .withColumn("notBeforeStep",
                when(element_at(nextLit, col("host")).isNotNull && !col("state.finished"),
                  greatest(col("notBeforeStep"), element_at(nextLit, col("host"))))
                .otherwise(col("notBeforeStep")))
              .as[CrawlJob])
          }
      }

    // -- bloom update -----------------------------------------------------
    val bloom2 = freshLocal match {
      case Some((shards, fk)) =>
        val byPid = fk.map(_.urlKey).groupBy(k => BloomSeen.pidOf(k, cfg.bloomPartitions))
        val merged = shards.map(sh =>
          byPid.get(sh.pid).map(ks => BloomSeen.insertLocal(sh, ks)).getOrElse(sh))
        shardCache = Some((v + 1, merged))
        spark.createDataset(merged.toSeq)
      case None =>
        shardCache = None
        BloomSeen.insert(readBloom(v), fresh.map(_.urlKey), cfg.bloomPartitions)
    }

    // -- append-only writes (invisible until the snapshot commit below) ---
    // full write parallelism — item deltas carry the image bytes, and a
    // capped coalesce made this write a fixed serial cost that broke N-vs-4N
    // scaling (measured). Small steps produce small files; compaction is a
    // maintenance job, not a superstep cost.
    // uncompressed: the payload column is already PNG/JPEG-compressed, so
    // parquet snappy only burns CPU on bytes it cannot shrink (the small
    // metadata columns still dictionary/RLE-encode regardless)
    // The next superstep's wave reads the new frontier from memory; the
    // background frontier write below reuses it (no recompute, no re-read
    // of the snapshot). Within the bound it is (re-)mirrored — no job for a
    // driver-loop rewrite, one collect for a plan; above it, byte-free rows
    // checkpointed once, the checkpoint's materializing count making the
    // pending count exact so a shrinking frontier re-enters the mirror.
    val prevFrontCkpt: Option[Dataset[CrawlJob]] =
      frontierCache.collect { case (`v`, f) => f }
    val frontier3Ckpt = timed("front.ckpt")(frontier3 match {
      case Left(rows) if rows.length <= tinyCap => mirrorFrontier(v + 1, rows)
      case Left(rows) =>
        pendingCount = rows.length
        spark.createDataset(rows.toSeq).localCheckpoint(true)
      case Right(plan) if tinyFrontier => mirrorFrontier(v + 1, plan.collect())
      case Right(plan) =>
        val ckpt = plan.localCheckpoint(false)
        pendingCount = ckpt.count()
        if (tinyFrontier) mirrorFrontier(v + 1, ckpt.collect()) else ckpt
    })
    frontierCache = Some((v + 1, frontier3Ckpt))

    // All four superstep writes (delta, fetch log, frontier, bloom) are
    // independent plans over already-checkpointed inputs — submitted from
    // four threads so planning + scheduling + small-file IO overlap (Spark
    // job submission is thread-safe by design). Atomicity is unchanged:
    // nothing is visible until the manifest rename, and stale delta/log
    // step dirs from a failed commit are swept by cleanStale on the next
    // step/resume.
    // The WHOLE commit is pipelined (see "pipelined commit" at the top):
    // with no listeners it runs on a background thread, overlapping the
    // next superstep's wave+fetch — a superstep's flat driver cost is the
    // N→4N scaling-efficiency ceiling, and the commit was its largest
    // term. step s+1 plans off the caches updated above; any disk read
    // awaits. The previous commit (long since done — a whole superstep
    // elapsed) is awaited before this one is issued, so commits are ordered
    // and at most one is in flight.
    timed("commit.await")(awaitCommit())
    def commitWork(): Unit = {
      store.commit(v + 1, SnapshotStore.manifestJson(
        "version" -> (v + 1), "step" -> stepNow, "fetched" -> waveN)) { dir =>
        // the item payloads are ALREADY on disk (landed by the fetch job);
        // the commit persists only byte-free state: the step's equality-
        // delete keys, the fetch log, and the versioned frontier + bloom
        inParallel(Seq(
          Some(() => stepFetchLog.drop("step").coalesce(1).write.mode("overwrite")
            .parquet(s"${logDir("fetchlog")}/step=$stepNow")),
          Some(() => frontier3Ckpt.write.parquet(s"$dir/frontier")),
          Some(() => bloom2.write.parquet(s"$dir/bloom")),
          Some(() => writeArchive(archivedWave.toDF(), stepNow)),
          suppressedOut.map(sup => () => sup.coalesce(1).write.mode("overwrite")
            .parquet(s"$suppressedDir/step=$stepNow"))).flatten: _*)
      }
      store.expire(v + 1 - cfg.retainSnapshots + 1)
    }
    // released only after the writes that read them have finished
    def releaseCheckpoints(): Unit = {
      Seq(wave, fresh).foreach(_.unpersist())
      allowedJobsCkpt.foreach(_.unpersist())
      winnersCkpt.foreach(_.unpersist())
      prevFrontCkpt.foreach(_.unpersist())
      staleMeta.foreach(_.unpersist())
    }
    issuedState = Some((v + 1, stepNow))
    if (listeners.nonEmpty) {
      // listener contract: fan-out AFTER the commit (stepLog reads the
      // landed raw outcomes + this step's flags) — so commit synchronously
      timed("commit")(commitWork())
      val stepLog = stepFetchLog.as[FetchLog]
      listeners.foreach(_.onStepCommitted(stepNow, stepLog))
      releaseCheckpoints()
    } else {
      import scala.concurrent.ExecutionContext.Implicits.global
      commitInFlight = Some(scala.concurrent.Future {
        // own fair-scheduler pool: under spark.scheduler.mode=FAIR the
        // commit's jobs share task slots with the next superstep's wave +
        // fetch instead of queueing ahead of them (FIFO would hand the
        // commit every slot first, serializing the "overlap"). Under the
        // default FIFO mode this property is inert — the commit still runs,
        // just without slot sharing. Benches/clusters should set FAIR.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-commit")
        try {
          timed("commit.bg")(commitWork())
          releaseCheckpoints()
        } finally
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      })
    }
    true
  }

  /** Run supersteps until the frontier drains or maxSteps is hit. */
  def run(): RunSummary = {
    var steps = 0
    while (steps < cfg.maxSteps && step()) steps += 1
    awaitCommit() // land the final superstep's pipelined commit
    summary(steps)
  }

  /** Continue from the latest snapshot — the kill-resume path. */
  def resume(): RunSummary = run()

  /** Maintenance: compact the append-only item deltas (the engine's Iceberg
    * `rewrite_data_files` analogue). A long crawl accumulates one delta dir
    * per superstep, so the item reads and the per-superstep existing-keys
    * scan pay O(steps) file opens; compaction LWW-resolves everything up to
    * the committed step into `items_base/step=K` (written to a temp dir,
    * atomic rename — readers take the max base and deltas AFTER it, so every
    * crash window leaves a consistent view), then drops the absorbed delta
    * dirs. Safe between supersteps or after a run; NOT concurrent with
    * step(). After compaction, phash near-dup suppression compares against
    * the LIVE item set only — superseded versions no longer vote (the
    * live-set semantics; pre-compaction scans see all delta rows).
    */
  def compactItems(): Unit = withEngineConf {
    awaitCommit()
    // compaction switches suppression to live-set semantics (superseded
    // versions no longer vote) — drop the all-delta-rows cache + its mirror
    itemMetaCache.foreach(_._2.unpersist())
    itemMetaCache = None
    itemMetaLocal = None
    import graft.state.StateIO
    for (v <- currentVersion) {
      val committed = stepOf(v)
      val prevBase = latestBaseStep
      if (committed >= 0 && prevBase < committed) {
        val tmp = s"${cfg.statePath}/.compact-items"
        StateIO.deleteRec(tmp)
        Items.resolve(readItemDeltas(committed)).write.parquet(tmp)
        StateIO.moveReplace(tmp, s"$itemsBaseDir/step=$committed")
        // absorbed inputs — readers already ignore them (max-base rule).
        // NOTE: dropping a raw step dir also drops that step's fetch
        // outcomes for item purposes only — the fetch LOG (the
        // observability record) lives in its own table and is untouched.
        if (prevBase >= 0) StateIO.deleteRec(s"$itemsBaseDir/step=$prevBase")
        Seq(rawDir, suppressedDir).foreach { base =>
          StateIO.listNames(base).foreach { n =>
            if (n.startsWith("step=") && n.substring(5).toInt <= committed)
              StateIO.deleteRec(s"$base/$n")
          }
        }
      }
    }
  }

  private def summary(steps: Int): RunSummary = timed("summary") {
    // exact driver accounting when live (zero Spark jobs — see the fields'
    // scaladoc); else one pass over the fetch log (count == fetched: one
    // row per fetch; dead letters are the stop+4xx/5xx rows) and the item
    // count off the in-memory meta cache when it is current — LWW-resolved
    // count == distinct delta keys, no window over the full delta scan
    if (acctValid) RunSummary(steps, fetchedAcc, itemsAcc, dlAcc)
    else {
      val row = fetchLog.agg(
        count(lit(1)),
        coalesce(sum(when(col("status") >= 400 && col("action") === "stop", 1L)
          .otherwise(0L)), lit(0L))).head()
      val itemCount = itemMetaCache match {
        case Some((step, df)) if issuedState.exists(_._2 == step) =>
          df.select(col("key")).distinct().count()
        case _ => items.count()
      }
      RunSummary(steps, row.getLong(0), itemCount, row.getLong(1))
    }
  }
}
