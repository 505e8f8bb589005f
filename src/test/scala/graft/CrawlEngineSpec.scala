package graft

import graft.corpus._
import graft.engine.{CrawlEngine, EngineConfig}
import graft.fetch.CorpusFetcher
import graft.model.RobotsRule

/** Shared recorder for the rate-limiter test: fetch-start events as
  * (partitionId, host, nanoTime). local[N] executors share the JVM, so a
  * static concurrent queue observes every task's fetches.
  */
object PaceRecorder {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
}

/** Delegating fetcher that records each fetch start for pacing asserts. */
final class PacedFetcher(inner: graft.fetch.Fetcher) extends graft.fetch.Fetcher {
  override def fetch(url: String, attempt: Int): graft.model.FetchedPage = {
    PaceRecorder.events.add((org.apache.spark.TaskContext.getPartitionId(),
      graft.canon.UrlCanon.host(url), System.nanoTime()))
    inner.fetch(url, attempt)
  }
}

/** End-to-end engine invariants — the Spark re-expression of the reference's
  * engine/worker test suite (reference: test/worker.js:90-100 pagination to
  * finish, test/nest.js:56-114 concurrency cap, test/item.js:43-66 upsert).
  */
class CrawlEngineSpec extends SparkSpec {

  val spec = CorpusSpec(hosts = 2, listPages = 3, detailsPerList = 4)
  lazy val fetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(spec))
  lazy val routes = SiteRoutes.registry(spec)

  def newEngine(dir: String, maxSteps: Int = 10000,
      robots: Seq[RobotsRule] = Nil): CrawlEngine =
    new CrawlEngine(spark, routes, fetcher, robots,
      EngineConfig(statePath = dir, hostBudget = 2, maxSteps = maxSteps,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))

  /** ids of details that exist (not planted-404). */
  def liveIds: Seq[Long] = (0L until spec.totalDetails).filter(_ % spec.deadMod != 7)
  /** ids suppressed as near-dups: one member of each planted pair that both landed. */
  def nearDupPairs: Seq[(Long, Long)] =
    (0L until spec.totalDetails)
      .filter(id => id % spec.nearDupMod == 3 && id > 0)
      .map(id => (id - 1, id))
      .filter { case (a, b) => a % spec.deadMod != 7 && b % spec.deadMod != 7 }

  test("full crawl: pagination, dedup, retry, dead-letter, phash suppression") {
    val dir = tmpDir("engine-e2e")
    val eng = newEngine(dir)
    eng.seed(SyntheticCorpus.seeds(spec))
    val sum = eng.run()
    assert(sum.steps > 0)

    // pagination-to-finish (reference test/worker.js:90-100): every listing
    // job crawled all its pages and finished.
    val listings = eng.frontier.filter(_.routeId == SyntheticCorpus.LISTING).collect()
    assert(listings.length == spec.hosts)
    listings.foreach { j =>
      assert(j.state.finished, s"listing ${j.url} not finished")
      assert(j.stats.pages == spec.listPages, s"listing ${j.url} pages=${j.stats.pages}")
      assert(j.stats.spawned == spec.listPages * spec.detailsPerList)
    }

    // every live detail fetched exactly once per key; near-dups suppressed
    val items = eng.items.collect()
    val expectedSuppressed = nearDupPairs.size
    assert(items.length == liveIds.size - expectedSuppressed,
      s"items=${items.length} live=${liveIds.size} suppressed=$expectedSuppressed")

    // caption exact-equality + phash parity + PSNR gate per row (input_hint)
    val corpus = SyntheticCorpus.buildLocal(spec)
    items.foreach { it =>
      val row = corpus(it.link)
      assert(it.caption == row.caption, s"caption mismatch for ${it.link}")
      assert(it.phash == row.phash, s"phash mismatch for ${it.link}")
      assert(java.util.Arrays.equals(it.bytes, row.body))
      if (it.fmt == "jpeg") {
        // near-dup rows are rendered from (id-1)'s params with a phase jitter
        val id = it.image_id.toLong
        val isNearDup = id % spec.nearDupMod == 3 && id > 0
        val orig = Images.synth(if (isNearDup) id - 1 else id,
          spec.imgW, spec.imgH, if (isNearDup) 0.02 else 0.0)
        assert(Images.psnr(orig, Images.decode(it.bytes)) >= 40.0)
      }
    }

    // dead letters: every planted-404 id exactly once (4xx → stop, no retry)
    val dead = eng.deadLetters.collect()
    val dead404 = dead.filter(_.status == 404)
    assert(dead404.length == (0L until spec.totalDetails).count(_ % spec.deadMod == 7))

    // flaky 500s: retried then succeeded — metrics show retries, and the
    // flaky ids still landed (unless suppressed as a near-dup)
    val m = eng.metrics.collect()
    val retried = m.map(_.retried).sum
    val flakyIds = liveIds.filter(_ % spec.flakyMod == 5)
    assert(retried == flakyIds.size, s"retried=$retried expected=${flakyIds.size}")

    // politeness: per (step, host) fetches never exceed the host budget
    m.foreach(row => assert(row.fetched <= 2, s"budget breach: $row"))

    // frontier is fully drained
    assert(eng.frontier.filter(!_.state.finished).count() == 0)
    // re-running is a no-op (idempotent completion)
    assert(!eng.step())

    // the exact driver-side accounting (zero-job RunSummary + early-exit
    // pending counter) agrees with the log-derived ground truth
    assert(sum.fetched == eng.fetchLog.count(), "fetched accounting")
    assert(sum.items == eng.items.count(), "items accounting")
    assert(sum.deadLettered == eng.deadLetters.count(), "dead-letter accounting")
  }

  test("forced distributed plans: same items (incl. phash suppression), stats, dead letters") {
    // driverCollectMaxRows = 0 → banded near-dup suppression join, windowed
    // winners, flag joins, wave anti-join — must reproduce the driver path
    // bit-for-bit (same keys, same per-job stats, same dead letters)
    val dirA = tmpDir("engine-dist")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        driverCollectMaxRows = 0L))
    a.seed(SyntheticCorpus.seeds(spec))
    a.run()
    val dirB = tmpDir("engine-driver")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    b.run()
    val ia = a.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    val ib = b.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    assert(ia.sameElements(ib), "distributed-path items differ from driver path")
    val fa = a.frontier.collect().map(j => (j.urlKey, j.stats, j.state.finished)).sortBy(_._1)
    val fb = b.frontier.collect().map(j => (j.urlKey, j.stats, j.state.finished)).sortBy(_._1)
    assert(fa.sameElements(fb), "distributed-path frontier/stats differ from driver path")
    assert(a.deadLetters.collect().map(_.urlKey).sorted
      .sameElements(b.deadLetters.collect().map(_.urlKey).sorted))
  }

  test("supersteps that switch between the driver and distributed paths == an all-driver run") {
    // driverCollectMaxRows = 3 × 1024 puts the driver-path bound
    // (maxRows/1024) at 3 rows, between this crawl's smallest wave (2) and
    // largest (4): its 2-row first and last steps run on the driver and the
    // steps between distributed, so the item-meta mirror, bloom shard cache
    // and run accounting cross both switches. The same bound caps the
    // frontier mirror: the pending frontier grows past 3 rows and shrinks
    // back, so the mirror is left and re-entered. The default config runs
    // every step on the driver. Items, frontier, the full fetch log AND the
    // run summary must be identical.
    val cap = 3
    val dirM = tmpDir("engine-mixed")
    val m = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirM, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        driverCollectMaxRows = cap * 1024L))
    m.seed(SyntheticCorpus.seeds(spec))
    val sm = m.run()
    val dirD = tmpDir("engine-all-driver")
    val d = newEngine(dirD)
    d.seed(SyntheticCorpus.seeds(spec))
    val sd = d.run()
    val lm = m.fetchLog.collect().sortBy(l => (l.step, l.urlKey))
    val waveSizes = lm.groupBy(_.step).values.map(_.length)
    assert(waveSizes.exists(_ <= cap) && waveSizes.exists(_ > cap),
      s"wave sizes $waveSizes do not straddle the driver-path bound $cap")
    // the pending frontier entering step s: jobs created by then (a job
    // spawned at step s - 1 has createdStep s) and not finished before it
    val allJobs = m.frontier.collect()
    val pending = lm.map(_.step).distinct.sorted.map(s => s -> allJobs.count(j =>
      j.createdStep <= s && (!j.state.finished || j.state.finishedStep >= s)))
    val firstAbove = pending.indexWhere(_._2 > cap)
    assert(firstAbove > 0 && pending.drop(firstAbove).exists(_._2 <= cap),
      s"pending frontier per step $pending does not leave and re-enter the bound $cap")
    val im = m.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    val id = d.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    assert(im.sameElements(id), "mixed-path items differ from the all-driver run")
    val fm = m.frontier.collect().map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1)
    val fd = d.frontier.collect().map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1)
    assert(fm.sameElements(fd), "mixed-path frontier differs from the all-driver run")
    val ld = d.fetchLog.collect().sortBy(l => (l.step, l.urlKey))
    assert(lm.sameElements(ld), "mixed-path fetch log differs from the all-driver run")
    assert(sm == sd, "mixed-path run summary differs from the all-driver run")
  }

  test("hostMinDelayMs bounds the per-host fetch rate across split tasks") {
    PaceRecorder.events.clear()
    val dir = tmpDir("engine-paced")
    val eng = new CrawlEngine(spark, routes, new PacedFetcher(fetcher), Nil,
      EngineConfig(statePath = dir, hostBudget = 8, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        fetchSplits = 2, hostMinDelayMs = 40))
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    import scala.jdk.CollectionConverters._
    val ev = PaceRecorder.events.asScala.toSeq
    assert(ev.nonEmpty)
    // per-task token bucket: consecutive fetch starts to one host within a
    // task are ≥ hostMinDelayMs × fetchSplits apart (80 ms; 5 ms timer slack)
    val perTask = ev.groupBy(e => (e._1, e._2))
    assert(perTask.exists(_._2.size >= 2), "no task fetched a host twice — pacing unexercised")
    perTask.foreach { case ((pid, host), es) =>
      es.map(_._3).sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= 75L * 1000000,
          s"task $pid host $host paced ${(b - a) / 1e6} ms < 80 ms")
        case _ =>
      }
    }
    // aggregate: with ≤2 tasks per host at 80 ms/task the host-level rate is
    // bounded at ~1/40 ms — n fetches must span ≥ (n-2) × 40 ms
    ev.groupBy(_._2).foreach { case (host, es) =>
      val ts = es.map(_._3).sorted
      if (ts.size > 2)
        assert(ts.last - ts.head >= (ts.size - 2).toLong * 40L * 1000000 * 9 / 10,
          s"host $host aggregate rate breach: ${ts.size} fetches in ${(ts.last - ts.head) / 1e6} ms")
    }
  }

  test("kill after step k → resume → identical final state") {
    val specSmall = spec
    val dirA = tmpDir("engine-killed")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    a.seed(SyntheticCorpus.seeds(specSmall))
    a.run() // stops after 3 supersteps — the "kill"
    val resumed = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    val sumA = resumed.resume()

    val dirB = tmpDir("engine-straight")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(specSmall))
    val sumB = b.run()

    val keysA = resumed.items.collect().map(_.key).sorted
    val keysB = b.items.collect().map(_.key).sorted
    assert(keysA.sameElements(keysB), "resumed items differ from straight run")
    val fA = resumed.frontier.collect().map(j => (j.urlKey, j.state.finished,
      j.stats.pages, j.state.currentPage)).sortBy(_._1)
    val fB = b.frontier.collect().map(j => (j.urlKey, j.state.finished,
      j.stats.pages, j.state.currentPage)).sortBy(_._1)
    assert(fA.sameElements(fB), "resumed frontier differs from straight run")
    // the resumed engine adopts the snapshot frontier as its driver mirror;
    // every later wave (order included) must match the straight run
    val lA = resumed.fetchLog.collect().sortBy(l => (l.step, l.urlKey))
    val lB = b.fetchLog.collect().sortBy(l => (l.step, l.urlKey))
    assert(lA.sameElements(lB), "resumed fetch log differs from straight run")
    assert(sumA.fetched == sumB.fetched, s"fetched ${sumA.fetched} != ${sumB.fetched}")
  }

  test("compaction mid-crawl: identical final state, absorbed deltas dropped") {
    val dirA = tmpDir("engine-compact")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    a.seed(SyntheticCorpus.seeds(spec))
    a.run() // 3 supersteps
    a.compactItems()
    // absorbed step dirs are gone; the base holds the resolved view
    val deltaDirs = Option(new java.io.File(s"$dirA/items_delta").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("step="))
    assert(deltaDirs.isEmpty, s"deltas not absorbed: ${deltaDirs.mkString(",")}")
    assert(new java.io.File(s"$dirA/items_base").isDirectory)
    val midKeys = a.items.collect().map(_.key).sorted

    val resumed = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    assert(resumed.items.collect().map(_.key).sorted.sameElements(midKeys),
      "compacted view differs across engine instances")
    resumed.resume()
    resumed.compactItems() // second compaction replaces the first base

    val dirB = tmpDir("engine-nocompact")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    b.run()

    val ia = resumed.items.collect().map(i => (i.key, i.phash, i.createdStep)).sortBy(_._1)
    val ib = b.items.collect().map(i => (i.key, i.phash, i.createdStep)).sortBy(_._1)
    assert(ia.sameElements(ib), "compacted run items differ from straight run")
  }

  test("robots: disallowed prefix blocks, crawl-delay throttles") {
    val dir = tmpDir("engine-robots")
    val rules = Seq(
      RobotsRule("h0.test", "/img/", allow = false, 0), // block all h0 details
      RobotsRule("h1.test", "/", allow = true, 2))      // h1: 2-step crawl delay
    val eng = newEngine(dir, robots = rules)
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    val items = eng.items.collect()
    assert(items.nonEmpty)
    assert(!items.exists(_.link.contains("h0.test/img/")), "robots-blocked item landed")
    // crawl delay: h1 fetched at most every 3rd step (step s, next ≥ s+1+2)
    val h1Steps = eng.metrics.filter(_.host == "h1.test").collect()
      .filter(_.fetched > 0).map(_.step).sorted
    h1Steps.sliding(2).foreach {
      case Array(x, y) => assert(y - x >= 2, s"crawl delay breach: $x → $y")
      case _ =>
    }
  }
}
