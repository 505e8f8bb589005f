package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.canon.UrlCanon
import graft.corpus.{CorpusSpec, SiteRoutes, SynthFetcher, SyntheticCorpus}
import graft.engine.{CrawlEngine, EngineConfig}
import graft.fetch.Fetcher
import graft.oracle.NestOracle

/** Size of one synthetic site and the engine's politeness budget for it. */
final case class CrawlShape(hosts: Int, listPages: Int, detailsPerList: Int,
    budget: Int, img: Int, bloomCapacity: Int) {
  /** The seed picks the plant moduli from fixed ranges, so every seed has
    * near-duplicates, flaky pages and dead pages at about the same rates. */
  def spec(seed: Long): CorpusSpec = {
    val r = new java.util.Random(seed)
    CorpusSpec(hosts, listPages, detailsPerList, img, img,
      nearDupMod = 7 + r.nextInt(2), flakyMod = 11 + r.nextInt(2),
      deadMod = 13 + r.nextInt(3))
  }
}

/** A workload pairs a crawl shape with a query pack of the same character. */
final case class Workload(name: String, crawl: CrawlShape, pack: Seq[String],
    oracleParity: Boolean)

object Workloads {
  /** Few hosts, budget 2: waves of at most 6 rows stay on the tiny-wave
    * driver path, so per-superstep fixed cost (wave, checkpoints, commit
    * writes, driver work) dominates. Paired with short relational, graph,
    * vector, streaming and multimodal queries, where per-query planning and
    * job launch dominate. */
  val narrowAnalytics = Workload("narrow_analytics",
    crawl = CrawlShape(3, 2, 4, 2, 48, 1 << 16),
    pack = Seq("q01_stats_agg", "q07_upsert_merge", "q18_star_join",
      "q41_image_decode", "q51_pagerank", "q60_stream_hourly",
      "q61_error_streaks", "q64_knn_join"),
    oracleParity = true)

  /** 10 hosts, budget 40: one 400-row wave of 320 px image pages runs on
    * the driver-collected tier, and the fetch job takes about half of the
    * crawl wall (measured with --trace 1). Paired with the shuffle-heavy
    * set-similarity and connected-components queries. */
  val wideDedup = Workload("wide_dedup",
    crawl = CrawlShape(10, 1, 40, 40, 320, 1 << 18),
    pack = Seq("q21_ngram_jaccard", "q22_minhash_lsh", "q28_minhash_verify",
      "q29_dedup_clusters", "q62_incremental_dedup"),
    oracleParity = false)

  val all: Map[String, Workload] = Seq(narrowAnalytics, wideDedup).map(w => w.name -> w).toMap

  /** The warm-up: a throwaway crawl of one listing page and one cheap query
    * outside both packs, so the measured crawl and pack do not pay Spark's
    * first-use costs (class loading, code generation, the first parquet
    * writes) and most of the engine's. */
  val WarmCrawl = CrawlShape(1, 1, 0, 1, 48, 1 << 16)
  val WarmQuery = "q03_eligibility_filter"
}

final case class Args(workload: Workload, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, data: String, work: Path, corrupt: Boolean)

object Main {

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(Workloads.all(m("workload")), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("data"), Paths.get(m("work")),
      m.get("corrupt").contains("1"))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirStats(p: Path): (Long, Long) = {
    val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spans = new Spans
    val w = a.workload
    Files.createDirectories(a.work)

    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val engineSrc = Paths.get("src/main/scala/graft/engine/CrawlEngine.scala")
    // every timing fetcher of the run reports into these accumulators
    val counters: Option[FetchCounters] = if (a.trace) Some(FetchCounters(sc)) else None
    val tracer: Option[Tracer] = counters.map { _ =>
      val t = new Tracer(new PhaseTable(
        if (Files.exists(engineSrc)) Files.readAllLines(engineSrc).asScala.toSeq else Nil))
      sc.addSparkListener(t)
      t
    }

    var stateSeq = 0
    def newEngine(shape: CrawlShape, spec: CorpusSpec, fetcher: Fetcher): (CrawlEngine, Path) = {
      stateSeq += 1
      val dir = a.work.resolve(s"state-$stateSeq")
      val eng = new CrawlEngine(spark,
        SiteRoutes.registry(spec, detailConcurrency = shape.budget), fetcher, Nil,
        EngineConfig(statePath = dir.toString, hostBudget = shape.budget,
          bloomPartitions = a.cores, bloomCapacityPerShard = shape.bloomCapacity))
      (eng, dir)
    }
    def fetcher(spec: CorpusSpec): Fetcher = counters match {
      case Some(c) => new TimedFetcher(new SynthFetcher(spec), c)
      case None => new SynthFetcher(spec)
    }

    // ---- set-up: session (above), warm-up, engine construction + seed ----
    val warm = Workloads.WarmCrawl
    val warmSpec = CorpusSpec(warm.hosts, warm.listPages, warm.detailsPerList,
      warm.img, warm.img)
    spans("warmup") {
      spans("warmup.crawl") {
        val (we, _) = newEngine(warm, warmSpec, new SynthFetcher(warmSpec))
        we.seed(SyntheticCorpus.seeds(warmSpec))
        we.run()
      }
      spans("warmup.query")(SparkEntry.queries(Workloads.WarmQuery)(spark, a.data)
        .write.format("noop").mode("overwrite").save())
    }
    val warmEnd = Clock.now
    val spec = w.crawl.spec(a.seed)
    val seeds = new scala.util.Random(a.seed).shuffle(SyntheticCorpus.seeds(spec))
    def setUp(i: Int, f: Fetcher): (CrawlEngine, Path, Double) =
      spans("setup.engine", i.toString) {
        val t0 = Clock.now
        val (eng, dir) = newEngine(w.crawl, spec, f)
        eng.seed(seeds)
        (eng, dir, Clock.now - t0)
      }
    // the first set-ups are timed and dropped; only the last engine is
    // measured and stays live
    val SetupReps = 3
    val droppedMs = (1 until SetupReps).map(i => setUp(i, new SynthFetcher(spec))._3)
    val (eng, stateDir, lastMs) = setUp(SetupReps, fetcher(spec))
    val seedMs = median(droppedMs :+ lastMs)
    val setupS = (warmEnd - jvmStart + seedMs) / 1000.0

    // ---- measured window ----
    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer.empty[String]
    val windowStart = Clock.now
    val stepMs = ArrayBuffer.empty[Double]
    val crawlOk = Try {
      spans("crawl.run") {
        var going = true
        var k = 0
        while (going) {
          k += 1
          val t0 = Clock.now
          going = spans("step", k.toString)(eng.step())
          if (going) stepMs += Clock.now - t0
        }
        spans("crawl.await")(eng.currentVersion)
      }
    }
    attempted += stepMs.size + 1
    crawlOk match {
      case Failure(e) => failed += 1; notes += s"crawl failed: $e"
      case Success(_) =>
    }
    val runMs = { val s = spans.one("crawl.run"); s.end - s.start }

    val queryRows = ArrayBuffer.empty[(String, Double, Double, Boolean)]
    val outRoot = a.work.resolve("pack-out")
    val order = new scala.util.Random(a.seed ^ 0x5eed).shuffle(w.pack)
    spans("pack") {
      order.foreach { q =>
        val t0 = Clock.now
        var tb = t0
        val ok = Try(spans("query", q) {
          val df = spans("query.build", q)(SparkEntry.queries(q)(spark, a.data))
          tb = Clock.now
          spans("query.write", q)(df.write.mode("overwrite").parquet(outRoot.resolve(q).toString))
        }) match {
          case Success(_) => true
          case Failure(e) => notes += s"$q failed: $e"; false
        }
        attempted += 1
        if (!ok) failed += 1
        queryRows += ((q, Clock.now - t0, tb - t0, ok))
      }
    }
    val packS = queryRows.map(_._2).sum / 1000.0

    val readMs = ArrayBuffer.empty[Double]
    val MinReads = 8
    val MaxReads = 20
    // reads repeat until the window has lasted --seconds
    while (readMs.size < MinReads ||
        (readMs.size < MaxReads && Clock.now - windowStart < a.seconds * 1000)) {
      val t0 = Clock.now
      spans("items.read", (readMs.size + 1).toString)(
        eng.items.write.format("noop").mode("overwrite").save())
      readMs += Clock.now - t0
    }

    val windowS = (Clock.now - windowStart) / 1000.0

    // host-drift context: the codec kernel, measured right after the
    // workload's timed operations
    val codec = graft.tools.CodecCal.run(160, a.cores, 96)

    // ---- after the window: heap reading, then the checks ----
    // repeated, so the reference-cleaning thread's frees land before the reading
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val (stateBytes, stateFiles) = dirStats(stateDir)
    val fetched = eng.fetchLog.count()
    val payload = eng.items.selectExpr("coalesce(sum(length(bytes)), 0L)").head().getLong(0)

    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      val (ok, detail) = Try(body).getOrElse((false, "check threw"))
      checks += ((name, ok, detail))
      attempted += 1
      if (!ok) failed += 1
    }
    val plant = Plant(spec)
    check("crawl.fetched") {
      val want = plant.fetched + (if (a.corrupt) 1 else 0)
      (fetched == want, s"fetched=$fetched expected=$want")
    }
    val itemKeys = eng.items.select("key").collect().map(_.getString(0)).toSet
    check("crawl.items") {
      (itemKeys.size == plant.items, s"items=${itemKeys.size} expected=${plant.items}")
    }
    check("crawl.dead_letters") {
      val n = eng.deadLetters.count()
      (n == plant.dead, s"dead=$n expected=${plant.dead}")
    }
    if (w.oracleParity) {
      val routes = SiteRoutes.registry(spec, detailConcurrency = w.crawl.budget)
      val oracle = new NestOracle(routes, new SynthFetcher(spec), Nil, w.crawl.budget)
      oracle.seed(seeds)
      oracle.run()
      check("oracle.seen_set") {
        val seen = eng.frontier.collect().map(_.url).toSet
        (seen == oracle.seenUrls, s"engine-only=${(seen -- oracle.seenUrls).take(3)} " +
          s"oracle-only=${(oracle.seenUrls -- seen).take(3)}")
      }
      check("oracle.host_order") {
        val engSeq = eng.fetchLog.collect().groupBy(_.host).map { case (h, rows) =>
          h -> rows.sortBy(r => (r.step, -r.priority, r.createdStep, r.urlKey))
            .map(r => (r.step, r.url, r.page)).toSeq
        }
        val bad = (engSeq.keySet ++ oracle.hostSequences.keySet)
          .filter(h => engSeq.get(h) != oracle.hostSequences.get(h))
        (bad.isEmpty, s"hosts with a different dequeue order: ${bad.mkString(",")}")
      }
      check("oracle.item_keys") {
        val want = oracle.finalItemKeys -- plant.suppressedKeys(itemKeys)
        (itemKeys == want, s"engine-only=${(itemKeys -- want).take(3)} " +
          s"expected-only=${(want -- itemKeys).take(3)}")
      }
    }

    // ---- metrics ----
    val payloadOrOne = math.max(payload, 1L).toDouble
    val e2e = Seq(
      "setup_s" -> setupS,
      "crawl_urls_per_s" -> fetched / (runMs / 1000.0),
      "step_ms_p50" -> median(stepMs.toSeq),
      "items_read_s" -> median(readMs.toSeq) / 1000.0,
      "pack_s" -> packS,
      "state_bytes_per_payload_byte" -> stateBytes / payloadOrOne,
      "heap_live_mb" -> heapMb)

    val traced: Seq[(String, Double)] = tracer.toSeq.flatMap { t =>
      org.apache.spark.GraftbenchBus.drain(sc)
      val run = spans.one("crawl.run")
      val crawlJobs = t.jobsIn(run.start, run.end)
      val fg = crawlJobs.filter(_.pool != "graft-commit")
      val commitJobs = crawlJobs.filter(_.phase == "commit")
      val stepSpans = spans.named("step").take(stepMs.size)
      def iv(js: Seq[JobRec]) = js.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble))
      val perStepDriver = stepSpans.map { s =>
        (s.end - s.start) - Intervals.length(Intervals.clip(iv(fg), s.start, s.end))
      }
      val perStepJobs = stepSpans.map(s => t.jobsIn(s.start, s.end).size.toDouble)
      val blocking = stepSpans.map { s =>
        Intervals.minus(Intervals.clip(iv(commitJobs), s.start, s.end),
          Intervals.clip(iv(fg), s.start, s.end))
      }.sum
      def phaseMs(p: String) = crawlJobs.filter(_.phase == p).map(_.ms).sum
      def phaseJobs(p: String) = crawlJobs.count(_.phase == p).toDouble
      val fgMs = fg.map(_.ms).sum
      val allStages = t.stagesOf(crawlJobs)
      val runTaskMs = allStages.flatMap(_.taskRunMs).sum.toDouble
      val fetchSkews = t.stagesOf(crawlJobs.filter(_.phase == "fetch"))
        .filter(_.taskRunMs.size >= 2)
        .map(s => s.taskRunMs.max.toDouble / math.max(1.0, median(s.taskRunMs.map(_.toDouble).toSeq)))
      val tf = counters.get
      val flog = eng.fetchLog
      val spawned = flog.selectExpr("coalesce(sum(spawnCount), 0L)").head().getLong(0)
      val okDetails = flog.filter("routeId = 'detail' AND status = 200")
        .select("urlKey").distinct().count()
      val queryTrace = queryRows.map { case (q, ms, buildMs, _) =>
        val qs = spans.all.find(s => s.name == "query" && s.id == q).get
        val js = t.jobsIn(qs.start, qs.end)
        (q, ms, buildMs, js.size.toDouble, t.stagesOf(js).map(_.shuffleWriteBytes).sum.toDouble)
      }
      queryTrace.foreach { case (q, ms, b, j, sh) =>
        notes += f"query $q: ms=$ms%.1f build_ms=$b%.1f jobs=$j%.0f shuffle_bytes=$sh%.0f"
      }
      Seq(
        "engine.step.jobs" -> median(perStepJobs),
        "engine.step.driver_ms" -> median(perStepDriver),
        "engine.core_busy_ratio" -> runTaskMs / (runMs * a.cores),
        "engine.seed_ms" -> seedMs,
        "phase.wave.ms" -> phaseMs("wave"),
        "phase.wave.jobs" -> phaseJobs("wave"),
        "phase.spawn.ms" -> phaseMs("spawn"),
        "phase.spawn.jobs" -> phaseJobs("spawn"),
        "frontier.wave_rows" -> fetched.toDouble,
        "spawn.spawned" -> spawned.toDouble,
        "phase.fetch.ms" -> phaseMs("fetch"),
        "fetch.calls" -> tf.calls.value.toDouble,
        "fetch.busy_ms" -> tf.busyNanos.value / 1e6,
        "fetch.ok_ratio" -> tf.ok.value.toDouble / math.max(1L, tf.calls.value),
        "fetch.task_skew" -> (if (fetchSkews.isEmpty) 1.0 else median(fetchSkews)),
        "fetch.payload_bytes" -> tf.payloadBytes.value.toDouble,
        "phase.items.ms" -> phaseMs("items"),
        "items.landed" -> itemKeys.size.toDouble,
        "items.suppressed" -> (okDetails - itemKeys.size).toDouble,
        "phase.checkpoint.ms" -> phaseMs("checkpoint"),
        "phase.commit.ms" -> phaseMs("commit"),
        "phase.commit.blocking_ms" -> blocking,
        "state.write_jobs_per_step" -> commitJobs.size.toDouble / math.max(1, stepMs.size),
        "state.bytes_written" -> allStages.map(_.outputBytes).sum.toDouble,
        "state.files" -> stateFiles.toDouble,
        "phase.other.ms" -> fg.filter(_.phase == "other").map(_.ms).sum,
        "phase.other_share" -> fg.filter(_.phase == "other").map(_.ms).sum / math.max(1.0, fgMs),
        "ops.query_ms" -> queryTrace.map(_._2).sum,
        "ops.build_ms" -> queryTrace.map(_._3).sum,
        "ops.jobs" -> queryTrace.map(_._4).sum,
        "ops.shuffle_bytes" -> queryTrace.map(_._5).sum,
        "host.codec_pages_per_s" -> codec,
        "trace.crawl_urls_per_s" -> fetched / (runMs / 1000.0),
        "trace.pack_s" -> packS,
        "trace.listener_ms" -> t.selfNanos.get / 1e6)
    }

    notes += f"steps=${stepMs.size} fetched=$fetched items=${itemKeys.size} " +
      f"payload_bytes=$payload state_bytes=$stateBytes state_files=$stateFiles " +
      f"window_s=$windowS%.1f item_reads=${readMs.size} codec_pages_per_s=$codec%.1f " +
      f"step_ms_p90=${if (stepMs.isEmpty) Double.NaN else stepMs.sorted.apply((stepMs.size * 9) / 10 min (stepMs.size - 1))}%.1f"

    writeSpans(a.work.resolve("spans.json"), spans, tracer)
    val out = new java.util.LinkedHashMap[String, Any]()
    def jmap(xs: Seq[(String, Double)]) = {
      val m = new java.util.LinkedHashMap[String, Double]()
      xs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    out.put("e2e", jmap(e2e))
    out.put("trace", jmap(traced))
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("checks", checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d).asJava }.asJava)
    out.put("notes", notes.asJava)
    // the DuckDB oracle comparison of each query output runs after the JVM
    out.put("queries", queryRows.map { case (q, _, _, ok) =>
      Map[String, Any]("name" -> q, "ok" -> ok, "out" -> outRoot.resolve(q).toString,
        "oracle" -> SparkEntry.oracleSql.get(q).orNull).asJava }.asJava)
    Files.writeString(a.work.resolve("result.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out))
    spark.stop()
  }

  private def writeSpans(path: Path, spans: Spans, tracer: Option[Tracer]): Unit = {
    val rows = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.all.foreach { s =>
      val kids = spans.all.filter(_.parent == s.idx).map(k => (k.start, k.end)).toSeq
      rows.add(Map[String, Any]("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> ((s.end - s.start) - Intervals.length(Intervals.clip(kids, s.start, s.end))))
        .asJava)
    }
    tracer.foreach(_.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      rows.add(Map[String, Any]("name" -> "spark.job", "id" -> j.id.toString,
        "phase" -> j.phase, "site" -> j.site, "pool" -> Option(j.pool).getOrElse("default"),
        "start_ms" -> j.start, "end_ms" -> j.end).asJava)
    })
    Files.writeString(path,
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(rows))
  }
}

/** Expected crawl outcome from the CorpusSpec planting arithmetic. */
final case class Plant(spec: CorpusSpec) {
  private val ids = 0L until spec.totalDetails
  private def isDead(id: Long) = id % spec.deadMod == 7
  val live: Seq[Long] = ids.filterNot(isDead)
  /** Planted near-duplicate pairs whose two pages both land; the engine
    * keeps exactly one of each pair. */
  val pairs: Seq[(Long, Long)] = ids
    .filter(id => id % spec.nearDupMod == 3 && id > 0)
    .map(id => (id - 1, id)).filter { case (x, y) => !isDead(x) && !isDead(y) }
  val flakyLive: Int = live.count(_ % spec.flakyMod == 5)
  val listings: Long = spec.hosts.toLong * spec.listPages
  val fetched: Long = listings + spec.totalDetails + flakyLive
  val items: Int = live.size - pairs.size
  val dead: Long = ids.count(isDead).toLong

  private def key(id: Long) =
    UrlCanon.canonicalize(spec.detailUrl(spec.hostOf(id), id)).toLowerCase.trim
  /** The member of each planted pair the engine dropped, given its keys:
    * exactly one per pair, or the pair's first key when both or neither
    * landed, so that case fails the comparison. */
  def suppressedKeys(landed: Set[String]): Set[String] = pairs.map { case (x, y) =>
    val (kx, ky) = (key(x), key(y))
    if (landed(kx) && !landed(ky)) ky else kx
  }.toSet
}
