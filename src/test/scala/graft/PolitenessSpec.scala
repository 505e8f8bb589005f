package graft

import graft.frontier.Politeness
import graft.model.{CrawlJob, JobState}

/** The driver-side wave ([[Politeness.waveLocal]]: one sort, no salting) must
  * select exactly the rows of the distributed salted wave
  * ([[Politeness.wave]]) — the frontier mirror swaps one for the other
  * mid-crawl.
  */
class PolitenessSpec extends SparkSpec {

  test("waveLocal selects the same rows as the salted distributed wave") {
    import spark.implicits._
    val budget = 3
    val salt = 4
    // uncapped (-1), cap 1, cap = host budget; "x" has no cap entry; "d" is
    // disabled on some frontiers
    val caps = Map("a" -> -1, "b" -> 1, "c" -> budget, "d" -> 2)
    val routes = Seq("a", "b", "c", "d", "x")
    val keep: CrawlJob => Boolean = j => (j.urlKey & 7L) != 3L
    (1 to 24).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val step = 2
      val hosts = Seq.tabulate(4)(i => s"h$i.test")
      def job(host: String, key: Long): CrawlJob = CrawlJob(
        urlKey = key, url = s"http://$host/$key", host = host,
        routeId = routes(rnd.nextInt(routes.size)),
        priority = Seq(10, 50, 50, 90)(rnd.nextInt(4)),
        createdStep = rnd.nextInt(3),
        notBeforeStep = rnd.nextInt(step + 3),
        state = JobState(finished = rnd.nextInt(10) == 0))
      val keys = Iterator.continually(rnd.nextLong()).distinct
      // one hot host far beyond salt × budget eligible jobs, a few cold ones
      val frontier = (Seq.fill(80)(job("hot.test", keys.next())) ++
        hosts.flatMap(h => Seq.fill(rnd.nextInt(8))(job(h, keys.next())))).toArray
      val disabled = if (seed % 2 == 0) Set("d") else Set.empty[String]
      val jobFilter = if (seed % 3 == 0) Some(keep) else None
      val hotEligible = frontier.count(j => j.host == "hot.test" &&
        !j.state.finished && j.notBeforeStep <= step && !disabled(j.routeId) &&
        jobFilter.forall(_(j)))
      assert(hotEligible > salt * budget, s"seed $seed: hot host has $hotEligible eligible")

      val local = Politeness.waveLocal(frontier, step, budget, caps, disabled, jobFilter)
      val dist = Politeness.wave(spark.createDataset(frontier.toSeq), step, budget,
        caps, disabled, salt, jobFilter).collect()
      assert(local.map(_.urlKey).sorted.sameElements(dist.map(_.urlKey).sorted),
        s"seed $seed: waveLocal ${local.map(_.urlKey).sorted.mkString(",")} " +
          s"!= wave ${dist.map(_.urlKey).sorted.mkString(",")}")
      assert(local.groupBy(_.host).values.forall(_.length <= budget))
      assert(local.count(_.host == "hot.test") == budget, s"seed $seed")
    }
  }
}
