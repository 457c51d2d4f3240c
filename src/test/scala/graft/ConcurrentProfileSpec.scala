package graft

import graft.engine.{CrawlEngine, CrawlTables}
import graft.fixtures.FixtureCorpus
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/**
 * One SparkSession runs two crawls and a query at the same time. Every
 * execution profile (small-wave crawl, small-corpus q14) lives on a clone
 * of the session, so each result equals its serial run and the shared
 * session's conf never moves — a sampler thread watches it throughout.
 */
class ConcurrentProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private val watched = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode",
    "spark.sql.legacy.bucketedTableScan.outputOrdering")
  private def parentConf(): Map[String, Option[String]] =
    watched.map(k => k -> spark.conf.getOption(k)).toMap

  // the redirect/failure fixture under the multi-rule recipe (rule entry
  // waves take the big profile) and a redirect-free one under a single
  // spider rule with the sketch on (every wave small)
  private val paramsA = Queries.fixtureParams
  private val paramsB = FixtureCorpus.Params(hosts = 3, pagesPerHost = 4,
    linksPerPage = 3, redirectPages = 0, failPages = 0, plainPages = 0,
    ftpHost = false)

  private type CrawlResult =
    (Seq[(String, Int)], Seq[(Int, String, Int, Boolean)], Seq[String])
  private def summary(t: CrawlTables): CrawlResult = (
    t.seen.orderBy("seq").select("url", "wave").as[(String, Int)].collect.toSeq,
    t.processed.orderBy("ord").select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect.toSeq,
    t.dump.orderBy("seq").select("url").as[String].collect.toSeq)

  private def crawlA(): CrawlResult = summary(new CrawlEngine(spark,
    FixtureCorpus.generate(paramsA).toDF, FixtureCorpus.seedUrl(paramsA),
    Queries.fixtureRules, useSketch = true).run())
  private def crawlB(): CrawlResult = summary(new CrawlEngine(spark,
    FixtureCorpus.generate(paramsB).toDF, FixtureCorpus.seedUrl(paramsB),
    Seq(RecipeRule(spider = Some(".*"), depth = 4)), useSketch = true).run())
  private def q14(): Set[(Long, Long, Double)] =
    Queries.q14MinhashPairs(spark, sf).as[(Long, Long, Double)].collect.toSet

  test("two crawls and q14 run concurrently: serial results, parent conf untouched") {
    val start = parentConf()
    val serialA = crawlA()
    val serialB = crawlB()
    val serialQ = q14()
    assert(serialA._1.nonEmpty && serialB._1.nonEmpty && serialQ.nonEmpty)
    assert(parentConf() == start, "a serial run changed the parent's conf")

    val drift = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        val now = parentConf()
        if (now != start) drift.add(now.toString)
        Thread.sleep(1)
      }
    })
    sampler.start()
    val (gotA, gotB, gotQ) =
      try {
        val fa = Future(crawlA())
        val fb = Future(crawlB())
        val fq = Future(q14())
        Await.result(for (a <- fa; b <- fb; q <- fq) yield (a, b, q), 10.minutes)
      } finally { running = false; sampler.join() }

    assert(drift.isEmpty,
      s"the parent's conf moved during the run: ${drift.peek()} (start $start)")
    assert(parentConf() == start, "the parent's conf changed")
    assert(gotA == serialA, "fixture crawl A differs from its serial run")
    assert(gotB == serialB, "fixture crawl B differs from its serial run")
    assert(gotQ == serialQ, "q14 differs from its serial run")
  }
}
