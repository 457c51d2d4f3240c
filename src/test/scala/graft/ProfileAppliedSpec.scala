package graft

import graft.engine.CrawlEngine
import graft.fixtures.FixtureCorpus
import graft.model._
import graft.pipeline.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The execution profiles still reach the jobs they scope. Spark copies a
 * session's explicitly set `spark.sql.*` confs into its jobs' local
 * properties, so a listener reads the profile a job actually ran under.
 * A frame left rooted on the caller's session (for a join, the left
 * operand decides) would plan without the profile and show up here.
 */
class ProfileAppliedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Wsc = "spark.sql.codegen.wholeStage"

  /** (description, AQE, whole-stage codegen) of every job `body` runs. */
  private def jobsOf(body: => Unit): Seq[(String, String, String)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        jobs.add((String.valueOf(p.getProperty("spark.job.description")),
          p.getProperty(Aqe), p.getProperty(Wsc)))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext, 30000L) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  test("small-wave crawl jobs run with AQE and whole-stage codegen off") {
    // the parity fixture under one spider rule: the seed wave's size is
    // known and no wave exceeds the small-wave threshold
    val params = FixtureCorpus.Params(hosts = 3, pagesPerHost = 3,
      linksPerPage = 3, redirectPages = 2, failPages = 2)
    val engine = new CrawlEngine(spark, FixtureCorpus.generate(params).toDF,
      FixtureCorpus.seedUrl(params), Seq(RecipeRule(spider = Some(".*"), depth = 3)))
    val jobs = jobsOf { engine.run() }
    assert(jobs.nonEmpty)
    val off = jobs.filterNot(j => j._2 == "false" && j._3 == "false")
    assert(off.isEmpty, s"${off.size} of ${jobs.size} wave jobs ran without " +
      s"the small-wave profile: ${off.take(5)}")
  }

  test("q14 join/verify jobs run with AQE off; parent jobs carry neither profile") {
    val docs = Queries.withPlantedDups(spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet"))
    val jobs = jobsOf {
      Dedup.minhashLshPairs(docs, "doc_id", "text", shingleN = 5, k = 120,
        bands = 24, threshold = 0.6).collect()
    }
    val verify = jobs.filter(_._1 == "minhash_join_verify")
    assert(verify.nonEmpty, s"no join/verify jobs among $jobs")
    assert(verify.forall(_._2 == "false"),
      s"join/verify jobs ran with AQE on: $verify")

    val later = jobsOf {
      spark.range(1000).groupBy(($"id" % 7).as("k")).count().collect()
    }
    assert(later.nonEmpty)
    assert(later.forall(j => j._2 != "false" && j._3 != "false"),
      s"a parent job inherited a profile: $later")
  }
}
