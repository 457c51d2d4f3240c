package graft.perfbench

import graft.engine.{CrawlEngine, CrawlTables}
import graft.fixtures.FixtureCorpus
import graft.model._
import graft.oracle.RefCrawler
import graft.tableio.TableIO
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The outcome of one timed pass. `check` runs after the clock stops and
  * returns one message per failed operation; `ops` operations were
  * attempted. `extra` holds workload-specific timings and sizes. */
final class Pass(val items: Long, val seconds: Double, val ops: Int,
                 val check: () => Seq[String],
                 val extra: Map[String, Double] = Map.empty,
                 val tables: Option[CrawlTables] = None,
                 val cleanup: () => Unit = () => ())

/** A benchmark workload: `prepare` builds inputs and reference outputs
  * from the seed (set-up, untimed); `pass` runs one timed unit of work. */
trait Workload {
  def prepare(): Unit
  def pass(tracer: Option[Tracer]): Pass
  /** Drops what `prepare` cached. */
  def release(): Unit = ()
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "polite_crawl" => new PoliteCrawl(ctx)
    case "dedup_pipeline" => new DedupPipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Everything a workload needs from the run: session, seed, scratch
    * directory (inside the checkout) and the reference-data directory. */
  final case class Ctx(spark: SparkSession, seed: Long, work: Path, refDir: Path)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def traced[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def treeBytesAndFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def expect[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what differs from the reference")
}

import Workloads._

/** A crawl workload: corpus + seed + rules + config, checked against the
  * sequential reference crawler on the same inputs. */
abstract class CrawlWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  protected def docs: Seq[CorpusDoc]
  protected def seedUrl: String
  protected def rules: Seq[RecipeRule]
  def config: CrawlConfig = CrawlConfig()
  /** Persist the corpus (big webs) or keep it a local relation (the
    * fixture, as `Queries.fixtureCrawl` runs it). */
  protected def persistCorpus: Boolean = true

  var corpusDocs: Seq[CorpusDoc] = Nil
  var corpus: DataFrame = _
  var ref: RefCrawler.CrawlResult = _
  /** Seconds the reference crawler took, per `prepare` (the oracle layer). */
  val refTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    release()
    corpusDocs = docs
    val (r, s) = timed(RefCrawler.run(corpusDocs, seedUrl, rules, config = config))
    ref = r
    refTimes += s
    corpus = corpusDocs.toDF
    if (persistCorpus) {
      corpus = corpus.persist(StorageLevel.MEMORY_AND_DISK)
      corpus.count()
    }
  }

  override def release(): Unit = if (corpus != null) corpus.unpersist(true)

  def engine(checkpoint: Option[TableIO] = None,
             stopAfterWaves: Option[Int] = None): CrawlEngine =
    new CrawlEngine(ctx.spark, corpus, seedUrl, rules, config = config,
      checkpoint = checkpoint, useSketch = true,
      stopAfterWaves = stopAfterWaves)

  def seenOrder(t: CrawlTables): Seq[(String, Int)] =
    t.seen.orderBy("seq").select("url", "wave").as[(String, Int)].collect().toSeq
  def refSeen: Seq[(String, Int)] = ref.seen.map(s => (s.url, s.wave))

  def blocked(t: CrawlTables): Seq[String] =
    t.robotsBlocked.select("url").as[String].collect().toSeq.sorted

  def processedOrder(t: CrawlTables): Seq[(Int, String, Int, Boolean)] =
    t.processed.orderBy("ord").select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect().toSeq
  def refProcessed: Seq[(Int, String, Int, Boolean)] =
    ref.processed.map(p => (p.wave, p.url, p.mode, p.retry))

  /** The seen set in `seq` order and the robots-blocked set. */
  def checkSeenAndBlocked(t: CrawlTables): Seq[String] =
    expect("seen set (seq order)", seenOrder(t), refSeen) ++
      expect("robots-blocked set", blocked(t), ref.robotsBlocked.sorted)

  /** Name of the span around a traced pass's crawl. */
  protected def spanName: String = "engine.run"

  def pass(tracer: Option[Tracer]): Pass = {
    val ((t, n), s) = timed(traced(tracer, spanName) {
      val t = engine().run()
      (t, t.seen.count())
    })
    new Pass(n, s, 1, () => failedCrawl(t), tables = Some(t))
  }

  /** The check's mismatches as one failed operation. */
  protected def failedCrawl(t: CrawlTables): Seq[String] = {
    val why = check(t)
    if (why.isEmpty) Nil else Seq(why.mkString("; "))
  }

  def check(t: CrawlTables): Seq[String]
}

/** The fixture web of `Queries.fixtureParams`/`fixtureRules`, seeded:
  * redirects, temporal failures with retry, an FTP listing, a dump mask
  * and wrong-type `.txt` pages; about 20 URLs over 3 waves, every wave on
  * the small-wave path. Run as a probe of the traced run. */
final class FixtureCrawl(ctx: Ctx) extends CrawlWorkload(ctx) {
  import ctx.spark.implicits._
  private val params = graft.Queries.fixtureParams.copy(seed = ctx.seed)
  protected def docs: Seq[CorpusDoc] = FixtureCorpus.generate(params)
  protected def seedUrl: String = FixtureCorpus.seedUrl(params)
  protected def rules: Seq[RecipeRule] = graft.Queries.fixtureRules
  override protected def persistCorpus: Boolean = false
  override protected def spanName: String = "fixture.run"

  /** All six surfaces: seen, processing and dump order, edges, aliases
    * and the fetch log. */
  def check(t: CrawlTables): Seq[String] = {
    val dump = t.dump.orderBy("seq").select("url").as[String].collect().toSeq
    val edges = t.edges.select("src", "dst", "wave")
      .as[(String, String, Int)].collect().toSet
    val aliases = t.aliases.select("canonicalUrl", "aliasUrl", "wave")
      .as[(String, String, Int)].collect().toSet
    val log = t.fetchLog.select("wave", "url", "mode", "errorCode", "attempt")
      .as[(Int, String, Int, Int, Int)].collect().toSeq.sorted
    expect("seen order", seenOrder(t), refSeen) ++
      expect("processing order", processedOrder(t), refProcessed) ++
      expect("dump order", dump, ref.dump) ++
      expect("edges", edges, ref.edges.map { case ((s, d), w) => (s, d, w) }.toSet) ++
      expect("aliases", aliases, ref.aliases.toSet) ++
      expect("fetch log", log, ref.fetchLog
        .map(l => (l.wave, l.url, l.mode, l.errorCode, l.attempt)).sorted)
  }
}

object PoliteCrawl {
  val Fanout = 30
  val Hosts = 100
  val HotPct = 20
  val DenyHosts = 5
  /** The hot host holds about 180 (sd 12) of the widest fetch wave's 900
    * pages: a budget of 70 drains it in 3 politeness chunks for every
    * count from 141 to 210, so the work per crawl does not depend on the
    * seed. */
  val PerHostBudget = 70
  /** The checkpointed leg drops its engine after this many waves. */
  val KillAfterWaves = 2
}

/** A seeded, skewed tree web under a per-host politeness budget and
  * robots deny rules: the north-rule path. */
final class PoliteCrawl(ctx: Ctx) extends CrawlWorkload(ctx) {
  import PoliteCrawl._
  val web: Inputs.TreeWeb = Inputs.TreeWeb(Fanout, 3, Hosts, HotPct, ctx.seed)
  protected def docs: Seq[CorpusDoc] = web.docs
  protected def seedUrl: String = web.seedUrl
  protected def rules: Seq[RecipeRule] = Seq(RecipeRule(spider = Some(".*"), depth = 3))
  override val config: CrawlConfig =
    CrawlConfig(perHostBudget = Some(PerHostBudget), robots = web.robots(DenyHosts))

  def check(t: CrawlTables): Seq[String] = checkSeenAndBlocked(t)

  /** The same crawl with a TableIO snapshot committed every wave: the
    * engine is dropped after `KillAfterWaves` waves and a fresh engine
    * resumes from the latest snapshot to the end. The resumed state must
    * equal the uninterrupted crawl: seen set, robots-blocked set and
    * processing order. The snapshots stay in `dir` until `cleanup`. */
  def checkpointed(tracer: Option[Tracer], dir: Path): Pass = {
    val first = engine(Some(new TableIO(dir.toString, ctx.spark)), Some(KillAfterWaves))
    val second = engine(Some(new TableIO(dir.toString, ctx.spark)))
    val (_, leg1) = timed(traced(tracer, "checkpoint.run")(first.run()))
    val ((t, n), leg2) = timed(traced(tracer, "checkpoint.resume") {
      val t = second.resume()
      (t, t.seen.count())
    })
    val (bytes, files) = treeBytesAndFiles(dir)
    val (c1, k1) = first.commitStats
    val (c2, k2) = second.commitStats
    def failed(): Seq[String] = {
      val why = check(t) ++ expect("processing order", processedOrder(t), refProcessed)
      if (why.isEmpty) Nil else Seq(s"resumed crawl: ${why.mkString("; ")}")
    }
    new Pass(n, leg1 + leg2, 1, () => failed(),
      Map("resume_s" -> leg2, "commit_s" -> (c1 + c2),
        "commits" -> (k1 + k2).toDouble,
        "bytes_written" -> bytes.toDouble, "files" -> files.toDouble),
      Some(t), () => rmTree(dir))
  }
}

object DedupPipeline {
  val Queries: Seq[String] = Seq("q12_exact_dedup", "q14_minhash_pairs",
    "q76_prefix_ssjoin", "q79_dup_spans", "q37_dup_clusters")
  val Docs = 1000
  /** Fixed generator seed: the dedup input does not follow `--seed`. */
  val DocsSeed = 42L
  /** Absolute tolerance on floating-point output columns. */
  val FloatTolerance = 1e-9
}

/** The training-data half: five dedup/similarity queries over a fixed
  * generated `documents` table, each checked against its DuckDB reference
  * result (computed from `SparkEntry.oracleSql` by `make_ref.py`). */
final class DedupPipeline(ctx: Ctx) extends Workload {
  import DedupPipeline._
  private val dir = ctx.work.resolve("docs")
  private var reference: Map[String, Reference] = Map.empty

  def prepare(): Unit = {
    import ctx.spark.implicits._
    val docs = Inputs.documents(Docs, DocsSeed)
    rmTree(dir)
    docs.toDS.coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    reference = Reference.load(ctx.refDir, Queries, Inputs.docsDigest(docs))
  }

  def pass(tracer: Option[Tracer]): Pass = {
    val results = Queries.map { q =>
      val (rows, s) = timed(traced(tracer, s"pipeline.$q") {
        val df = graft.SparkEntry.queries(q)(ctx.spark, dir.toString)
        (df.schema, df.collect().toSeq)
      })
      (q, rows, s)
    }
    new Pass(Docs.toLong, results.map(_._3).sum, Queries.size,
      () => results.flatMap { case (q, (schema, rows), _) =>
        reference(q).compare(schema, rows).map(why => s"$q: $why")
      })
  }
}
