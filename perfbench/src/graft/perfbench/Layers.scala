package graft.perfbench

import graft.engine.{CrawlTables, Scheduler}
import graft.extract.Extract
import graft.functions.{CanonicalHost, CanonicalUrl, RewriteUrl}
import graft.seenset.{SeenFilter, SeenSet}
import graft.tableio.TableIO
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-layer probes of the traced run. Each calls one layer's public entry
 * point inside a span, on the inputs (and final crawl state) of the
 * workload the layer is measured on; inputs are materialized before the
 * span opens so the span holds only the layer's own work.
 */
final class Layers(spark: SparkSession, tracer: Tracer) {
  import spark.implicits._

  private def timedSpan[T](name: String)(body: => T): (T, SpanRec) = {
    val r = tracer.span(name)(body)
    (r, tracer.closedSpans.filter(_.name == name).last)
  }

  private def expr(c: Column) = GraftColumnBridge.expression(c)
  private def column(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    GraftColumnBridge.column(e)

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** `Scheduler.robotsFilter` and a `dequeueChunk` loop draining the
    * crawl's fetchable frontier (its corpus pages, in seen order) at the
    * crawl's per-host budget. */
  def scheduler(w: PoliteCrawl, t: CrawlTables): Map[String, Double] = {
    val frontier = t.seen
      .join(w.corpus.select(col("doc_id").as("url")), Seq("url"), "left_semi")
      .select(col("url"), col("canonicalHost").as("host"), col("seq"))
      .localCheckpoint(true)
    val total = frontier.count()
    val ((admitted, blockedN), robots) = timedSpan("scheduler.robots") {
      val (a, b) = Scheduler.robotsFilter(spark, frontier, w.config.robots)
      (a.localCheckpoint(true), b.count())
    }
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (chunks, dequeue) = timedSpan("scheduler.dequeue") {
      var pending = admitted
      var left = pending.count()
      var n = 0
      while (left > 0) {
        val (chunk, rest) = Scheduler.dequeueChunk(pending,
          PoliteCrawl.PerHostBudget, register = pins += _)
        left -= chunk.count()
        pending = rest.localCheckpoint(true)
        n += 1
      }
      n
    }
    pins.foreach(_.unpersist(false))
    tracer.drain()
    val rc = tracer.charge(robots)
    val dc = tracer.charge(dequeue)
    Map("scheduler.robots_s" -> robots.wallS,
      "scheduler.robots_blocked_ratio" -> ratio(blockedN, total),
      "scheduler.dequeue_s" -> dequeue.wallS,
      "scheduler.chunks" -> chunks.toDouble,
      "scheduler.task_skew" -> dc.taskSkew,
      "scheduler.shuffle_write_bytes" ->
        (rc.shuffleWriteBytes + dc.shuffleWriteBytes).toDouble)
  }

  /** Every link the corpus pages carry, rewritten against its page as
    * the engine does, with its canonical host. */
  private def candidates(corpus: DataFrame): DataFrame =
    Extract.findall(corpus.select("doc_id", "spans"))
      .select(column(RewriteUrl(expr(col("doc_id")), expr(col("url")))).as("url"))
      .filter(col("url").isNotNull)
      .select(col("url"), column(CanonicalHost(expr(col("url")))).as("host"))
      .localCheckpoint(true)

  /** The seen set as it stood before the last wave's discoveries is
    * rebuilt into a sketch; every extracted link is then split by the
    * sketch and deduplicated exactly against that seen set. */
  def seenset(corpus: DataFrame, t: CrawlTables): Map[String, Double] = {
    val lastWave = t.seen.agg(max("wave")).as[Int].head()
    val prior = t.seen.filter(col("wave") < lastWave).localCheckpoint(true)
    val cands = candidates(corpus)
    val candN = cands.count()
    val filter = SeenFilter.empty
    val (_, rebuild) = timedSpan("seenset.rebuild") {
      filter.rebuildFrom(spark, prior, "url", "canonicalHost")
    }
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (survivors, filt) = timedSpan("seenset.filter") {
      SeenSet.filterNew(spark, cands, prior, "url", Some(filter), "host",
        register = pins += _).count()
    }
    pins.foreach(_.unpersist(false))
    val (_, maybe) = filter.split(spark, cands, "url", "host")
    val maybeN = maybe.count()
    val maybeNew = maybe.join(prior.select("url"), Seq("url"), "left_anti").count()
    Map("seenset.rebuild_s" -> rebuild.wallS,
      "seenset.filter_s" -> filt.wallS,
      "seenset.sketch_pass_ratio" -> ratio(maybeN, candN),
      "seenset.sketch_fp_ratio" -> ratio(maybeNew, maybeN),
      "seenset.survivors" -> survivors.toDouble)
  }

  /** `Extract.findall` over every corpus page. */
  def extract(corpus: DataFrame): Map[String, Double] = {
    val docs = corpus.count()
    val (links, span) = timedSpan("extract.findall") {
      Extract.findall(corpus.select("doc_id", "spans"))
        .agg(count(lit(1)), sum(length(col("url")))).as[(Long, Long)].head()._1
    }
    Map("extract.findall_s" -> span.wallS,
      "extract.links_per_doc" -> ratio(links, docs),
      "extract.docs_per_s" -> ratio(docs, span.wallS))
  }

  /** The `RewriteUrl`, `CanonicalUrl` and `CanonicalHost` expressions over
    * every extracted link, resolved against its page, as the engine's
    * qualify step applies them. */
  def urlcanon(corpus: DataFrame): Map[String, Double] = {
    val links = Extract.findall(corpus.select("doc_id", "spans"))
      .select("doc_id", "url").localCheckpoint(true)
    val ((total, kept), span) = timedSpan("urlcanon.rewrite") {
      links
        .select(column(RewriteUrl(expr(col("doc_id")), expr(col("url")))).as("r"))
        .select(col("r"), column(CanonicalUrl(expr(col("r")))).as("c"),
          column(CanonicalHost(expr(col("r")))).as("h"))
        .agg(count(lit(1)), count(col("r")), sum(length(col("c")) + length(col("h"))))
        .as[(Long, Long, Option[Long])].head() match { case (a, b, _) => (a, b) }
    }
    Map("urlcanon.rewrite_s" -> span.wallS,
      "urlcanon.urls_per_s" -> ratio(total, span.wallS),
      "urlcanon.dropped_ratio" -> ratio(total - kept, total))
  }

  /** TableIO: `latest` plus a count of every table of the final snapshot. */
  def tableioRead(dir: java.nio.file.Path): Map[String, Double] = {
    val io = new TableIO(dir.toString, spark)
    val (_, span) = timedSpan("tableio.read") {
      val snap = io.latest.get
      snap.tables.keys.toSeq.sorted.foreach(n => io.table(snap, n).count())
    }
    Map("tableio.read_s" -> span.wallS)
  }
}
