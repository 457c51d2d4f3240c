package graft.perfbench

import org.apache.spark.sql.functions._

/** The traced run's per-layer metrics: their names and units, the values
  * read from one traced pass's spans, and the layer probes run after the
  * last traced pass. A layer a workload does not exercise reports 0. */
object PerLayer {

  val Names: Seq[(String, String)] = Seq(
    "engine.wall_s" -> "s", "engine.job_s" -> "s", "engine.driver_s" -> "s",
    "engine.jobs" -> "count", "engine.tasks" -> "count",
    "engine.shuffle_write_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.gc_s" -> "s", "engine.waves" -> "count",
    "engine.fetch_error_ratio" -> "ratio", "engine.discovered_per_fetch" -> "ratio",
    "fixture.wall_s" -> "s", "fixture.driver_s" -> "s", "fixture.jobs" -> "count",
    "scheduler.robots_s" -> "s", "scheduler.robots_blocked_ratio" -> "ratio",
    "scheduler.dequeue_s" -> "s", "scheduler.chunks" -> "count",
    "scheduler.task_skew" -> "ratio", "scheduler.shuffle_write_bytes" -> "bytes",
    "seenset.rebuild_s" -> "s", "seenset.filter_s" -> "s",
    "seenset.sketch_pass_ratio" -> "ratio", "seenset.sketch_fp_ratio" -> "ratio",
    "seenset.survivors" -> "count",
    "extract.findall_s" -> "s", "extract.links_per_doc" -> "ratio",
    "extract.docs_per_s" -> "1/s",
    "urlcanon.rewrite_s" -> "s", "urlcanon.urls_per_s" -> "1/s",
    "urlcanon.dropped_ratio" -> "ratio",
    "tableio.commit_s" -> "s", "tableio.commits" -> "count",
    "tableio.commit_s_per_wave" -> "s", "tableio.bytes_written" -> "bytes",
    "tableio.files" -> "count", "tableio.read_s" -> "s",
    "tableio.resume_s" -> "s", "tableio.store_bytes_per_url" -> "bytes"
  ) ++ DedupPipeline.Queries.flatMap(q =>
    Seq(s"pipeline.${q}_s" -> "s", s"pipeline.$q.jobs" -> "count")) ++ Seq(
    "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.spill_bytes" -> "bytes",
    "oracle.ref_crawl_s" -> "s", "oracle.engine_over_ref" -> "ratio",
    "tracing.items_per_s_untraced" -> "1/s", "tracing.items_per_s_traced" -> "1/s",
    "tracing.overhead_items_per_s" -> "1/s",
    "error_rate" -> "ratio")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Metrics of one traced pass, from the top-level spans it opened. */
  def ofPass(tr: Tracer, spans: Seq[SpanRec], p: Pass): Map[String, Double] = {
    tr.drain()
    val top = spans.filter(_.parent < 0)
    val engine = top.filter(_.name.startsWith("engine."))
    val pipeline = top.filter(_.name.startsWith("pipeline."))
    val out = Map.newBuilder[String, Double]
    if (engine.nonEmpty) {
      val cs = engine.map(tr.charge)
      val wall = engine.map(_.wallS).sum
      val jobS = cs.map(_.jobS).sum
      out ++= Seq("engine.wall_s" -> wall, "engine.job_s" -> jobS,
        "engine.driver_s" -> math.max(0.0, wall - jobS),
        "engine.jobs" -> cs.map(_.jobs).sum.toDouble,
        "engine.tasks" -> cs.map(_.tasks).sum.toDouble,
        "engine.shuffle_write_bytes" -> cs.map(_.shuffleWriteBytes).sum.toDouble,
        "engine.spill_bytes" -> cs.map(_.spillBytes).sum.toDouble,
        "engine.gc_s" -> cs.map(_.gcS).sum)
    }
    p.tables.foreach { t =>
      val r = t.metrics.filter(col("partitionId") === -1)
        .agg(count(lit(1)), sum("fetchedRows"), sum("errorRows"),
          sum("discoveredRows"))
        .head()
      out ++= Seq("engine.waves" -> r.getLong(0).toDouble,
        "engine.fetch_error_ratio" -> ratio(r.getLong(2), r.getLong(1)),
        "engine.discovered_per_fetch" -> ratio(r.getLong(3), r.getLong(1)))
    }
    if (pipeline.nonEmpty) {
      val cs = pipeline.map(s => s -> tr.charge(s))
      cs.foreach { case (s, c) =>
        out ++= Seq(s"${s.name}_s" -> s.wallS, s"${s.name}.jobs" -> c.jobs.toDouble)
      }
      out ++= Seq(
        "pipeline.shuffle_write_bytes" -> cs.map(_._2.shuffleWriteBytes).sum.toDouble,
        "pipeline.spill_bytes" -> cs.map(_._2.spillBytes).sum.toDouble)
    }
    out.result()
  }

  /** Layer probes on the workload's inputs and its last traced pass;
    * `record` checks the outputs of the probes that crawl. */
  def probes(ctx: Workloads.Ctx, tr: Tracer, w: Workload, last: Pass,
             record: Pass => Unit): Map[String, Double] = w match {
    case p: PoliteCrawl =>
      val layers = new Layers(ctx.spark, tr)
      val t = last.tables.get
      layers.scheduler(p, t) ++ layers.seenset(p.corpus, t) ++
        layers.extract(p.corpus) ++ layers.urlcanon(p.corpus) ++
        tableio(ctx, tr, p, layers, record) ++ fixture(ctx, tr, record)
    case _ => Map.empty
  }

  /** The checkpointed leg of the crawl: commit and resume costs, what the
    * snapshots hold, and a read of every table of the final snapshot. */
  private def tableio(ctx: Workloads.Ctx, tr: Tracer, w: PoliteCrawl,
                      layers: Layers, record: Pass => Unit): Map[String, Double] = {
    val dir = ctx.work.resolve("snapshots")
    val p = w.checkpointed(Some(tr), dir)
    record(p)
    val read = layers.tableioRead(dir)
    p.cleanup()
    val commitS = p.extra("commit_s")
    val commits = p.extra("commits")
    val bytes = p.extra("bytes_written")
    read ++ Map("tableio.commit_s" -> commitS, "tableio.commits" -> commits,
      "tableio.commit_s_per_wave" -> ratio(commitS, commits),
      "tableio.bytes_written" -> bytes, "tableio.files" -> p.extra("files"),
      "tableio.resume_s" -> p.extra("resume_s"),
      "tableio.store_bytes_per_url" -> ratio(bytes, p.items))
  }

  /** The fixture crawl (every wave on the small-wave path), once to warm
    * its code paths and once traced: the engine's fixed per-wave cost. */
  private def fixture(ctx: Workloads.Ctx, tr: Tracer,
                      record: Pass => Unit): Map[String, Double] = {
    val f = new FixtureCrawl(ctx)
    f.prepare()
    val passes = Seq(f.pass(None), f.pass(Some(tr)))
    passes.foreach(record)
    tr.drain()
    val span = tr.closedSpans.filter(_.name == "fixture.run").last
    val c = tr.charge(span)
    Map("fixture.wall_s" -> span.wallS,
      "fixture.driver_s" -> math.max(0.0, span.wallS - c.jobS),
      "fixture.jobs" -> c.jobs.toDouble)
  }
}
