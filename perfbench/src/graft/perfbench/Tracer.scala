package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded span: `(name, start, end, parent, run_id)` plus the JVM GC
  * time that elapsed inside it. Times are wall-clock milliseconds (the
  * clock Spark stamps job events with) and nanoTime for durations. */
final case class SpanRec(id: Int, name: String, parent: Int, runId: String,
                         startMs: Long, startNs: Long, gcStartMs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  var gcMs: Long = 0L
  def closed: Boolean = endMs >= 0
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Counters a span is charged with: its own jobs and those of its
  * descendants, with their tasks, shuffle writes, spills and the per-task
  * input rows of every stage (for skew). */
final case class Charge(jobs: Int, tasks: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, jobS: Double, gcS: Double,
                        stageRows: Map[Int, Seq[Long]]) {
  /** Largest stage's max-over-median task input rows (0 when no stage of
    * the span read rows on two or more tasks). */
  def taskSkew: Double = {
    val stages = stageRows.values.filter(r => r.size >= 2 && r.sum > 0)
    if (stages.isEmpty) 0.0
    else {
      val rows = stages.maxBy(_.sum).sorted
      val median = rows(rows.size / 2)
      if (median == 0) rows.last.toDouble else rows.last.toDouble / median
    }
  }
}

/**
 * Benchmark-side tracing: spans are recorded around the benchmark's own
 * calls into each layer (nothing is traced inside the program), and a
 * SparkListener charges every Spark job to the innermost span that was
 * open when the job started. Jobs submitted from pooled threads (TableIO's
 * concurrent writes) may carry a stale span property, so the property only
 * breaks ties between spans that contain the job's start time.
 *
 * Spans are kept in memory and written once, by `dump`, when the run ends.
 */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[SpanRec]
  private var open: List[SpanRec] = Nil

  private final class JobRec(val id: Int, val startMs: Long, val prop: Option[Int]) {
    var endMs: Long = -1L
    var tasks: Long = 0L
    var shuffleWrite: Long = 0L
    var spill: Long = 0L
    val stageRows = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  }
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = SpanRec(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      runId, System.currentTimeMillis(), System.nanoTime(), gcMillis())
    synchronized { spans += s }
    open = s :: open
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = gcMillis() - s.gcStartMs
      open = open.tail
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, prop)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.stageRows.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) +=
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
  }

  /** Waits until every posted job and task event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  def closedSpans: Seq[SpanRec] = synchronized(spans.filter(_.closed).toSeq)

  private def depth(s: SpanRec): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** The one span a job is charged to: among the closed spans whose
    * interval holds the job's start, the one named by the job's span
    * property, else the deepest (latest-started on ties). None when the
    * job started outside every span. */
  private def chargedTo(j: JobRec): Option[Int] = {
    val holders = spans.filter(s =>
      s.closed && s.startMs <= j.startMs && j.startMs <= s.endMs)
    if (holders.isEmpty) None
    else j.prop.filter(p => holders.exists(_.id == p))
      .orElse(Some(holders.maxBy(s => (depth(s), s.startNs)).id))
  }

  /** Job id -> the spans it is charged to (at most one by construction),
    * for every job that started inside some span. */
  def attribution: Map[Int, Seq[Int]] = synchronized {
    jobs.values.flatMap(j => chargedTo(j).map(s => j.id -> Seq(s))).toMap
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Inclusive counters of a span: its jobs and its descendants'. */
  def charge(s: SpanRec): Charge = synchronized {
    val ids = descendants(s.id) + s.id
    val mine = jobs.values.filter(j => chargedTo(j).exists(ids)).toSeq
    val intervals = mine.map(j =>
      (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
    Charge(mine.size, mine.map(_.tasks).sum, mine.map(_.shuffleWrite).sum,
      mine.map(_.spill).sum, covered(intervals) / 1000.0, s.gcMs / 1000.0,
      mine.flatMap(_.stageRows.map { case (k, v) => k -> v.toSeq }).toMap)
  }

  /** Span time minus the part of it its child spans cover. */
  def selfS(s: SpanRec): Double = synchronized {
    val kids = spans.filter(k => k.parent == s.id && k.closed)
      .map(k => (k.startNs, k.endNs)).toSeq
    s.wallS - covered(kids) / 1e9
  }

  /** Writes every span, one JSON object per line. */
  def dump(path: java.nio.file.Path): Unit = {
    drain()
    val lines = closedSpans.map { s =>
      val c = charge(s)
      Json.obj("run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> selfS(s), "jobs" -> c.jobs,
        "tasks" -> c.tasks, "job_s" -> c.jobS,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "gc_s" -> c.gcS)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val SpanProp = "perfbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Length of the union of half-open intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }
}
