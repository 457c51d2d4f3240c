package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import Workloads._

/**
 * One benchmark run in one JVM: a closed loop in which a single caller
 * runs the workload's passes back to back on `local[cores]`.
 *
 *   set-up   session start, then inputs + reference outputs (three times,
 *            median kept), then one untimed warm-up pass;
 *   measure  passes until `seconds` of pass time are spent; every pass's
 *            output is checked after its clock stops;
 *   trace    (trace mode only) untraced and traced passes alternate, then
 *            the per-layer probes run under spans.
 *
 * Arguments: --workload --seed --seconds --trace --cores --work --refs
 * --traces --result. The result (a JSON object) goes to --result.
 */
object Main {

  /** Timed passes a run makes at least. The first timed pass is still
    * slower than the next (the JIT is not done), so a median over a
    * varying number of passes would shift with that number; a fixed
    * count keeps it comparable, and `seconds` only adds passes on
    * machines where two passes take less. */
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    val spark = session(cores, work)
    try {
      val out = run(spark, workload, seed, seconds, trace, work,
        Paths.get(a("refs")), Paths.get(a("traces")))
      Files.write(Paths.get(a("result")), out.getBytes(UTF_8))
    } finally spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s]: $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Running totals of checked operations. */
  final class Ops {
    var attempted = 0
    var failed = 0
    def record(p: Pass): Unit = {
      val why = p.check()
      why.foreach(w => log(s"check failed: $w"))
      attempted += p.ops
      failed += why.size
    }
    def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          trace: Boolean, work: Path, refs: Path, traces: Path): String = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = Ctx(spark, seed, work, refs.resolve("dedup"))
    val w = Workloads(name, ctx)
    val ops = new Ops
    val prepareS = (1 to 3).map(_ => timed(w.prepare())._2)
    val (warm, warmS) = timed(w.pass(None))
    log(f"set-up: session $sessionS%.2f s, prepare ${prepareS.mkString(" ")} s, " +
      f"warm-up $warmS%.2f s")
    ops.record(warm)
    warm.cleanup()
    val setupS = sessionS + median(prepareS) + warmS

    val tracer =
      if (trace) Some(new Tracer(spark, s"$name-seed$seed-${System.currentTimeMillis()}"))
      else None
    // (items, seconds) of every untraced pass; traced passes keep their
    // outputs for the layer probes
    val untraced = ArrayBuffer.empty[(Long, Double)]
    val traced = ArrayBuffer.empty[(Pass, Map[String, Double])]
    var spent = 0.0
    // at least MinPasses untraced passes, and passes until `seconds` of
    // pass time are spent; in trace mode untraced and traced passes
    // alternate and come in pairs
    while (untraced.size < MinPasses || spent < seconds ||
        (trace && traced.size < untraced.size)) {
      val tr = tracer.filter(_ => untraced.size > traced.size)
      val from = tracer.fold(0)(_.closedSpans.size)
      val p = w.pass(tr)
      spent += p.seconds
      log(f"pass${if (tr.isDefined) " (traced)" else ""}: ${p.seconds}%.3f s, ${p.items} items")
      ops.record(p)
      tr match {
        case Some(t) => traced += ((p, PerLayer.ofPass(t, t.closedSpans.drop(from), p)))
        case None => untraced += ((p.items, p.seconds)); p.cleanup()
      }
    }

    def itemsPerS(ps: Seq[(Long, Double)]): Double = median(ps.map { case (n, s) => n / s })
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(("items_per_s", itemsPerS(untraced.toSeq), "1/s"),
          ("setup_s", setupS, "s"))
      case Some(tr) =>
        val perPass = traced.map(_._2)
        val passMedians = perPass.flatMap(_.keys).distinct
          .map(k => k -> median(perPass.flatMap(_.get(k)).toSeq)).toMap
        val probes = PerLayer.probes(ctx, tr, w, traced.last._1, ops.record)
        traced.foreach(_._1.cleanup())
        tr.dump(traces.resolve(s"${tr.runId}.jsonl"))
        tr.close()
        val plain = itemsPerS(untraced.toSeq)
        val withTrace = itemsPerS(traced.toSeq.map(t => (t._1.items, t._1.seconds)))
        val refS = w match {
          case c: CrawlWorkload => median(c.refTimes.toSeq)
          case _ => 0.0
        }
        val all = passMedians ++ probes ++ Map(
          "oracle.ref_crawl_s" -> refS,
          "oracle.engine_over_ref" ->
            (if (refS > 0) passMedians.getOrElse("engine.wall_s", 0.0) / refS else 0.0),
          "tracing.items_per_s_untraced" -> plain,
          "tracing.items_per_s_traced" -> withTrace,
          "tracing.overhead_items_per_s" -> (withTrace - plain),
          "error_rate" -> ops.errorRate)
        PerLayer.Names.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
    }
    w.release()
    log("done")
    Json.obj("correct" -> (ops.failed == 0), "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
  }
}
