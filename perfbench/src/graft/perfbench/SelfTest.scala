package graft.perfbench

import java.nio.file.Paths
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * The benchmark's own test of its span accounting: every Spark job that
 * starts inside a span is charged to exactly one span, the innermost one
 * open at the time, even when a pooled thread submits it carrying the
 * span property it inherited from an earlier, closed span. Jobs outside
 * every span are charged nowhere.
 *
 * Run with `python3 perfbench/run.py --self-test`; exits non-zero on
 * failure.
 */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val spark = Main.session(2, Paths.get(args(0)))
    val failures = try run(spark) finally spark.stop()
    failures.foreach(f => System.err.println(s"self-test FAILED: $f"))
    if (failures.nonEmpty) sys.exit(1)
    System.err.println("self-test passed")
  }

  def run(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    val started = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    })
    def action(): Long = spark.range(0, 1000, 1, 2).selectExpr("sum(id)").count()
    action() // warm
    val drain = () => org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    drain()
    val before = started.get()
    action()
    drain()
    val k = started.get() - before // jobs one action starts

    val tr = new Tracer(spark, "self-test")
    val pool = Executors.newSingleThreadExecutor()
    val total0 = started.get()
    try {
      action() // outside every span
      tr.span("outer") {
        action()
        tr.span("inner") { action(); action() }
      }
      // the pool's thread is created here and inherits span "a"'s property
      tr.span("a")(pool.submit(new Runnable { def run(): Unit = () }).get())
      tr.span("b")(pool.submit(new Runnable { def run(): Unit = action() }).get())
      action() // outside every span
    } finally pool.shutdown()
    tr.drain()
    drain()
    val total = started.get() - total0

    val spans = tr.closedSpans.map(s => s.name -> s).toMap
    val attribution = tr.attribution
    val selfJobs = attribution.values.flatten.groupBy(identity).map {
      case (id, xs) => tr.closedSpans(id).name -> xs.size
    }.withDefaultValue(0)
    def check(ok: Boolean, what: String): Seq[String] = if (ok) Nil else Seq(what)
    tr.close()
    check(k >= 1, s"an action started $k jobs") ++
      check(attribution.values.forall(_.size == 1),
        "a job was charged to more than one span") ++
      check(attribution.size == 4 * k, s"${attribution.size} jobs charged, want ${4 * k}") ++
      check(total == 6 * k, s"$total jobs started, want ${6 * k}") ++
      check(selfJobs("outer") == k, s"outer charged ${selfJobs("outer")}, want $k") ++
      check(selfJobs("inner") == 2 * k, s"inner charged ${selfJobs("inner")}, want ${2 * k}") ++
      check(selfJobs("a") == 0, s"a charged ${selfJobs("a")}, want 0") ++
      check(selfJobs("b") == k, s"b (stale thread property) charged ${selfJobs("b")}, want $k") ++
      check(tr.charge(spans("outer")).jobs == 3 * k,
        s"outer inclusive ${tr.charge(spans("outer")).jobs}, want ${3 * k}") ++
      check(tr.selfS(spans("outer")) <= spans("outer").wallS - spans("inner").wallS + 1e-6,
        "outer self time covers its child")
  }
}
