package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports: the operations it attempted, those whose
  * output failed its check, and the metrics by name — end-to-end ones
  * from an untraced run, per-layer ones from a traced run. */
final class Result(traced: Boolean) {
  private var attemptedN = 0L
  private var failedN = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Count one checked operation; returns `ok`. */
  def check(ok: Boolean, what: => String): Boolean = {
    synchronized { attemptedN += 1; if (!ok) failedN += 1 }
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $what")
    ok
  }

  /** An end-to-end metric (reported by untraced runs). Every workload
    * reports the same names; see README.md for what each means per
    * workload. */
  def metric(name: String, value: Double, unit: String): Unit = if (!traced) put(name, value, unit)

  /** A per-layer metric (reported by traced runs). */
  def layer(name: String, value: Double, unit: String): Unit = if (traced) put(name, value, unit)

  private def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not a number: $value")
    metrics(name) = (value, unit)
  }

  def note(s: String): Unit = System.err.println(s"[perfbench] $s")

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Everything a workload needs: arguments, a working directory inside
  * the checkout, the tracer, the listener and the result. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val workDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val lowCores: Int = math.max(1, cores / 4)
  val result = new Result(traced)
  val tracer = new Tracer
  val listener = new JobListener
  val extraTrace = mutable.ArrayBuffer.empty[String]

  def path(name: String): String = s"$workDir/$name"

  /** A workload-specific figure of a traced run: written to the trace
    * JSONL, not to the result line (whose per-layer metrics are the
    * same for every workload). */
  def detail(name: String, value: Double, unit: String): Unit =
    if (traced) extraTrace += s"""{"kind":"detail","name":"$name","value":$value,"unit":"$unit"}"""

  /** A local session with `n` cores; traced runs attach the listener. */
  def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      // one shuffle partition per core, as the engine's own bench harness
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) {
      listener.reset()
      s.sparkContext.addSparkListener(listener)
    }
    s
  }

  /** Run `f` with its Spark jobs tagged by `group` and inside a span,
    * while tracing is on; otherwise just run it. */
  def call[T](spark: SparkSession, layer: String, name: String, group: String)(f: => T): T =
    if (!tracer.active) f
    else {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      try tracer.withRequest(group)(tracer.span(layer, name)(f))
      finally spark.sparkContext.clearJobGroup()
    }

  def span[T](layer: String, name: String)(f: => T): T = tracer.span(layer, name)(f)

  /** In a traced run, trace half the operations in the order untraced,
    * traced, traced, untraced, ... so that a drift over the run (JIT,
    * caches) does not bias the traced-minus-untraced overhead. */
  def alternate[T](i: Long)(f: => T): T = tracer.tracing(traced && (i % 4 == 1 || i % 4 == 2))(f)
}

/** Entry point: `--workload <build|search|ingest> --seed <n>
  * --seconds <s> --trace <0|1> --work-dir <dir>`. Prints the result as
  * the last line of standard output; exits non-zero on any error and,
  * after printing the result, when an output failed its check. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "build" -> BuildWorkload.run,
    "search" -> SearchWorkload.run,
    "ingest" -> IngestWorkload.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val ctx = new Ctx(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("work-dir"))
    val run = Workloads.getOrElse(ctx.workload, sys.error(s"unknown workload ${ctx.workload}"))
    val t0 = System.nanoTime()
    val ok = try {
      run(ctx)
      if (ctx.traced) {
        val file = kv.getOrElse("trace-out", ctx.path("trace.jsonl"))
        ctx.tracer.writeJsonl(file, ctx.extraTrace.toSeq)
        System.err.println(s"[perfbench] trace written to $file")
      }
      System.err.println(f"[perfbench] ${ctx.workload} seed ${ctx.seed}: ${Stats.secondsSince(t0)}%.1f s in the JVM")
      println(ctx.result.json)
      ctx.result.failed == 0 && ctx.result.attempted > 0
    } finally SparkSession.getActiveSession.foreach(_.stop())
    if (!ok) sys.exit(2)
  }
}
