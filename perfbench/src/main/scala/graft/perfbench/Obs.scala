package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Small statistics helpers shared by the workloads. */
object Stats {
  /** Nearest-rank percentile (p in (0, 1]) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** Total bytes of the regular files under `dir` (checksum side files
    * excluded: they are filesystem bookkeeping, not index data). */
  def dirBytes(dir: String): Long = dirFiles(dir).map(_.length()).sum

  def dirFiles(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.endsWith(".crc")).toSeq
      finally s.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

/** Peak live heap of the driver JVM: the old-generation occupancy
  * after a full collection, taken at operation boundaries (between
  * timed operations, never inside one) and at the end of the window.
  * Collections the JVM runs on its own in the middle of an operation
  * are not counted: when they happen depends on allocation timing, so
  * the in-flight working set they catch would make the figure noise. */
object Heap {
  private val peak = new AtomicLong(0L)

  private def oldUsed: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum

  /** Start a measurement window (forgets earlier peaks). */
  def arm(): Unit = { peak.set(0L); sample() }

  /** Force a full collection and record the live old generation. The
    * second collection runs after Spark's ContextCleaner has had a
    * moment to drop what the first one found unreachable. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak.accumulateAndGet(oldUsed, math.max)
  }

  def peakMb: Double = peak.get() / (1024.0 * 1024.0)
}

/** One timed call into a module of the engine. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    req: String, startNs: Long, endNs: Long)

/** Spans around every call the benchmark makes into the engine. Kept
  * in memory and written as JSONL at exit. Tracing is switched per
  * thread and per operation: a traced run alternates traced and
  * untraced operations, so the difference between the two is the
  * tracing overhead. Off, `span` only runs the body. */
final class Tracer {
  private val on = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  def active: Boolean = on.get()

  def tracing[T](flag: Boolean)(f: => T): T = {
    val prev = on.get()
    on.set(flag)
    try f finally on.set(prev)
  }

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val request = new ThreadLocal[String] { override def initialValue(): String = "" }

  def withRequest[T](req: String)(f: => T): T = {
    val prev = request.get()
    request.set(req)
    try f finally request.set(prev)
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!active) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), layer, name,
          request.get(), t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = Intervals.unionLength(
          children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: String, extra: Seq[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      val t0 = all.headOption.map(_.startNs).getOrElse(0L)
      all.foreach { s =>
        w.println(s"""{"kind":"span","id":${s.id},"parent":${s.parent},""" +
          s""""layer":"${s.layer}","name":"${Json.esc(s.name)}","req":"${Json.esc(s.req)}",""" +
          s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}""")
      }
      selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (l, sec) =>
        w.println(s"""{"kind":"layer_self","layer":"$l","self_s":$sec}""")
      }
      extra.foreach(w.println)
    } finally w.close()
  }
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    resultBytes: Long, inputRows: Long)

final case class StageRec(stageId: Int, submitMs: Long, firstTaskMs: Long)

final case class JobRec(jobId: Int, group: String, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** The benchmark's own SparkListener: jobs (with the job group that
  * was set around the call in flight), stages and tasks with CPU, GC,
  * shuffle, spill and result bytes. */
final class JobListener extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageFirstTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)

  /** Forget everything seen so far. A new SparkContext numbers its
    * jobs and stages from 0 again, so records of an earlier session
    * would be attributed to the new one's ids. */
  def reset(): Unit = {
    jobStarts.clear(); jobs.clear(); stageSubmit.clear(); stageFirstTask.clear(); tasks.clear()
    started.set(0); ended.set(0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStarts.put(e.jobId, (group, e.time, e.stageIds))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (g, t0, st) =>
      jobs.add(JobRec(e.jobId, g, t0, e.time, st))
    }
    ended.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstTask.merge(e.stageId, e.taskInfo.launchTime, (a: Long, b: Long) => math.min(a, b))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize, m.inputMetrics.recordsRead))
  }

  /** Wait until every started job has been seen ending (task events
    * precede their job's end event on the listener bus). */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  def jobsSnapshot: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.jobId)
  def tasksSnapshot: Seq[TaskRec] = tasks.asScala.toSeq

  def stage(id: Int): Option[StageRec] =
    Option(stageSubmit.get(id)).map(s =>
      StageRec(id, s, Option(stageFirstTask.get(id)).getOrElse(s)))

  /** Aggregates per job group. */
  def profilesByGroup: Map[String, Profile] = {
    val ts = tasksSnapshot.groupBy(_.stageId)
    jobsSnapshot.groupBy(_.group).map { case (g, js) =>
      val sids = js.flatMap(_.stageIds).distinct
      g -> Profile(js, sids.flatMap(ts.getOrElse(_, Nil)), sids.flatMap(stage))
    }
  }
}

final case class Profile(jobs: Seq[JobRec], tasks: Seq[TaskRec], stages: Seq[StageRec]) {
  def jobIntervalsMs: Seq[(Long, Long)] = jobs.map(j => (j.startMs, j.endMs))
  def taskIntervalsMs: Seq[(Long, Long)] = tasks.map(t => (t.launchMs, t.finishMs))
  def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
  def spill: Long = tasks.map(_.spill).sum
  def resultBytes: Long = tasks.map(_.resultBytes).sum
  def inputRows: Long = tasks.map(_.inputRows).sum
  def cpuNs: Long = tasks.map(_.cpuNs).sum
  def runMs: Long = tasks.map(_.runMs).sum
  def gcMs: Long = tasks.map(_.gcMs).sum
  def schedWaitMs: Long = stages.map(s => math.max(0L, s.firstTaskMs - s.submitMs)).sum
}
