package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.table.{IndexTables, TableFormat}

/** One timed operation of a workload: the job group set around it,
  * its wall-clock bounds and latency, and whether it was traced. */
final case class OpRec(group: String, startMs: Long, endMs: Long, ms: Double, traced: Boolean)

/** The per-layer metrics every traced run reports, whatever its
  * workload: the Spark work of the workload's timed operation, the
  * `analysis` and `codec` micro-harness and the `table` figures on the
  * workload's own corpus and index, and the `pipeline` dedup chain. */
object Layers {
  /** Means per traced operation of the Spark work attributed to it by
    * its job group. */
  def sparkProfile(ctx: Ctx, ops: Seq[OpRec], cores: Int): Seq[(String, Double, String)] = {
    ctx.listener.drain()
    val byGroup = ctx.listener.profilesByGroup
    val ps = ops.filter(_.traced).map(o => o -> byGroup.getOrElse(o.group, Profile(Nil, Nil, Nil)))
    require(ps.nonEmpty, "no traced operation")
    def mean(f: ((OpRec, Profile)) => Double) = ps.map(f).sum / ps.length
    val wallMs = ps.map(_._1.ms).sum
    Seq(
      ("jobs_per_op", mean(_._2.jobs.length.toDouble), "count"),
      ("tasks_per_op", mean(_._2.tasks.length.toDouble), "count"),
      ("driver_ms_per_op", mean { case (o, p) => o.ms - Intervals.unionLength(p.jobIntervalsMs) }, "ms"),
      ("sched_wait_ms_per_op", mean(_._2.schedWaitMs.toDouble), "ms"),
      ("cpu_util", ps.map(_._2.cpuNs).sum / 1e6 / (wallMs * cores), "ratio"),
      ("gc_frac", ps.map(_._2.gcMs).sum.toDouble / math.max(1L, ps.map(_._2.runMs).sum), "ratio"),
      ("shuffle_write_bytes_per_op", mean(_._2.shuffleWrite.toDouble), "bytes"),
      ("input_rows_per_op", mean(_._2.inputRows.toDouble), "count"),
      ("result_bytes_per_op", mean(_._2.resultBytes.toDouble), "bytes"))
  }

  /** Everything of the traced run but the overhead ratio, which each
    * workload computes from its own interleaved operations. `root` is
    * a committed index of the workload and `texts` a sample of its
    * source content. */
  def report(ctx: Ctx, spark: SparkSession, ops: Seq[OpRec], root: String, texts: Seq[String]): Unit = {
    val res = ctx.result
    sparkProfile(ctx, ops, ctx.cores).foreach { case (n, v, u) => res.layer(s"spark.$n", v, u) }
    ctx.tracer.tracing(true) {
      Micro.run(ctx, spark, root, texts)
      Seq("docs", "postings", "termStats").foreach { t =>
        res.layer(s"table.bytes.$t", Stats.dirBytes(TableFormat.readManifest(root, t).dataPath).toDouble, "bytes")
      }
      res.layer("table.files_written",
        Stats.dirFiles(root).count(_.getName.endsWith(".parquet")).toDouble, "count")
      val loads = (0 until 5).map(_ => Stats.timed(ctx.span("table", "IndexTables.load")(
        IndexTables.load(spark, root)))._2 * 1e3)
      res.layer("table.load_ms", Stats.median(loads), "ms")
    }
    Dedup.layers(ctx, spark)
  }
}
