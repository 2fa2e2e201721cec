package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexConfig}
import graft.table.{IndexTables, TableFormat}

/** `build`: a materialized source-code table is indexed into committed
  * snapshots (`IndexBuilder.fromParquetTable` + `IndexTables.write`),
  * cold, at all cores; a traced run also builds at a quarter of them,
  * for the scaling figures of its trace. Each build is checked: the
  * docs manifest holds every input row and every stored sha256 equals
  * the sha256 of its source row. The timed operation is one full build
  * at all cores. */
object BuildWorkload {
  val Docs = 12000L
  val Files = 16
  val HiReps = 7
  val LoReps = 3

  val Cfg: IndexConfig = IndexConfig(shardSizeDocs = 1L << 16, storeContent = false)

  /** One timed build: wall seconds, wall clock bounds, job group. */
  final case class Rep(sec: Double, startMs: Long, endMs: Long, group: String, traced: Boolean) {
    def op: OpRec = OpRec(group, startMs, endMs, sec * 1e3, traced)
  }

  /** One full build into `out`. */
  def buildOnce(ctx: Ctx, spark: SparkSession, src: String, out: String, group: String): Rep = {
    val t0 = System.currentTimeMillis()
    val (_, sec) = Stats.timed {
      ctx.call(spark, "build", "IndexBuilder.fromParquetTable+IndexTables.write", group) {
        val idx = ctx.span("build", "IndexBuilder.fromParquetTable") {
          IndexBuilder.fromParquetTable(spark, src, Cfg)
        }
        ctx.span("table", "IndexTables.write")(IndexTables.write(spark, idx, out))
      }
    }
    Rep(sec, t0, System.currentTimeMillis(), group, ctx.tracer.active)
  }

  /** Row-count and sha256 row invariant of a committed build. */
  def checkBuild(ctx: Ctx, spark: SparkSession, src: String, out: String): Boolean = {
    val rows = TableFormat.readManifest(out, "docs").rowCount
    val source = spark.read.parquet(src).select(
      concat_ws("", col("repo"), lit("/"), col("path"), lit("@"), col("commit")).as("docKey"),
      sha2(col("content"), 256).as("srcSha"))
    val r = TableFormat.read(spark, out, "docs").select("docKey", "content_sha256")
      .join(source, Seq("docKey"), "full_outer")
      .agg(count(when(col("srcSha").isNull || col("content_sha256").isNull ||
        col("srcSha") =!= col("content_sha256"), 1)), count(lit(1)))
      .first()
    ctx.result.check(rows == Docs && r.getLong(0) == 0L && r.getLong(1) == Docs,
      s"build $out: manifest rows $rows, sha256 mismatches ${r.getLong(0)}, joined rows ${r.getLong(1)} (want $Docs)")
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val src = ctx.path("corpus")
    var spark = ctx.session(ctx.cores)
    var n = 0
    def nextOut(): String = { n += 1; ctx.path(s"index-$n") }

    // set-up: materialize the corpus, then untimed builds (JIT and
    // codegen warm-up) that are checked like the timed ones
    def warmup(tag: String): Unit = {
      val warm = nextOut()
      buildOnce(ctx, spark, src, warm, s"warmup-$tag")
      checkBuild(ctx, spark, src, warm)
      Stats.deleteDir(warm)
    }
    val (_, setupS) = Stats.timed {
      Gen.writeCorpus(spark, ctx.seed, Docs, Files, src)
      warmup("setup")
    }
    // the content is ASCII: its bytes are its characters
    val srcBytes = (0L until Docs).map(i => Gen.content(ctx.seed, i, Docs).length.toLong).sum
    res.metric("setup_s", setupS, "s")
    Heap.arm()

    // timed builds, each level after one more untimed build: the first
    // builds of a session run measurably slower, which widens the
    // run-to-run spread. The first timed index of each level is kept
    // for the per-layer numbers.
    def level(tag: String, reps: Int): (Seq[Rep], String) = {
      warmup(tag)
      val outs = (0 until reps).map(_ => nextOut())
      val done = outs.zipWithIndex.map { case (out, i) =>
        val rep = ctx.alternate(i)(buildOnce(ctx, spark, src, out, s"$tag-$i"))
        checkBuild(ctx, spark, src, out)
        if (i > 0) Stats.deleteDir(out)
        rep
      }
      Heap.sample()
      (done, outs.head)
    }
    def rate(reps: Seq[Rep]) = Docs / Stats.median(reps.filterNot(_.traced).map(_.sec))

    val (hi, hiIndex) = level("hi", if (ctx.traced) HiReps + 1 else HiReps)
    val hiMs = hi.filterNot(_.traced).map(_.sec * 1e3)
    res.metric("op_p50_ms", Stats.median(hiMs), "ms")
    res.metric("items_per_s", Docs * hiMs.length / (hiMs.sum / 1e3), "items/s")
    res.metric("index_bytes_per_source_byte", Stats.dirBytes(hiIndex).toDouble / srcBytes, "ratio")
    res.metric("live_heap_peak_mb", Heap.peakMb, "MB")
    res.note(f"build: ${hi.length} builds at ${ctx.cores} cores ${hi.map(_.sec).mkString("[", ", ", "]")} s; " +
      f"$Docs docs, $srcBytes source bytes")
    if (ctx.traced) {
      // the first build of the level is left out: it runs the coldest
      val tracedS = Stats.median(hi.filter(_.traced).map(_.sec))
      res.layer("trace.overhead_ratio", tracedS / Stats.median(hi.drop(1).filterNot(_.traced).map(_.sec)) - 1.0,
        "ratio")
      levelDetails(ctx, spark, src, ctx.cores, "build.", hi)
      Layers.report(ctx, spark, hi.map(_.op), hiIndex,
        (0L until 2000L).map(i => Gen.content(ctx.seed, i, Docs)))
      Stats.deleteDir(hiIndex)
      spark.stop()
      spark = ctx.session(ctx.lowCores)
      val (lo, loIndex) = level("lo", LoReps)
      Stats.deleteDir(loIndex)
      levelDetails(ctx, spark, src, ctx.lowCores, "build.low.", lo)
      ctx.detail("build.scaling_eff", rate(hi) / (rate(lo) * ctx.cores / ctx.lowCores), "ratio")
      res.note(f"build: ${lo.length} builds at ${ctx.lowCores} cores ${lo.map(_.sec).mkString("[", ", ", "]")} s")
    }
  }

  /** Trace details of one core level: the listener profile of its
    * traced builds (with the serial tail and the merge-stage skew) and
    * the phases from nested prefixes of the build (scan → tokenize and
    * encode → merge; the write is the rest of the full build). */
  private def levelDetails(ctx: Ctx, spark: SparkSession, src: String, cores: Int, prefix: String,
      reps: Seq[Rep]): Unit = {
    val traced = reps.filter(_.traced)
    Layers.sparkProfile(ctx, traced.map(_.op), cores).foreach { case (n, v, u) => ctx.detail(s"$prefix$n", v, u) }
    val full = Stats.median(traced.map(_.sec))
    val rep = traced.minBy(r => math.abs(r.sec - full))
    val p = ctx.listener.profilesByGroup(rep.group)
    val wallMs = (rep.endMs - rep.startMs).toDouble
    ctx.detail(s"${prefix}serial_s", (wallMs - Intervals.unionLength(p.taskIntervalsMs)) / 1e3, "s")
    val mergeStage = p.tasks.groupBy(_.stageId).maxBy(_._2.map(_.shuffleRead).sum)._2
    val durs = mergeStage.map(t => (t.finishMs - t.launchMs).toDouble)
    ctx.detail(s"${prefix}merge_task_skew", durs.max / math.max(1.0, Stats.median(durs)), "ratio")

    // nested prefixes of the public build functions, each drained by
    // Spark's no-op sink
    val fileRows = footerRows(src)
    def drain(df: => DataFrame, name: String): Double = ctx.tracer.tracing(true) {
      Stats.timed(ctx.call(spark, "build", name, s"prefix-$prefix$name")(
        df.write.format("noop").mode("overwrite").save()))._2
    }
    def table = IndexBuilder.tableWithIds(spark, src, fileRows, Cfg.analyzer)
    def partials = IndexBuilder.segmentPartials(spark,
      table.select("docId", IndexBuilder.TokenizedField, "path", "lang"),
      Seq(IndexBuilder.TokenizedField), Seq("path", "lang"), Cfg.shardSizeDocs, Cfg.analyzer)
    val scan = drain(table, "IndexBuilder.tableWithIds")
    val tok = drain(partials, "IndexBuilder.segmentPartials")
    val merge = drain(IndexBuilder.mergeSegmentRows(partials, Cfg), "IndexBuilder.mergeSegmentRows")
    ctx.detail(s"${prefix}scan_s", scan, "s")
    ctx.detail(s"${prefix}tokenize_encode_s", tok - scan, "s")
    ctx.detail(s"${prefix}merge_s", merge - tok, "s")
    ctx.detail(s"${prefix}write_s", full - merge, "s")
    ctx.extraTrace += s"""{"kind":"build_level","cores":$cores,"full_s":$full,""" +
      s""""scan_prefix_s":$scan,"tokenize_prefix_s":$tok,"merge_prefix_s":$merge,"jobs":${p.jobs.length},""" +
      s""""tasks":${p.tasks.length},"shuffle_write_bytes":${p.shuffleWrite},"spill_bytes":${p.spill}}"""
  }

  /** (file name, row count) of the parquet files under `dir`, from
    * their footers — the manifest a catalog would provide. */
  def footerRows(dir: String): Seq[(String, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new java.io.File(dir).listFiles().toSeq.map(_.getName).filter(_.endsWith(".parquet")).sorted
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(s"$dir/$f"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (f, r.getRecordCount) finally r.close()
      }
  }
}
