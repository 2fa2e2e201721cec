package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.build.IndexConfig
import graft.query.Searcher
import graft.streaming.StreamingIndexer

/** `ingest`: writes beside reads on an index root. Starting from a
  * compacted base, the run appends micro-batches, replaces and deletes
  * documents after every second batch, and probes the uncompacted root
  * after every batch (one selective and one skewed query through
  * `loadMerged`); it ends with `compact` + `pruneSegments` and the
  * probes again. The amount of work is fixed, so a faster engine does
  * not earn itself more segments to merge on read. Before compaction no
  * tombstoned document may be returned; after it the probes must be
  * rank-identical to the oracle over the live documents. The timed
  * operation is one probe over the uncompacted root; the throughput
  * counts the documents written per second of write calls (append,
  * update, delete, compact and prune). */
object IngestWorkload {
  val BaseDocs = 4000L
  val Batch = 500
  val Batches = 3
  val Replaced = 50
  val Deleted = 50
  val K = 10
  val Cfg: IndexConfig = IndexConfig(shardSizeDocs = 1L << 16)

  /** The documents the root should hold: id → (text key, replaced?). */
  final class Live(val seed: Long) {
    val key = mutable.LongMap.empty[Long]
    val replaced = mutable.Set.empty[Long]
    val gone = mutable.Set.empty[Long]
    private val ids = mutable.ArrayBuffer.empty[Long]
    private var draws = 0L

    def add(id: Long, k: Long, isReplacement: Boolean): Unit = {
      key(id) = k; ids += id
      if (isReplacement) replaced += id
    }

    /** Remove `n` live ids chosen by the seed; returns (id, text key). */
    def take(n: Int): Seq[(Long, Long)] = (0 until n).map { _ =>
      draws += 1
      val j = Gen.below(seed, draws, 70, ids.length).toInt
      val id = ids(j)
      ids(j) = ids.last; ids.remove(ids.length - 1)
      val k = key(id)
      key.remove(id); replaced -= id; gone += id
      (id, k)
    }

    def text(id: Long): String =
      Gen.content(seed, key(id), BaseDocs) + (if (replaced(id)) " replaced" else "")
    def lang(id: Long): String = Gen.lang(seed, key(id))
    def docs: Iterator[(Long, String, String)] = key.keysIterator.map(id => (id, text(id), lang(id)))
  }

  private def frame(spark: SparkSession, live: Live, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => TextDoc(id, live.text(id), live.lang(id))).toDF()
  }

  /** One timed write call: kind, seconds, documents written. */
  final case class Op(kind: String, sec: Double, docs: Long, traced: Boolean)

  /** One probe query: the operation (latency including loadMerged),
    * the loadMerged part, segments merged on read. */
  final case class Probe(op: OpRec, loadMs: Double, segments: Int)

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val spark = ctx.session(ctx.cores)
    val root = new java.io.File(ctx.path("root")).getAbsolutePath
    new java.io.File(root).mkdirs()
    val live = new Live(ctx.seed)
    var nextId = 0L
    def fresh(n: Int): Seq[Long] = { val r = nextId until nextId + n; nextId += n; r }
    def timedOp(kind: String, docs: Long)(f: => Any): Op = {
      val sec = Stats.timed(ctx.call(spark, "streaming", s"StreamingIndexer.$kind", s"ingest-$kind")(f))._2
      Op(kind, sec, docs, ctx.tracer.active)
    }

    // set-up: the base is one segment, compacted and pruned; probing it
    // (checked against the oracle) warms the read path
    val (_, setupS) = Stats.timed {
      val base = fresh(BaseDocs.toInt)
      base.foreach(id => live.add(id, id, isReplacement = false))
      StreamingIndexer.append(spark, root, frame(spark, live, base), "doc_id", "text", Seq("lang"), Cfg)
      StreamingIndexer.compact(spark, root, Cfg)
      StreamingIndexer.pruneSegments(root)
      checkedProbes(ctx, spark, root, live, Nil, "base")
    }
    res.metric("setup_s", setupS, "s")
    Heap.arm()

    // the sequence: micro-batches with a replace and a delete after
    // every second one, probes after each; a traced run traces the
    // first two batches (the second holds all three write calls)
    val ops = mutable.ArrayBuffer.empty[Op]
    val probeSamples = mutable.ArrayBuffer.empty[Probe]
    var recentlyGone = Seq.empty[Long] // text keys of documents just tombstoned
    (1 to Batches).foreach { b =>
      ctx.alternate(b) {
        val ids = fresh(Batch)
        ids.foreach(id => live.add(id, id, isReplacement = false))
        val df = frame(spark, live, ids)
        ops += timedOp("append", Batch)(
          StreamingIndexer.append(spark, root, df, "doc_id", "text", Seq("lang"), Cfg))
        if (b % 2 == 0) {
          val old = live.take(Replaced)
          val repl = fresh(Replaced)
          repl.zip(old).foreach { case (n, (_, k)) => live.add(n, k, isReplacement = true) }
          val oldDf = { import spark.implicits._; old.map(_._1).toDF("docId") }
          val replDf = frame(spark, live, repl)
          ops += timedOp("updateDocuments", Replaced)(
            StreamingIndexer.updateDocuments(spark, root, oldDf, replDf, "doc_id", "text", Seq("lang")))
          val del = live.take(Deleted)
          ops += timedOp("deleteIds", 0)(StreamingIndexer.deleteIds(spark, root, del.map(_._1)))
          recentlyGone = (old.take(2) ++ del.take(2)).map(_._2)
        }
        // probes over the uncompacted root: no tombstoned id may return
        val base = StreamingIndexer.latestCompaction(root)
        val segments = StreamingIndexer.completeBatches(root).count(x => base.forall(x > _)) + base.size
        probes(ctx, spark, root, live, recentlyGone, s"-$b").foreach { case (label, op, loadMs, rows) =>
          probeSamples += Probe(op, loadMs, segments)
          val bad = rows.map(_._1).filter(live.gone)
          res.check(bad.isEmpty, s"probe $label before compaction returned tombstoned ids $bad")
        }
      }
    }
    Heap.sample()
    val before = Stats.dirBytes(root)
    val prior = StreamingIndexer.latestCompactionInfo(root).map(_.dir)
    val (pruneS, compactS) = ctx.alternate(1) {
      Stats.timed {
        ctx.call(spark, "streaming", "StreamingIndexer.compact", "ingest-compact")(
          StreamingIndexer.compact(spark, root, Cfg))
        Stats.timed(ctx.call(spark, "streaming", "StreamingIndexer.pruneSegments", "ingest-prune")(
          StreamingIndexer.pruneSegments(root)))._2
      }
    }
    val after = Stats.dirBytes(root)
    val rewritten = StreamingIndexer.latestCompactionInfo(root)
      .filterNot(c => prior.contains(c.dir)).map(c => Stats.dirBytes(s"$root/${c.dir}")).getOrElse(0L)
    // after compaction: rank identity with the oracle over live docs
    checkedProbes(ctx, spark, root, live, recentlyGone, "after compaction")

    val plain = ops.filterNot(_.traced).toSeq
    val writeS = plain.map(_.sec).sum + compactS
    val compacted = s"$root/${StreamingIndexer.latestCompactionInfo(root).get.dir}"
    res.metric("op_p50_ms", Stats.pct(probeSamples.filterNot(_.op.traced).map(_.op.ms).toSeq, 0.5), "ms")
    res.metric("items_per_s", plain.map(_.docs).sum / writeS, "items/s")
    res.metric("index_bytes_per_source_byte",
      after.toDouble / live.docs.map(_._2.length.toLong).sum, "ratio")
    res.note(f"ingest: ${ops.map(o => f"${o.kind} ${o.sec}%.2f").mkString(", ")}; probes " +
      f"${probeSamples.map(p => f"${p.op.ms}%.0f").mkString(", ")} ms; compact $compactS%.2f s")

    if (ctx.traced) {
      def perDoc(xs: Seq[Op]) = { val a = xs.filter(_.kind == "append"); a.map(_.sec).sum / a.map(_.docs).sum }
      val tr = ops.filter(_.traced).toSeq
      def med(kind: String) = Stats.median(tr.filter(_.kind == kind).map(_.sec))
      // the first append runs the coldest and is left out
      res.layer("trace.overhead_ratio", perDoc(tr.drop(1)) / perDoc(plain) - 1.0, "ratio")
      ctx.detail("streaming.append_s", med("append"), "s")
      ctx.detail("streaming.update_s", med("updateDocuments"), "s")
      ctx.detail("streaming.delete_s", med("deleteIds"), "s")
      ctx.detail("streaming.compact_s", compactS, "s")
      val tp = probeSamples.filter(_.op.traced).toSeq
      ctx.detail("streaming.load_merged_ms", Stats.median(tp.map(_.loadMs)), "ms")
      ctx.detail("streaming.segments_at_probe", tp.map(_.segments).sum.toDouble / tp.length, "count")
      ctx.detail("streaming.compact_bytes_rewritten", rewritten.toDouble, "bytes")
      ctx.detail("streaming.space_amp", before.toDouble / after, "ratio")
      ctx.detail("streaming.prune_s", pruneS, "s")
      Layers.report(ctx, spark, probeSamples.map(_.op).toSeq, compacted, live.docs.take(2000).map(_._2).toSeq)
    }
    Heap.sample()
    res.metric("live_heap_peak_mb", Heap.peakMb, "MB")
  }

  /** Probes checked for rank identity with the oracle over live docs. */
  private def checkedProbes(ctx: Ctx, spark: SparkSession, root: String, live: Live,
      recentlyGone: Seq[Long], when: String): Unit = {
    val terms = probeTerms(live, recentlyGone)
    val oracle = new OracleIndex(live.docs, terms.flatten.toSet)
    probes(ctx, spark, root, live, recentlyGone, "").zip(terms).foreach { case ((label, _, _, rows), t) =>
      val want = OracleIndex.ranked(oracle.or(t), K)
      ctx.result.check(Oracle.rankIdentical(rows, want, K), s"probe $label $when returned $rows, want ${want.take(K)}")
    }
  }

  /** Probe terms: the markers of documents just tombstoned (their
    * stale postings are still in the segments) plus a live document's
    * marker, and two corpus-wide keywords. */
  private def probeTerms(live: Live, recentlyGone: Seq[Long]): Seq[Seq[String]] = {
    val markers = (recentlyGone :+ 0L).map(k => "m" + Gen.marker(live.seed, k, BaseDocs)).distinct
    Seq(markers, Seq("public", "import"))
  }

  /** (label, the timed operation, loadMerged ms, hits) per probe; `tag`
    * makes the job groups of one round of probes unique. */
  private def probes(ctx: Ctx, spark: SparkSession, root: String, live: Live,
      recentlyGone: Seq[Long], tag: String): Seq[(String, OpRec, Double, Oracle.Hits)] =
    probeTerms(live, recentlyGone).zip(Seq("selective", "skewed")).map { case (terms, cls) =>
      val group = s"probe-$cls$tag"
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val idx = ctx.call(spark, "streaming", "StreamingIndexer.loadMerged", group)(
        StreamingIndexer.loadMerged(spark, root, Cfg))
      val loadMs = Stats.secondsSince(t0) * 1e3
      val rows = ctx.call(spark, "query", "Searcher.topKWand", group)(
        new Searcher(spark, idx).topKWand(terms, K).collect())
      (s"$cls ${terms.mkString(" ")}",
        OpRec(group, s0, System.currentTimeMillis(), Stats.secondsSince(t0) * 1e3, ctx.tracer.active),
        loadMs, rows.toSeq.map((x: Row) => (x.getLong(0), x.getDouble(1))))
    }
}
