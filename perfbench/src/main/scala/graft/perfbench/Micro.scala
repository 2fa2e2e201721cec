package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.codec.PostingsCodec
import graft.model.Posting
import graft.table.TableFormat

/** Single-thread micro-harness for the `analysis` and `codec` layers,
  * run on data of the workload itself: the posting blobs of the skew
  * keywords read back from the workload's committed index, and a
  * sample of the content it indexed. */
object Micro {
  private val MinSeconds = 0.5

  /** Repeat `f` until at least MinSeconds have passed; returns
    * (repetitions, seconds). */
  private def repeat(f: => Unit): (Int, Double) = {
    f // warm-up pass
    val t0 = System.nanoTime()
    var n = 0
    while (Stats.secondsSince(t0) < MinSeconds) { f; n += 1 }
    (n, Stats.secondsSince(t0))
  }

  /** The posting blobs of the skew keywords in the content field of
    * the committed index at `root`. */
  def skewBlobs(spark: SparkSession, root: String): Array[Array[Byte]] =
    TableFormat.read(spark, root, "postings")
      .where(col("field") === "content" && col("term").isin(Gen.Keywords.toSeq: _*))
      .select("blob").collect().map(_.getAs[Array[Byte]](0))

  /** Full decode (positions too) of `blobs`, repeated: ns per posting. */
  def decodeNsPerPosting(ctx: Ctx, blobs: Array[Array[Byte]], postings: Long): Double = {
    var sink = 0L
    val (reps, sec) = ctx.span("codec", "PostingsCodec.BlobView.allPostings") {
      repeat(blobs.foreach(b => new PostingsCodec.BlobView(b).allPostings.foreach(p => sink += p.tf)))
    }
    require(sink > 0, "no postings decoded")
    sec * 1e9 / (reps * postings)
  }

  def run(ctx: Ctx, spark: SparkSession, root: String, texts: Seq[String]): Unit = {
    val res = ctx.result
    val blobs = skewBlobs(spark, root)
    val decoded: Array[IndexedSeq[Posting]] =
      blobs.map(b => new PostingsCodec.BlobView(b).allPostings.toIndexedSeq)
    val postings = decoded.map(_.length.toLong).sum
    val blobBytes = blobs.map(_.length.toLong).sum

    var sink = 0L
    val decodeNs = decodeNsPerPosting(ctx, blobs, postings)
    val (encReps, encSec) = ctx.span("codec", "PostingsCodec.encodePostingsBlob") {
      repeat(decoded.foreach(ps => sink += PostingsCodec.encodePostingsBlob(ps).length))
    }
    // a codec that does not round-trip is a failed operation
    def flat(ps: Iterator[Posting]) = ps.map(p => (p.docId, p.tf, p.positions.toSeq)).toSeq
    res.check(decoded.forall(ps => flat(new PostingsCodec.BlobView(
      PostingsCodec.encodePostingsBlob(ps)).allPostings) == flat(ps.iterator)),
      "codec round trip of the skew-term blobs")
    res.layer("codec.decode_ns_per_posting", decodeNs, "ns")
    res.layer("codec.encode_ns_per_posting", encSec * 1e9 / (encReps * postings), "ns")
    res.layer("codec.bytes_per_posting", blobBytes.toDouble / postings, "bytes")

    val bytes = texts.map(_.length.toLong).sum
    var tokens = 0L
    val (tokReps, tokSec) = ctx.span("analysis", "Analyzer.foreachEmittedBuf") {
      repeat(texts.foreach(t => Analyzer.foreachEmittedBuf(t)((_, _, _) => tokens += 1)))
    }
    res.layer("analysis.tokenize_ns_per_byte", tokSec * 1e9 / (tokReps * bytes), "ns")
    res.layer("analysis.tokens_per_doc", tokens.toDouble / ((tokReps + 1) * texts.length), "count")
    ctx.extraTrace += s"""{"kind":"micro","postings":$postings,"blob_bytes":$blobBytes,""" +
      s""""encode_reps":$encReps,"tokenize_reps":$tokReps,"sink":$sink}"""
  }
}
