package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TextPipeline

/** The dedup chain, measured for the `pipeline` layer at the end of
  * every traced run: a seeded corpus plus planted
  * near-duplicate clusters through exact dedup, MinHash candidates,
  * n-gram Jaccard ≥ 0.8 pairs → groups, and SimHash pairs, each step
  * drained into a parquet table. Checked: every planted pair with
  * Jaccard ≥ 0.8 is among the Jaccard pairs (the prefix filter promises
  * no false negatives) and lands in one group, and exact dedup keeps
  * one row per distinct text. */
object Dedup {
  val Docs = 1200L
  val Clusters = 100
  val Tau = 0.8
  val MaxHam = 8

  final case class Expect(pairs: Set[(Long, Long)], distinctTexts: Long, clusterIds: Seq[Long])

  /** The chain's per-layer numbers: set up the corpus and its planted
    * pairs, warm up, then run the chain once, traced. */
  def layers(ctx: Ctx, spark: SparkSession): Unit = {
    val res = ctx.result
    val input = ctx.path("dedup-docs")
    val copies = Gen.plantedCopies(ctx.seed, Docs, Clusters)
    val texts: Map[Long, String] = ((0L until Docs).map(i => i -> Gen.content(ctx.seed, i, Docs)) ++
      copies.map(c => c.id -> Gen.copyText(ctx.seed, c, Docs))).toMap
    import spark.implicits._
    val rows = texts.toSeq.sortBy(_._1).map { case (i, t) => TextDoc(i, t, "") }
    rows.toDF().select("doc_id", "text").repartition(8).write.mode("overwrite").parquet(input)
    val sh = copies.flatMap(c => Seq(c.id, c.source)).distinct.map(i => i -> Oracle.shingles(texts(i))).toMap
    val pairs = copies.groupBy(_.source).toSeq.flatMap { case (src, cs) =>
      (src +: cs.map(_.id)).sorted.combinations(2).collect {
        case Seq(a, b) if Oracle.jaccard(sh(a), sh(b)) >= Tau => (a, b)
      }
    }.toSet
    val expect = Expect(pairs, texts.values.toSet.size.toLong, sh.keys.toSeq.sorted)
    chain(ctx, spark, input, expect, "dedup-warmup")
    Stats.deleteDir(ctx.path("out-dedup-warmup"))

    val (wall, steps) = ctx.tracer.tracing(true)(chain(ctx, spark, input, expect, "dedup"))
    ctx.listener.drain()
    val byGroup = ctx.listener.profilesByGroup
    Seq("exact", "minhash", "jaccard", "groups", "simhash").foreach { op =>
      res.layer(s"pipeline.${op}_s", steps(op), "s")
      res.layer(s"pipeline.$op.shuffle_bytes",
        byGroup.get(s"dedup-$op").map(_.shuffleWrite).getOrElse(0L).toDouble, "bytes")
    }
    val out = ctx.path("out-dedup")
    val cand = spark.read.parquet(s"$out/minhash").select("a", "b")
    val found = spark.read.parquet(s"$out/jaccard").select("a", "b")
    val nCand = cand.count()
    res.layer("pipeline.minhash_candidates", nCand.toDouble, "count")
    res.layer("pipeline.jaccard_pairs", found.count().toDouble, "count")
    res.layer("pipeline.candidate_yield", cand.join(found, Seq("a", "b")).count().toDouble / math.max(1L, nCand),
      "ratio")
    ctx.extraTrace += s"""{"kind":"dedup","docs":${texts.size},"planted_pairs":${pairs.size},""" +
      s""""chain_s":$wall}"""
  }

  /** The whole chain once; returns (wall seconds, seconds per step). */
  def chain(ctx: Ctx, spark: SparkSession, input: String, e: Expect, tag: String): (Double, Map[String, Double]) = {
    val out = ctx.path(s"out-$tag")
    val docs = spark.read.parquet(input)
    def step(op: String)(df: => DataFrame): Double =
      Stats.timed(ctx.call(spark, "pipeline", s"TextPipeline.$op", s"$tag-$op")(
        df.write.mode("overwrite").parquet(s"$out/$op")))._2
    val t0 = System.nanoTime()
    val steps = Map(
      "exact" -> step("exact")(TextPipeline.dedupExact(docs)),
      "minhash" -> step("minhash")(TextPipeline.minhashCandidates(docs)),
      "jaccard" -> step("jaccard")(TextPipeline.ngramJaccardPairs(docs, Tau)),
      "groups" -> step("groups")(TextPipeline.dedupGroupsFromPairs(docs, spark.read.parquet(s"$out/jaccard"))),
      "simhash" -> step("simhash")(TextPipeline.simhashPairs(docs, MaxHam)))
    val wall = Stats.secondsSince(t0)

    val found = spark.read.parquet(s"$out/jaccard").select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = e.pairs.diff(found)
    ctx.result.check(missing.isEmpty, s"dedup $tag: planted pairs with Jaccard >= $Tau not found: ${missing.take(5)}")
    val comp = spark.read.parquet(s"$out/groups").where(col("doc_id").isin(e.clusterIds: _*))
      .select("doc_id", "comp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = e.pairs.filter { case (a, b) => comp.get(a).isEmpty || comp.get(a) != comp.get(b) }
    ctx.result.check(split.isEmpty, s"dedup $tag: planted pairs in different groups: ${split.take(5)}")
    val kept = spark.read.parquet(s"$out/exact").count()
    ctx.result.check(kept == e.distinctTexts, s"dedup $tag: exact dedup kept $kept rows, want ${e.distinctTexts}")
    (wall, steps)
  }
}
