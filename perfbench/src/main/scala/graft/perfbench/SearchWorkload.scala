package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}

import graft.build.IndexBuilder
import graft.codec.PostingsCodec
import graft.query.{QueryParser, Searcher}
import graft.sql.MatchQuery
import graft.table.IndexTables

/** One query of a workload: its class, a label, how to run it through
  * the engine, how to check the rows it returns, and how many postings
  * the lists of its terms hold. */
final case class Query(cls: String, kind: String, label: String,
    exec: () => Array[Row], check: Array[Row] => Boolean, postings: Long = 0L)

/** A timed, checked execution of a query. */
final case class Sample(seq: Long, cls: String, group: String, startMs: Long, endMs: Long,
    ms: Double, traced: Boolean) {
  def op: OpRec = OpRec(group, startMs, endMs, ms, traced)
}

/** `search`: a closed loop of two clients over a committed index that
  * is read back with `IndexTables.load` and not cached. Queries come in
  * two classes: `selective` (rare terms) and `skewed` (corpus-wide
  * keywords through WAND, OR/AND, phrase and facets). At this corpus
  * size the fixed per-query Spark jobs dominate both; the trace holds
  * the share of a query that posting decode can take. The timed
  * operation is one query of either class. */
object SearchWorkload {
  val Docs = 12000L
  val Files = 16
  val Clients = 2
  val K = 10
  /** Samples per class a run aims for: p75 then has ten beyond it. */
  val MinPerClass = 40
  /** The loop stops here even short of MinPerClass samples per class. */
  val MaxSeconds = 30.0
  val Classes = Seq("selective", "skewed")

  /** Query pools of one seed and their answers from the oracle. */
  def pools(ctx: Ctx, spark: SparkSession, s: Searcher, root: String, n: Long): Seq[Query] = {
    val seed = ctx.seed
    def rareId(i: Long, slot: Long) = "id" + (5000 + Gen.below(seed, i, slot, 5000))
    def kw(i: Long, slot: Long) = Gen.Keywords(Gen.below(seed, i, slot, Gen.Keywords.length).toInt)
    def kwPair(i: Long, slot: Long) = {
      val a = kw(i, slot)
      (a, Gen.Keywords.filterNot(_ == a)(Gen.below(seed, i, slot + 1, Gen.Keywords.length - 1).toInt))
    }
    val phrasePairs = Seq(Seq("public", "class"), Seq("class", "import"), Seq("public", "import"),
      Seq("static", "void"))

    sealed trait Spec
    case class Or(terms: Seq[String], wand: Boolean) extends Spec
    case class And(terms: Seq[String], wand: Boolean) extends Spec
    case class Phrase(slots: Seq[String], slop: Int) extends Spec
    case class Classic(must: String, should: Seq[String], not: String) extends Spec
    case class Prefix(p: String) extends Spec
    case class Sql(terms: Seq[String]) extends Spec
    case class Facet(term: String) extends Spec

    val specs: Seq[(String, String, Spec)] =
      (0L until 8L).flatMap { i =>
        val (k1, k2) = kwPair(i, 40)
        Seq(
          ("selective", "rare_or", Or(Seq(rareId(i, 31), rareId(i, 32)), wand = true)),
          ("selective", "rare_and", And(Seq(rareId(i, 33), kw(i, 34)), wand = true)),
          ("selective", "rare_phrase",
            Phrase(Seq("return", "m" + Gen.marker(seed, Gen.below(seed, i, 35, n), n)), 0)),
          ("selective", "classic", Classic(rareId(i, 36), Seq(k1, k2), rareId(i, 37))),
          ("selective", "prefix", Prefix("id" + (500 + Gen.below(seed, i, 38, 500)))),
          ("selective", "sql", Sql(Seq(rareId(i, 39), rareId(i, 41)))))
      } ++ (0L until 4L).flatMap { i =>
        val (k1, k2) = kwPair(i, 50)
        Seq(
          ("skewed", "kw_wand", Or(Seq(k1, k2), wand = true)),
          ("skewed", "kw_or", Or(Seq(k1, k2), wand = false)),
          ("skewed", "kw_and", And(Seq(k1, k2), wand = false)),
          ("skewed", "kw_phrase", Phrase(phrasePairs(i.toInt), 2)),
          ("skewed", "facet", Facet(kw(i, 52))))
      }

    // the terms a query names (a prefix names none: it expands over the
    // dictionary)
    def named(spec: Spec): Seq[String] = spec match {
      case Or(t, _) => t
      case And(t, _) => t
      case Phrase(t, _) => t
      case Classic(m, sh, no) => m +: no +: sh
      case Prefix(_) => Nil
      case Sql(t) => t
      case Facet(t) => Seq(t)
    }
    val keepTerms = specs.flatMap(x => named(x._3)).toSet
    val prefixes = specs.collect { case (_, _, Prefix(p)) => p }
    val oracle = new OracleIndex(
      (0L until n).iterator.map(i => (i, Gen.content(seed, i, n), Gen.lang(seed, i))),
      t => keepTerms(t) || prefixes.exists(t.startsWith))

    def hits(rows: Array[Row]): Oracle.Hits = rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    def hitsCheck(want: Map[Long, Double]): Array[Row] => Boolean = {
      val ranked = OracleIndex.ranked(want, K)
      rows => Oracle.rankIdentical(hits(rows), ranked, K)
    }
    def q(cls: String, kind: String, label: String)(run: => org.apache.spark.sql.DataFrame)(want: Map[Long, Double]) =
      Query(cls, kind, label, () => ctx.span("query", kind)(run.collect()), hitsCheck(want))
    def postings(spec: Spec): Long = (spec match {
      case Prefix(p) => oracle.terms.filter(_.startsWith(p)).toSeq
      case other => named(other)
    }).distinct.map(t => oracle.df(t).toLong).sum

    // labels are the query text a user would type
    specs.map { case (cls, kind, spec) =>
      (spec match {
        case Or(t, true) => q(cls, kind, t.mkString(" "))(s.topKWand(t, K))(oracle.or(t))
        case Or(t, false) => q(cls, kind, t.mkString(" "))(s.topK(t, K))(oracle.or(t))
        case And(t, true) =>
          q(cls, kind, t.mkString("+", " +", ""))(s.topKWand(t, K, requireAll = true))(oracle.and(t))
        case And(t, false) =>
          q(cls, kind, t.mkString("+", " +", ""))(s.topK(t, K, requireAll = true))(oracle.and(t))
        case Phrase(t, slop) =>
          q(cls, kind, t.mkString("\"", " ", s"\"~$slop"))(s.phraseTopK(t, K, slop = slop))(oracle.phrase(t, slop))
        case Classic(m, sh, no) =>
          val text = s"+$m ${sh.mkString(" ")} -$no"
          q(cls, kind, text)(s.search(text, K))(oracle.boolean(sh, Seq(m), Seq(no)))
        case Prefix(p) =>
          q(cls, kind, p + "*")(s.prefixTopK(p, K))(oracle.or(oracle.terms.filter(_.startsWith(p)).toSeq))
        case Sql(t) =>
          val sql = s"SELECT docId, score FROM match_query('$root', '${t.mkString(" ")}', $K) " +
            "ORDER BY score DESC, docId ASC"
          Query(cls, kind, t.mkString(" "), () => ctx.span("sql", "match_query")(spark.sql(sql).collect()),
            hitsCheck(oracle.or(t)))
        case Facet(t) =>
          val want = oracle.facetCounts(Seq(t), K)
          Query(cls, kind, s"facet lang | $t",
            () => ctx.span("query", kind)(s.facetCounts(Seq(t), "lang", K).collect()),
            rows => rows.toSeq.map(r => (r.getString(0), r.getLong(1))) == want)
      }).copy(postings = postings(spec))
    }
  }

  /** The seeded query sequence, stratified so that every run holds the
    * same mix: entry i alternates the classes, and each class cycles
    * through its kinds in a seeded order per round, each kind with a
    * seeded variant. */
  def pick(seed: Long, pool: Seq[Query], i: Long): Query = {
    val cls = Classes((i % Classes.length).toInt)
    val j = i / Classes.length
    val byKind = pool.filter(_.cls == cls).groupBy(_.kind).toSeq.sortBy(_._1).map(_._2)
    val round = j / byKind.length
    val order = byKind.indices.sortBy(k => Gen.hash(seed, round * 16 + k, 60))
    val variants = byKind(order((j % byKind.length).toInt))
    variants(Gen.below(seed, j, 61, variants.length).toInt)
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val spark = ctx.session(ctx.cores)
    val src = ctx.path("corpus")
    val root = new java.io.File(ctx.path("index")).getAbsolutePath

    val (pool, setupS) = Stats.timed {
      MatchQuery.register(spark)
      Gen.writeCorpus(spark, ctx.seed, Docs, Files, src)
      IndexTables.write(spark, IndexBuilder.fromParquetTable(spark, src, BuildWorkload.Cfg), root)
      // the oracle numbers docs by corpus ordinal, which is the docId of
      // a table built from files in ordinal order; a mismatch fails every
      // query check
      val s = new Searcher(spark, IndexTables.load(spark, root))
      val pool = pools(ctx, spark, s, root, Docs)
      // warm-up: one query of each kind, checked
      pool.groupBy(_.kind).values.map(_.head)
        .foreach(q => res.check(q.check(q.exec()), s"warm-up ${q.kind} [${q.label}]"))
      pool
    }
    res.metric("setup_s", setupS, "s")
    Heap.arm()

    val samples = loop(ctx, pool)
    val plain = samples.filterNot(_.traced)
    res.metric("op_p50_ms", Stats.pct(plain.map(_.ms), 0.5), "ms")
    res.metric("items_per_s", samples.length / ((samples.map(_.endMs).max - samples.map(_.startMs).min) / 1e3),
      "items/s")
    val srcBytes = (0L until Docs).map(i => Gen.content(ctx.seed, i, Docs).length.toLong).sum
    res.metric("index_bytes_per_source_byte", Stats.dirBytes(root).toDouble / srcBytes, "ratio")
    Classes.foreach { c =>
      val ms = plain.filter(_.cls == c).map(_.ms)
      res.note(f"$c: ${ms.length} samples, p50 ${Stats.pct(ms, 0.5)}%.1f ms, p75 ${Stats.pct(ms, 0.75)}%.1f ms")
    }
    Heap.sample()
    res.metric("live_heap_peak_mb", Heap.peakMb, "MB")
    if (ctx.traced) {
      details(ctx, spark, root, pool, samples)
      Layers.report(ctx, spark, samples.map(_.op), root, (0L until 2000L).map(i => Gen.content(ctx.seed, i, Docs)))
    }
  }

  /** Closed loop: `Clients` threads each run the next query of the
    * seeded sequence as soon as their previous one returns, for the
    * window and until each class holds MinPerClass samples, or
    * MaxSeconds. A traced run traces half of them. */
  def loop(ctx: Ctx, pool: Seq[Query]): Seq[Sample] = {
    val next = new AtomicLong(0)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val perCls = Classes.map(_ -> new AtomicLong(0)).toMap
    val need = MinPerClass
    val t0 = System.nanoTime()
    def done: Boolean = {
      val el = Stats.secondsSince(t0)
      (el >= ctx.seconds && perCls.values.forall(_.get >= need)) || el >= MaxSeconds
    }
    val spark = SparkSession.active
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var failed = false
        while (!failed && !done) {
          val i = next.getAndIncrement()
          val q = pick(ctx.seed, pool, i)
          val group = s"q-${q.cls}-$i"
          val s0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          try {
            val (rows, traced) = ctx.alternate(i)(
              (ctx.call(spark, "query", q.kind, group)(q.exec()), ctx.tracer.active))
            val ms = (System.nanoTime() - n0) / 1e6
            ctx.result.check(q.check(rows), s"${q.kind} [${q.label}] returned ${rows.mkString(",")}")
            samples.add(Sample(i, q.cls, group, s0, System.currentTimeMillis(), ms, traced))
            perCls(q.cls).incrementAndGet()
          } catch {
            // a query that throws is a failed operation; this client stops
            case e: Exception =>
              ctx.result.check(false, s"${q.kind} [${q.label}] threw $e")
              failed = true
          }
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = samples.toArray(new Array[Sample](0)).toSeq
    ctx.result.note(f"search loop: ${all.length} queries in ${Stats.secondsSince(t0)}%.1f s " +
      Classes.map(c => s"$c=${all.count(_.cls == c)}").mkString("(", ", ", ")"))
    all
  }

  /** The overhead ratio of the traced window, and per class the trace
    * details of its queries, attributed per query by the job group set
    * around it. */
  private def details(ctx: Ctx, spark: SparkSession, root: String, pool: Seq[Query],
      samples: Seq[Sample]): Unit = {
    val res = ctx.result
    val traced = samples.filter(_.traced)
    // the first round of queries (one per client and class) runs the
    // coldest and is left out of the comparison
    val warm = samples.filter(_.seq >= 4)
    res.layer("trace.overhead_ratio",
      Stats.median(warm.filter(_.traced).map(_.ms)) / Stats.median(warm.filterNot(_.traced).map(_.ms)) - 1.0,
      "ratio")
    Classes.foreach { c =>
      Layers.sparkProfile(ctx, traced.filter(_.cls == c).map(_.op), ctx.cores).foreach { case (n, v, u) =>
        ctx.detail(s"query.$c.$n", v, u)
      }
      val ms = samples.filterNot(_.traced).filter(_.cls == c).map(_.ms)
      ctx.detail(s"query.$c.p50_ms", Stats.pct(ms, 0.5), "ms")
      ctx.detail(s"query.$c.p75_ms", Stats.pct(ms, 0.75), "ms")
    }

    // the share of a query's latency that a full decode (positions too)
    // of every posting list it reads would take: an upper bound on what
    // a faster codec can save in that class
    val decodeNs = ctx.tracer.tracing(true) {
      val blobs = Micro.skewBlobs(spark, root)
      Micro.decodeNsPerPosting(ctx, blobs,
        blobs.map(b => new PostingsCodec.BlobView(b).allPostings.length.toLong).sum)
    }
    Classes.foreach { c =>
      val qs = samples.filter(_.cls == c)
      val perQuery = qs.map(q => pick(ctx.seed, pool, q.seq).postings.toDouble).sum / qs.length
      ctx.detail(s"query.$c.postings_per_query", perQuery, "count")
      ctx.detail(s"query.$c.decode_share", perQuery * decodeNs / 1e6 / Stats.median(qs.map(_.ms)), "ratio")
      ctx.extraTrace += s"""{"kind":"decode_share","class":"$c","postings_per_query":$perQuery,""" +
        s""""decode_ns_per_posting":$decodeNs,"p50_ms":${Stats.median(qs.map(_.ms))}}"""
    }

    ctx.tracer.tracing(true)(extras(ctx, spark, root, pool))
  }

  /** Parser cost, and the SQL table function against the same query
    * through `topKWand`. */
  private def extras(ctx: Ctx, spark: SparkSession, root: String, pool: Seq[Query]): Unit = {
    // QueryParser.parse on the classic query strings of the pool
    val texts = pool.filter(_.kind == "classic").map(_.label)
    val analyzer = IndexTables.loadStatsAndConfig(root)._2.analyzer
    var n = 0
    val t0 = System.nanoTime()
    ctx.span("query", "QueryParser.parse") {
      while (Stats.secondsSince(t0) < 0.3) { texts.foreach(QueryParser.parse(_, analyzer)); n += texts.length }
    }
    ctx.detail("query.parse_us", Stats.secondsSince(t0) * 1e6 / n, "us")

    val idx = IndexTables.load(spark, root)
    val s = new Searcher(spark, idx)
    val sqlQs = pool.filter(_.kind == "sql")
    val pairs = sqlQs.flatMap { q =>
      val terms = q.label.split(" ").toSeq
      (0 until 3).map { _ =>
        val tv = Stats.timed(ctx.call(spark, "sql", "match_query", "sql-tvf")(q.exec()))._2
        val dr = Stats.timed(ctx.call(spark, "query", "topKWand", "sql-direct")(
          s.topKWand(terms, K).collect()))._2
        (tv * 1e3, dr * 1e3)
      }
    }
    ctx.detail("sql.match_query_ms", Stats.median(pairs.map(_._1)), "ms")
    ctx.detail("sql.overhead_ms", Stats.median(pairs.map(p => p._1 - p._2)), "ms")
  }
}
