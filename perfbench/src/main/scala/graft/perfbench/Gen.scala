package graft.perfbench

/** One source file row — the input table shape the engine indexes
  * (repo, path, commit, lang, content). */
final case class SrcDoc(repo: String, path: String, commit: String, lang: String, content: String)

/** A (doc_id, text) row: the shape of the ingest and dedup inputs. */
final case class TextDoc(doc_id: Long, text: String, lang: String)

/** Seeded input generators, owned by the benchmark so that no change
  * to the engine can change its inputs. Every value is a pure function
  * of (seed, ordinal): rows can be generated on executors or on the
  * driver, in any order and at any parallelism, with identical bytes.
  *
  * The content mimics source code: keywords that occur in nearly every
  * file (`public`, `import`, `class`, ...: the skewed posting lists),
  * identifiers `id<rank>` drawn log-uniformly over a 10,000-word
  * vocabulary (Zipf-like), and one rare marker `m<k>` per file that
  * only a handful of files share. */
object Gen {
  val Keywords: Array[String] = Array("public", "import", "class", "return", "static", "void")
  val Langs: Array[String] = Array("java", "scala", "py", "go")
  val Vocab = 10000

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, i: Long, slot: Long): Long = mix(seed ^ mix(i ^ mix(slot)))

  def u01(seed: Long, i: Long, slot: Long): Double =
    (hash(seed, i, slot) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform integer in [0, n). */
  def below(seed: Long, i: Long, slot: Long, n: Long): Long =
    (hash(seed, i, slot) >>> 1) % n

  def zipfRank(seed: Long, i: Long, slot: Long): Int = {
    val u = u01(seed, i, slot)
    math.min((math.exp(u * math.log(Vocab.toDouble)) - 1.0).toInt, Vocab - 1)
  }

  def lang(seed: Long, key: Long): String = Langs(below(seed, key, 1, Langs.length).toInt)

  /** Rare marker of a file: about four files of a corpus share one. */
  def marker(seed: Long, key: Long, corpusSize: Long): Long =
    below(seed, key, 2, math.max(1L, corpusSize / 4))

  def content(seed: Long, key: Long, corpusSize: Long): String = {
    val lg = lang(seed, key)
    val nTok = 50 + below(seed, key, 3, 150).toInt
    val sb = new java.lang.StringBuilder(nTok * 8)
    if (lg == "java" || lg == "scala")
      sb.append("public class F").append(key).append(" { import pkg").append(key % 97).append("; ")
    else
      sb.append("def f").append(key).append("(): import mod").append(key % 97).append(' ')
    var t = 0
    while (t < nTok) {
      if (u01(seed, key, 100L + t) < 0.12)
        sb.append(Keywords(below(seed, key, 5000L + t, Keywords.length).toInt))
      else sb.append("id").append(zipfRank(seed, key, 10000L + t))
      sb.append(if (t % 8 == 7) ";\n" else " ")
      t += 1
    }
    sb.append(" return m").append(marker(seed, key, corpusSize)).append("; }")
    sb.toString
  }

  def srcDoc(seed: Long, i: Long, corpusSize: Long): SrcDoc = {
    val lg = lang(seed, i)
    SrcDoc("repo" + (i % 100), s"src/F$i.$lg", f"${hash(seed, i % 100, 4) & 0xFFFFFFFFL}%08x",
      lg, content(seed, i, corpusSize))
  }

  /** Write `n` generated source files as a parquet table in `parts`
    * files (fixed, so the layout never depends on the session). */
  def writeCorpus(spark: org.apache.spark.sql.SparkSession, seed: Long, n: Long,
      parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).map(i => srcDoc(seed, i, n))
      .write.mode("overwrite").parquet(path)
  }

  // ---- near-duplicate clusters (dedup) ---------------------------------

  /** A planted copy: `source` edited at `edits` token slots. */
  final case class Copy(id: Long, source: Long, edits: Int)

  /** Planted clusters over a corpus of `n` documents: cluster c copies
    * one source document 1–3 times; each copy replaces 0–6 of its
    * tokens with fresh words (0 edits = an exact duplicate). */
  def plantedCopies(seed: Long, n: Long, clusters: Int): Seq[Copy] = {
    var next = n
    (0 until clusters).flatMap { c =>
      val src = below(seed, c, 20, n)
      val copies = 1 + below(seed, c, 21, 3).toInt
      (0 until copies).map { j =>
        val cp = Copy(next, src, below(seed, c * 8L + j, 22, 7).toInt)
        next += 1
        cp
      }
    }
  }

  /** The text of a planted copy: whitespace-separated token slots of
    * the source, `edits` of them (seeded, distinct) replaced. */
  def copyText(seed: Long, cp: Copy, n: Long): String = {
    val toks = content(seed, cp.source, n).split(" ")
    val slots = scala.collection.mutable.LinkedHashSet.empty[Int]
    var k = 0
    while (slots.size < math.min(cp.edits, toks.length)) {
      slots += below(seed, cp.id * 64L + k, 23, toks.length).toInt
      k += 1
    }
    slots.foreach(s => toks(s) = s"edit${cp.id}x$s")
    toks.mkString(" ")
  }
}
