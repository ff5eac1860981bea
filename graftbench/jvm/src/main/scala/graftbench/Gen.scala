package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator for the benchmark's three workloads.
  *
  * The seed decides every value; the size decides the amount of work.
  * Workload SHAPE is fixed by the size alone, so runs with different
  * seeds do the same amount of work and their times are comparable:
  * symbol shares follow a fixed Zipf law, cluster sizes a fixed
  * heavy-tailed profile, and near-duplicate families a fixed share.
  *
  * Files are written in the layout graft's file sources read
  * (`events.parquet`, `documents.parquet`, `embeddings.parquet`), so
  * the same directory also feeds `graft.SparkEntry` queries.
  */
object Gen {

  final case class Sizes(
      ticks: Int,
      symbols: Int,
      days: Int,
      docs: Int,
      vectors: Int,
      dim: Int,
      baseDocs: Int,
      baseVectors: Int,
      batches: Int,
      batchDocs: Int,
      batchVectors: Int,
      maintainEvery: Int,
  )

  val sizes: Map[String, Sizes] = Map(
    // corpus_dedup's vectors stay above 65,536 so semanticDedup's
    // default N/256 cell count clears its 256-cell tiled-assignment gate
    "standard" -> Sizes(
      ticks = 40000, symbols = 20, days = 20,
      docs = 2000, vectors = 66000, dim = 32,
      baseDocs = 2000, baseVectors = 8000,
      batches = 1, batchDocs = 500, batchVectors = 1000, maintainEvery = 1),
    "tiny" -> Sizes(
      ticks = 3000, symbols = 4, days = 3,
      docs = 400, vectors = 1200, dim = 16,
      baseDocs = 300, baseVectors = 800,
      batches = 1, batchDocs = 60, batchVectors = 120, maintainEvery = 1),
  )

  val SymbolZipf = 1.0
  val NearDupDocShare = 0.20
  val ExactDupDocShare = 0.03
  val NearDupVecShare = 0.10
  val VecsPerCluster = 200
  val ClusterTail = 0.7

  private val micros0 = 1704067200000000L // 2024-01-01T00:00:00Z
  private val dayMicros = 86400L * 1000000L

  /** Deterministic per-rank counts of `total` items over `n` ranks with
    * weight rank^-s (largest remainders go to the top ranks).
    */
  private[graftbench] def profile(total: Int, n: Int, s: Double): Array[Int] = {
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
    val ws = w.sum
    val c = w.map(x => (total * x / ws).toInt)
    var rest = total - c.sum
    var i = 0
    while (rest > 0) { c(i % n) += 1; rest -= 1; i += 1 }
    c
  }

  private final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def double(x: Double): Unit = long(java.lang.Double.doubleToRawLongBits(x))
    def str(s: String): Unit = { long(s.length.toLong); md.update(s.getBytes("UTF-8")) }
    def hex: String = md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Long = {
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(path)
    dirBytes(path)
  }

  // ---------------------------------------------------------------- ticks

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false),
  ))

  /** A tick tape with Zipf-skewed symbol activity: per symbol, sorted
    * uniform arrival times over `days` and a log random-walk price in
    * cents from 100.00 (a fixed start keeps the dollar volume, and so
    * the bar count, the same from seed to seed). `event_type` carries the symbol and `value` the price
    * (graft's `TradeData.fromEvents` view); ids follow time order.
    */
  def ticks(spark: SparkSession, s: Sizes, seed: Long, dir: String): Map[String, Any] = {
    val rnd = new SplittableRandom(seed * 1000003L + 1)
    val names = Array.tabulate(s.symbols)(i => f"S$i%02d")
    val counts = profile(s.ticks, s.symbols, SymbolZipf)
    val span = s.days.toLong * dayMicros
    val ticks = new ArrayBuffer[(Long, String, Double)](s.ticks)
    for (r <- 0 until s.symbols) {
      val ts = Array.fill(counts(r))(rnd.nextLong(span)).sorted
      var logP = math.log(100.0)
      ts.foreach { t =>
        logP += 0.002 * gaussian(rnd)
        ticks += ((micros0 + t, names(r), math.max(1L, math.round(math.exp(logP) * 100)) / 100.0))
      }
    }
    val sorted = ticks.sortBy(t => (t._1, t._2))
    val d = new Digest
    val rows = sorted.zipWithIndex.map { case ((t, sym, px), id) =>
      val user = rnd.nextInt(1000).toLong
      d.long(id.toLong); d.long(t); d.long(user); d.str(sym); d.double(px)
      val at = java.time.Instant.ofEpochSecond(t / 1000000L, (t % 1000000L) * 1000L)
      Row(id.toLong, at, user, sym, px, "{}")
    }
    val bytes = write(spark, rows.toSeq, eventsSchema, s"$dir/events.parquet")
    Map(
      "ticks.rows" -> s.ticks,
      "ticks.mb" -> mb(bytes),
      "ticks.symbols" -> s.symbols,
      "ticks.top_symbol_share" -> counts.max.toDouble / s.ticks,
      "ticks.sha" -> d.hex,
    )
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = math.max(rnd.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  // ------------------------------------------------------------ documents

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
  ))

  private val langs = Array("en", "de", "es", "fr", "zh")
  private val langShare = Array(0.4, 0.15, 0.15, 0.15, 0.15)
  private val functionWords: Map[String, Array[String]] = Map(
    "en" -> Array("the", "and", "of", "to", "in", "is", "that", "for", "it", "on", "with", "as"),
    "de" -> Array("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit", "auf"),
    "es" -> Array("el", "los", "las", "y", "es", "una", "por", "con", "para", "del", "que"),
    "fr" -> Array("le", "les", "des", "et", "est", "une", "dans", "pour", "que", "du", "sur"),
    "zh" -> Array("de", "shi", "bu", "wo", "ni", "ta", "men", "zai", "you", "le", "he"),
  )
  private val syllables = Array("ka", "lo", "mi", "ren", "to", "sa", "vel", "dor", "qui", "ny",
    "pra", "ste", "ul", "bro", "ga", "zen", "fi", "mar", "cho", "et", "wal", "ix", "tru", "po")
  private val vocab: Array[String] = Array.tabulate(4000) { i =>
    var x = i; val sb = new StringBuilder
    do { sb ++= syllables(x % syllables.length); x /= syllables.length } while (x > 0)
    if (i % 7 == 0) sb ++= "s"
    sb.toString
  }
  private val vocabCdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(r => 1.0 / (r + 1)); val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private def zipfWord(rnd: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, rnd.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  private def pick(rnd: SplittableRandom, share: Array[Double]): Int = {
    var u = rnd.nextDouble(); var i = 0
    while (i < share.length - 1 && u >= share(i)) { u -= share(i); i += 1 }
    i
  }

  private def freshText(rnd: SplittableRandom, lang: String): String = {
    val n = 20 + (60 * math.exp(0.6 * gaussian(rnd))).toInt.min(540)
    val fw = functionWords(lang)
    val sb = new StringBuilder
    for (i <- 0 until n) {
      if (i > 0) sb += ' '
      sb ++= (if (rnd.nextDouble() < 0.3) fw(rnd.nextInt(fw.length)) else zipfWord(rnd))
      val u = rnd.nextDouble()
      if (u < 0.06) sb += '.' else if (u < 0.09) sb += ','
    }
    sb.toString
  }

  /** Edit ~4% of the words: a near-duplicate keeps Jaccard well above
    * the 0.5 minhash threshold.
    */
  private def nearCopy(rnd: SplittableRandom, text: String): String =
    text.split(" ").map(w => if (rnd.nextDouble() < 0.04) zipfWord(rnd) else w).mkString(" ")

  /** Documents with near-duplicate families at [[NearDupDocShare]] and
    * exact copies at [[ExactDupDocShare]]; each copy's original has a
    * lower id, so in the ingest workload batches repeat stored docs.
    */
  def documents(n: Int, seed: Long): (Seq[Row], Map[String, Any]) = {
    val rnd = new SplittableRandom(seed * 1000003L + 2)
    val texts = new Array[String](n)
    val ls = new Array[String](n)
    var near = 0; var exact = 0
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      if (i > 0 && u < ExactDupDocShare) {
        val j = rnd.nextInt(i); texts(i) = texts(j); ls(i) = ls(j); exact += 1
      } else if (i > 0 && u < ExactDupDocShare + NearDupDocShare) {
        val j = rnd.nextInt(i); texts(i) = nearCopy(rnd, texts(j)); ls(i) = ls(j); near += 1
      } else {
        ls(i) = langs(pick(rnd, langShare)); texts(i) = freshText(rnd, ls(i))
      }
    }
    val d = new Digest
    val rows = (0 until n).map { i =>
      d.long(i.toLong); d.str(texts(i)); d.str(ls(i))
      Row(i.toLong, texts(i), ls(i), s"src${i % 8}", texts(i).length.toLong)
    }
    (rows, Map(
      "docs.rows" -> n,
      "docs.near_dup_share" -> near.toDouble / n,
      "docs.exact_dup_share" -> exact.toDouble / n,
      "docs.sha" -> d.hex,
    ))
  }

  // ----------------------------------------------------------- embeddings

  private def embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false),
  ))

  /** A clustered Gaussian mixture on the unit sphere. Cluster sizes
    * follow the fixed heavy-tailed profile rank^-[[ClusterTail]], so
    * k-means cells come out ragged; [[NearDupVecShare]] of the vectors
    * are near-copies (cosine > 0.97) of an earlier member of their
    * cluster. Ids are a seeded permutation, so the smallest-id
    * centroid seeds graft picks land on random members.
    */
  def embeddings(n: Int, dim: Int, seed: Long): (Seq[Row], Map[String, Any]) = {
    val rnd = new SplittableRandom(seed * 1000003L + 3)
    val k = math.max(4, n / VecsPerCluster)
    val sizes = profile(n, k, ClusterTail)
    val centers = Array.fill(k)(unit(Array.fill(dim)(gaussian(rnd))))
    val ids = Array.range(0, n)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val vecs = new Array[Array[Float]](n)
    val label = new Array[Int](n)
    var i = 0
    for (c <- 0 until k; m <- 0 until sizes(c)) {
      val first = i - m
      val v =
        if (m > 0 && rnd.nextDouble() < NearDupVecShare) {
          val src = vecs(first + rnd.nextInt(m))
          unit(Array.tabulate(dim)(x => src(x) + 0.03 * gaussian(rnd) / math.sqrt(dim)))
        } else unit(Array.tabulate(dim)(x => centers(c)(x) + 0.8 * gaussian(rnd) / math.sqrt(dim)))
      vecs(i) = v.map(_.toFloat); label(i) = c; i += 1
    }
    val order = ids.indices.sortBy(ids(_))
    val d = new Digest
    val rows = order.map { r =>
      d.long(ids(r).toLong); vecs(r).foreach(x => d.long(java.lang.Float.floatToRawIntBits(x).toLong))
      Row(ids(r).toLong, vecs(r).toSeq, label(r))
    }
    val sq = sizes.map(x => x.toDouble * x)
    (rows, Map(
      "emb.rows" -> n,
      "emb.dim" -> dim,
      "emb.clusters" -> k,
      "emb.cluster_max" -> sizes.max,
      "emb.cluster_sum_sq" -> sq.sum,
      "emb.sha" -> d.hex,
    ))
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def writeDocs(spark: SparkSession, rows: Seq[Row], path: String): Double =
    mb(write(spark, rows, docsSchema, path))

  def writeEmb(spark: SparkSession, rows: Seq[Row], path: String): Double =
    mb(write(spark, rows, embSchema, path))

  def sizeMb(path: String): Double = mb(dirBytes(path))
}
