package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FracDiff
import graft.operators.{AsofJoin, Bars, Dedup, Dsir, ImbalanceBars, IncrementalDedup, Labels, Similarity, TextAnalysis, VectorIndex}
import graft.sources.TradeData

/** A workload: inputs generated at set-up, then one pass of public
  * graft calls, repeated by the caller. Every pass computes the same
  * outputs from the same inputs.
  */
trait Workload {
  def ops: Seq[String]

  /** How often a standard-size run repeats its set-up; `setup_s`
    * reports the median. Set-up that builds stores is costly and runs
    * once.
    */
  def setupReps: Int = 3

  /** Passes a run makes: the cold pass, warm-up passes, and the last
    * two, which are timed. Sized so that a standard run fits its time
    * budget and its timed passes come after most of the JIT warm-up.
    */
  def passes: Int = 4

  /** Ops that make the same call, with the same parameters, as the
    * `graft.SparkEntry` query of the same name.
    */
  def entryOps: Seq[String] = Seq.empty

  /** Pairs of ops that must give the same rows by two routes. */
  def sameOutputs: Seq[(String, String)] = Seq.empty

  /** Generates the inputs into `dir` and builds any stores. */
  def setup(dir: String): Map[String, Any]

  def pass(r: Runner): Unit

  /** Undoes what a pass left behind (caches, store snapshots). */
  def endPass(): Unit = ()

  /** Shape statistics measured on the program's own output, once, in
    * traced runs.
    */
  def outputCensus(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, s: Gen.Sizes, seed: Long): Workload = name match {
    case "tick_labels" => new TickLabels(spark, s, seed)
    case "corpus_dedup" => new CorpusDedup(spark, s, seed)
    case "corpus_ingest" => new CorpusIngest(spark, s, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every op of every workload, in report order. */
  val allOps: Seq[String] = Seq(
    "read_ticks", "dollar_bars", "volume_bars_overflow", "imbalance_bars", "frac_diff",
    "daily_vol", "vertical_barrier", "vertical_barrier_native", "triple_barrier",
    "uniqueness_weights", "read_corpus", "dedup_exact", "dedup_minhash", "text_quality", "semantic_dedup",
    "ann_ivf_topk",
    "incr_minhash", "incr_semantic", "incr_dsir", "maintain_index",
  )

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }
}

/** AFML feature and label job on a tick tape. */
final class TickLabels(spark: SparkSession, s: Gen.Sizes, seed: Long) extends Workload {
  private var dir = ""
  private var t: DataFrame = _

  val ops = Seq("read_ticks", "dollar_bars", "volume_bars_overflow", "imbalance_bars",
    "frac_diff", "daily_vol", "vertical_barrier", "vertical_barrier_native", "triple_barrier",
    "uniqueness_weights")
  override def entryOps: Seq[String] = ops.tail
  override def passes: Int = 6
  override def sameOutputs: Seq[(String, String)] = Seq("vertical_barrier" -> "vertical_barrier_native")

  def setup(d: String): Map[String, Any] = { dir = d; Gen.ticks(spark, s, seed, d) }

  def pass(r: Runner): Unit = {
    r.op("read_ticks") { c =>
      t = c.call("sources.TradeData.fromEvents")(TradeData.fromEvents(spark, dir)).cache()
      c.emit(t)
    }
    r.op("dollar_bars") { c =>
      c.emit(c.call("operators.Bars.dollarBars")(Bars.dollarBars(t, barSize = 50000.0)))
    }
    r.op("volume_bars_overflow") { c =>
      c.emit(c.call("operators.Bars.volumeBars")(
        Bars.volumeBars(t, barSize = 500L, allowSplits = false)))
    }
    r.op("imbalance_bars") { c =>
      c.emit(c.call("operators.ImbalanceBars.tickImbalanceBars")(
        ImbalanceBars.tickImbalanceBars(t, initTicks = 50.0, alpha = 0.0)))
    }
    r.op("frac_diff") { c =>
      c.emit(c.call("functions.FracDiff.fracDiffChunked")(
        FracDiff
          .fracDiffChunked(t, "price", 0.5, 1e-3, "symbol", to_date(col("ts")), Seq("ts", "trade_id"))
          .select(col("symbol"), col("ts"), col("price"), col("frac_diff"))))
    }
    r.op("daily_vol") { c =>
      c.emit(c.call("operators.Labels.dailyVol")(Labels.dailyVol(t, span = 100)))
    }
    r.op("vertical_barrier") { c =>
      c.emit(c.call("operators.Labels.verticalBarrier")(Labels.verticalBarrier(t, "24 hours")))
    }
    // Labels.verticalBarrier runs the tag+union+window as-of form; the
    // same barrier through AsofJoin.asofNative is what exercises the
    // plans layer (AsofJoinExec). Both must give the same rows.
    r.op("vertical_barrier_native") { c =>
      val left = t.select(col("symbol"), col("ts"), (col("ts") + expr("INTERVAL 24 hours")).as("__off"))
      val right = t.select(col("symbol"), col("ts").as("__rts"), col("ts").as("vertical_barrier"))
      c.emit(c.call("operators.AsofJoin.asofNative")(
        AsofJoin.asofNative(left, right, "__off", "__rts", by = Seq("symbol"), direction = AsofJoin.Forward)
          .select(col("symbol"), col("ts"), col("vertical_barrier"))))
    }
    r.op("triple_barrier") { c =>
      c.emit(c.call("operators.Labels.tripleBarrier")(
        Labels.tripleBarrier(t, horizon = "4 hours", constTarget = Some(0.02))))
    }
    r.op("uniqueness_weights") { c =>
      val ev = t.where(col("trade_id") % 50 === 0).select(
        col("symbol"), col("ts").as("t0"), (col("ts") + expr("INTERVAL 1 HOUR")).as("t1"),
        col("trade_id").as("event_id"))
      c.emit(c.call("operators.Labels.uniquenessWeights")(Labels.uniquenessWeights(t, ev)))
    }
  }

  override def endPass(): Unit = if (t != null) t.unpersist(blocking = true)
}

/** One-shot training-data curation over documents and embeddings. */
final class CorpusDedup(spark: SparkSession, s: Gen.Sizes, seed: Long) extends Workload {
  private var dir = ""
  private var d: DataFrame = _
  private var e: DataFrame = _

  val ops = Seq("read_corpus", "dedup_exact", "dedup_minhash", "text_quality",
    "semantic_dedup", "ann_ivf_topk")
  override def entryOps: Seq[String] = Seq("dedup_exact", "dedup_minhash")

  def setup(dd: String): Map[String, Any] = {
    dir = dd
    val (docs, dc) = Gen.documents(s.docs, seed)
    val (vecs, ec) = Gen.embeddings(s.vectors, s.dim, seed)
    dc ++ ec ++ Map(
      "docs.mb" -> Gen.writeDocs(spark, docs, s"$dir/documents.parquet"),
      "emb.mb" -> Gen.writeEmb(spark, vecs, s"$dir/embeddings.parquet"),
    )
  }

  def pass(r: Runner): Unit = {
    r.op("read_corpus") { c =>
      d = c.call("sources.parquet.documents")(spark.read.parquet(s"$dir/documents.parquet")).cache()
      e = c.call("sources.parquet.embeddings")(spark.read.parquet(s"$dir/embeddings.parquet")).cache()
      c.emit(d)
      c.emit(e)
    }
    r.op("dedup_exact") { c => c.emit(c.call("operators.Dedup.exact")(Dedup.exact(d))) }
    r.op("dedup_minhash") { c =>
      c.emit(c.call("operators.Dedup.minhashLsh")(Dedup.minhashLsh(d, threshold = 0.5)))
    }
    r.op("text_quality") { c =>
      c.emit(c.call("operators.TextAnalysis.gopherFilter")(TextAnalysis.gopherFilter(d)))
      c.emit(c.call("operators.TextAnalysis.quality_bpe_lang")(d.select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCounts(col("text")).getField("bpe_tokens").as("bpe_tokens"),
        TextAnalysis.langId(col("text")).as("lang_pred"))))
    }
    r.op("semantic_dedup") { c =>
      c.emit(c.call("operators.Similarity.semanticDedup")(Similarity.semanticDedup(e)))
    }
    r.op("ann_ivf_topk") { c =>
      c.emit(c.call("operators.Similarity.ivfTopK")(Similarity.ivfTopK(e)))
    }
  }

  override def endPass(): Unit = Seq(d, e).filter(_ != null).foreach(_.unpersist(blocking = true))

  /** Cell sizes of semanticDedup's default N/256 cells on this corpus. */
  override def outputCensus(): Map[String, Any] = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val sizes = Similarity.semanticDedup(emb).groupBy(col("cell")).count()
      .collect().map(_.getLong(1)).sorted
    if (sizes.isEmpty) Map.empty
    else Map(
      "cells.count" -> sizes.length,
      "cells.p50" -> sizes(sizes.length / 2),
      "cells.p99" -> sizes(math.min(sizes.length - 1, (sizes.length * 0.99).toInt)),
      "cells.max" -> sizes.last,
      "cells.sum_sq" -> sizes.map(x => x.toDouble * x).sum,
    )
  }
}

/** The dedup and index layers under ingest: one caller feeds equal
  * batches in turn against stores built at set-up. Every pass starts
  * again from the same base stores, so every pass writes the same
  * snapshots and gives the same outputs.
  */
final class CorpusIngest(spark: SparkSession, s: Gen.Sizes, seed: Long) extends Workload {
  private var dir = ""
  private def base(store: String) = s"$dir/base/$store"
  private def batchDir(b: Int) = s"$dir/batch$b"
  private def passDir = s"$dir/pass"
  private val isTarget = col("lang") === "en"

  val ops = Seq("incr_minhash", "incr_semantic", "incr_dsir", "maintain_index")
  override def setupReps: Int = 1

  /** Per batch run: pass, seconds, store MB written, input MB. */
  val batches = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Double)]

  def setup(dd: String): Map[String, Any] = {
    dir = dd
    val nDocs = s.baseDocs + s.batches * s.batchDocs
    val nVecs = s.baseVectors + s.batches * s.batchVectors
    val (docs, dc) = Gen.documents(nDocs, seed)
    val (vecs, ec) = Gen.embeddings(nVecs, s.dim, seed)
    // ids decide membership: the base is the lowest ids, each batch the next range
    def docsIn(lo: Int, hi: Int) = docs.filter(r => r.getLong(0) >= lo && r.getLong(0) < hi)
    def vecsIn(lo: Int, hi: Int) = vecs.filter(r => r.getLong(0) >= lo && r.getLong(0) < hi)
    Gen.writeDocs(spark, docsIn(0, s.baseDocs), s"$dir/base_docs")
    Gen.writeEmb(spark, vecsIn(0, s.baseVectors), s"$dir/base_emb")
    for (b <- 1 to s.batches) {
      val d0 = s.baseDocs + (b - 1) * s.batchDocs
      val v0 = s.baseVectors + (b - 1) * s.batchVectors
      Gen.writeDocs(spark, docsIn(d0, d0 + s.batchDocs), s"${batchDir(b)}/documents.parquet")
      Gen.writeEmb(spark, vecsIn(v0, v0 + s.batchVectors), s"${batchDir(b)}/embeddings.parquet")
    }
    val baseDocs = spark.read.parquet(s"$dir/base_docs")
    IncrementalDedup.buildStore(baseDocs, base("minhash"))
    VectorIndex.buildIndex(spark.read.parquet(s"$dir/base_emb"), base("vidx"))
    Dsir.buildStore(baseDocs, isTarget, base("dsir"))
    dc ++ ec ++ Map(
      "base.docs" -> s.baseDocs, "base.vectors" -> s.baseVectors,
      "batches" -> s.batches, "batch.docs" -> s.batchDocs, "batch.vectors" -> s.batchVectors,
      "base.store_mb" -> Gen.sizeMb(s"$dir/base"),
      "batch.input_mb" -> Gen.sizeMb(batchDir(1)),
    )
  }

  def pass(r: Runner): Unit = {
    Workload.rm(Paths.get(passDir))
    Files.createDirectories(Paths.get(passDir))
    Workload.copy(Paths.get(base("vidx")), Paths.get(s"$passDir/vidx"))
    val vidx = s"$passDir/vidx"
    for (b <- 1 to s.batches) {
      val mhIn = if (b == 1) base("minhash") else s"$passDir/minhash$b"
      val dsIn = if (b == 1) base("dsir") else s"$passDir/dsir$b"
      val mhOut = s"$passDir/minhash${b + 1}"
      val dsOut = s"$passDir/dsir${b + 1}"
      val docs = spark.read.parquet(s"${batchDir(b)}/documents.parquet")
      val emb = spark.read.parquet(s"${batchDir(b)}/embeddings.parquet")
      val vidxBefore = Gen.sizeMb(vidx)
      var sec = r.op("incr_minhash", s"incr_minhash@$b") { c =>
        c.emit(c.call("operators.IncrementalDedup.incrementalPairs")(
          IncrementalDedup.incrementalPairs(spark, mhIn, docs)))
        c.call("operators.IncrementalDedup.appendStore", eager = true)(
          IncrementalDedup.appendStore(spark, mhIn, docs, mhOut))
      }
      sec += r.op("incr_semantic", s"incr_semantic@$b") { c =>
        c.emit(c.call("operators.VectorIndex.incrementalSemanticDedup")(
          VectorIndex.incrementalSemanticDedup(spark, vidx, emb)))
        c.call("operators.VectorIndex.appendIndex", eager = true)(
          VectorIndex.appendIndex(spark, vidx, emb))
      }
      sec += r.op("incr_dsir", s"incr_dsir@$b") { c =>
        c.emit(c.call("operators.Dsir.scoreAgainst")(Dsir.scoreAgainst(spark, dsIn, docs)))
        c.call("operators.Dsir.appendStore", eager = true)(
          Dsir.appendStore(spark, dsIn, docs, isTarget, dsOut))
      }
      if (b % s.maintainEvery == 0)
        sec += r.op("maintain_index", s"maintain_index@$b") { c =>
          c.emit(c.call("operators.VectorIndex.maintainIndex", eager = true)(
            VectorIndex.maintainIndex(spark, vidx)))
        }
      val written = Gen.sizeMb(mhOut) + Gen.sizeMb(dsOut) + Gen.sizeMb(vidx) - vidxBefore
      batches += ((r.pass, sec, written, Gen.sizeMb(batchDir(b))))
    }
  }

  override def endPass(): Unit = Workload.rm(Paths.get(passDir))
}
