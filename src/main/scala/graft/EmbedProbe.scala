package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decade-probe main for the PRODUCTION incremental vector-index
  * paths (r14 verdict #3: the embedding family needs third-decade
  * evidence). The driver queries `semantic_dedup_incremental` /
  * `ann_incr_topk` pin `nCells = 16` so their DuckDB oracle can
  * replay the exact cell seeds — a toy form whose in-cell pair mass
  * is quadratic in corpus size and cannot be what a 100 TB deployment
  * runs. This probe exercises the production shape instead:
  * `VectorIndex.buildIndex(nCells = 0)` (√N cells from plan
  * metadata) + partition-pruned incremental dedup / top-k, and
  * reports build and incremental wall times separately so a decade
  * step can be attributed to the right phase.
  *
  * Usage: runMain graft.EmbedProbe <sfDir> <dedup|topk>
  * Prints one JSON line. Fresh-JVM solo runs; a small data-independent
  * warmup burns JIT/codegen cost like Bench's preamble does.
  */
object EmbedProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "dedup"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF=k=v;k2=v2 — runtime confs for A/B probes (the
    // Bench convention)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // untimed JIT/codegen warmup (same intent as Bench's preamble)
    spark.range(0, 4000000, 1, 32)
      .selectExpr("id % 97 AS k", "cast(id AS double) AS v")
      .groupBy("k").agg(avg("v"), sum("v"))
      .write.format("noop").mode("overwrite").save()

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def f(v: Double): Double = math.round(v * 100) / 100.0
    // "diversity" probes the one-shot D4 path at its PRODUCTION shape
    // (N/256 cells — the driver query pins nCells=16 for oracle
    // replay); no store involved
    if (mode == "diversity") {
      val t0 = System.nanoTime()
      operators.Similarity
        .diversitySample(emb, removeFrac = 0.25, kmeansIters = 0)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"dir":"$dir","mode":"diversity","build_sec":0.0,"incr_sec":${f(sec)},"total_sec":${f(sec)}}""")
      spark.stop()
      return
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft-embprobe").toString
    val t0 = System.nanoTime()
    // batch 1 = 3/4 of the corpus frozen into the index, production √N cells
    val stages = operators.VectorIndex
      .buildIndexStaged(emb.where(col("vec_id") % 4 =!= 3), store, nCells = 0)
    val tBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val out = mode match {
      case "topk" =>
        operators.VectorIndex
          .incrementalTopK(spark, store, emb.where(col("vec_id") % 4 === 3),
            nQueries = 10, k = 10, nProbe = 4)
      case _ =>
        operators.VectorIndex
          .incrementalSemanticDedup(spark, store, emb.where(col("vec_id") % 4 === 3),
            threshold = 0.3)
    }
    out.write.format("noop").mode("overwrite").save()
    val tIncr = (System.nanoTime() - t1) / 1e9
    val stageJson = stages.map { case (n, s) => s""""$n":${f(s)}""" }.mkString(",")
    println(
      s"""{"dir":"$dir","mode":"$mode","build_sec":${f(tBuild)},""" +
        s""""incr_sec":${f(tIncr)},"total_sec":${f(tBuild + tIncr)},""" +
        s""""build_stages":{$stageJson}}""")
    // the probe store is multi-GB at sf100 — don't leak it across runs
    // (java.nio, not commons-io: the latter is only on the classpath
    // transitively through Spark)
    try {
      java.nio.file.Files
        .walk(java.nio.file.Paths.get(store))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    } catch { case _: Exception => () }
    spark.stop()
  }
}
