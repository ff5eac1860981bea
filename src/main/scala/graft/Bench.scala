package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Honesty contract (round-2 fix): each query is fully materialized
  * through the noop sink — every output column is evaluated, so a
  * query that would abort on real data cannot hide behind a pruned
  * `count()`. Failures are recorded per query (`ok:false`, elapsed =
  * time-to-failure) and the process exits non-zero if any query fails.
  */
object Bench {

  /** The compact final stdout line. `cpus` is emitted as a JSON
    * string: `*` (as in `local[*]`) is a valid setting and would
    * make a bare number field unparseable.
    */
  private[graft] def summaryLine(
      totalSec: String,
      nFail: Int,
      failedPart: String,
      sfDir: String,
      cpus: String,
      nQueries: Int,
      codegenCompiles: Long,
  ): String =
    s"""{"total_sec":$totalSec,"failed":$nFail$failedPart,"sf":"$sfDir","cpus":"$cpus","n_queries":$nQueries,""" +
      s""""codegen_compiles":$codegenCompiles}"""

  /** Classes Janino has compiled in this JVM, and their compile time in
    * ms: Spark's codegen cache keeps at most 100, so a run whose
    * working set is larger compiles the rest again on every use.
    */
  private def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    HarnessConf.applyEnv(spark)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // untimed JVM/codegen warmup, so the first timed query measures
    // the engine, not JIT compilation. Two layers: a data-independent
    // literal-range aggregate that can never fail (exercises codegen,
    // shuffle, and the noop sink), then the tiny flagship query. A
    // warmup failure is shouted, not swallowed — a silently-dead
    // warmup skewed every round-9 timing.
    spark.range(0, 4000000, 1, 32)
      .selectExpr("id % 97 AS k", "cast(id AS double) AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.avg("v"), org.apache.spark.sql.functions.sum("v"))
      .write.format("noop").mode("overwrite").save()
    // pre-JIT the other big execution classes the 80 queries lean on
    // (window frames, broadcast hash join, explode, array HOFs, sort)
    // — still data-independent, still untimed; without this the first
    // timed query of each class absorbs its whole-stage-codegen +
    // interpreter warmup, smearing multi-second cold-position noise
    // across whichever queries the map order puts first
    spark.sql(
      """WITH t AS (SELECT id, id % 31 AS k, cast(id AS double) AS v,
        |                  sequence(0, cast(id % 7 AS int)) AS arr
        |           FROM range(0, 200000))
        |SELECT k, v, lead(v, 3) OVER (PARTITION BY k ORDER BY id) AS l,
        |       sum(v) OVER (PARTITION BY k ORDER BY id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |       e, aggregate(arr, 0L, (a, x) -> a + x) AS hof
        |FROM t LATERAL VIEW explode(arr) AS e
        |ORDER BY k, c""".stripMargin)
      .write.format("noop").mode("overwrite").save()
    spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
      .join(
        org.apache.spark.sql.functions.broadcast(
          spark.range(0, 100).selectExpr("id AS k", "id * 3 AS z")),
        "k")
      .write.format("noop").mode("overwrite").save()
    // string/hash kernels (md5, regex, split, lower) — the text half
    // of the query surface
    spark.range(0, 50000)
      .selectExpr(
        "md5(concat('warm ', id)) AS h",
        "regexp_replace(concat('a b  c', id), '\\\\s+', ' ') AS r",
        "split(concat('x y z ', id), ' ') AS s",
        "lower(concat('ABC', id)) AS lo")
      .selectExpr("h", "r", "size(s) AS n", "lo", "conv(substring(h, 1, 15), 16, 10) AS c")
      .write.format("noop").mode("overwrite").save()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch {
      case e: Throwable =>
        System.err.println(
          s"BENCH WARMUP FAILURE (flagship query threw; timings below are JIT-colder): " +
            s"${e.getClass.getName}: ${e.getMessage}")
    }
    val results = selected.map { case (name, fn) =>
      val (c0, ms0) = codegen()
      val t0 = System.nanoTime()
      val ok =
        try {
          // noop sink evaluates every column of every row
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAILURE in $name: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      // each query is fully materialized at this point: drop its
      // persisted/localCheckpoint'ed intermediates so 80 queries'
      // barriers don't accumulate into executor-memory/GC pressure
      // for the later ones
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val elapsed = (System.nanoTime() - t0) / 1e9
      val (c1, ms1) = codegen()
      name -> (elapsed, ok, c1 - c0, ms1 - ms0)
    }
    // stdout precision: 2 decimals keeps the line ~1.7 KB at 70
    // queries (the driver reads only the last ~2000 stdout chars);
    // bench_out.json keeps full precision
    def fmt(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val nFail = results.count { case (_, (_, ok, _, _)) => !ok }
    val failedNames = results.collect { case (k, (_, false, _, _)) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map { case (_, (v, _, _, _)) => v }.sum
    // stdout line: ms-rounded timings, failures as a (normally empty)
    // name list — the driver keeps only the LAST ~2000 chars of stdout,
    // and rounds 1-5 proved a full-precision line with a per-query ok
    // map (~3 KB) gets its head truncated → "parsed": null every round.
    // This form is ~1.2 KB at 47 queries; full precision + the ok map
    // live in bench_out.json.
    val qsShort = results.map { case (k, (v, _, _, _)) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failedPart = if (nFail > 0) s""","failed_queries":$failedNames""" else ""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsShort,"failed":$nFail$failedPart,"sf":"$sfDir"}"""
    println(line)
    // r18 (VERDICT r17 #2): at 133 queries the per-query line is
    // ~2.9 KB and the driver keeps only the LAST ~2000 stdout chars —
    // its HEAD truncates and the driver has parsed null since r16.
    // A SECOND, compact summary line as the final print always fits
    // the tail; the full per-query map stays on the line above and in
    // bench_out.json. Timing methodology unchanged.
    println(summaryLine(fmt(total), nFail, failedPart, sfDir, cpus, results.size,
      results.map { case (_, (_, _, c, _)) => c }.sum))
    def perQuery(f: ((Double, Boolean, Long, Double)) => Any): String =
      results.map { case (k, r) => s"\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(_._1)},"ok":${perQuery(_._2)},""" +
        s""""codegen_compiles":${perQuery(_._3)},"codegen_compile_ms":${perQuery(_._4)},""" +
        s""""failed":$nFail,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
    )
    catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
