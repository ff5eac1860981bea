package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: generates one workload's inputs from a seed, runs
  * its pass in a closed loop for a fixed time, and writes every
  * measurement to a JSON result file. `run.py` builds and launches it.
  *
  * A pass is timed as a whole. The first pass in the JVM is the cold
  * pass; the steady pass time is the median of the last two passes,
  * after one or more warm-up passes.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      size: String,
      work: String,
      result: String,
      spawnMs: Long,
      expected: String,
      entryCheck: Boolean,
  )

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      size = m.getOrElse("size", "standard"),
      work = get("work"),
      result = get("result"),
      spawnMs = m.get("spawn-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      expected = m.getOrElse("expected", ""),
      entryCheck = m.get("entry-check").contains("1"),
    )
  }

  /** The benchmark measures graft's default code path only: an
    * inherited `spark.graft.*` conf or `GRAFT_*` variable would be an
    * A/B switch nobody asked for.
    */
  def graftSettings(env: Map[String, String], props: Iterable[String]): Seq[String] =
    env.keys.filter(k => k.startsWith("GRAFT_") || k.startsWith("SPARK_GRAFT_")).toSeq.sorted ++
      props.filter(_.startsWith("spark.graft.")).toSeq.sorted

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val set = graftSettings(sys.env, sys.props.keys)
    if (set.nonEmpty) {
      System.err.println(s"[graftbench] refusing to run: graft setting ${set.mkString(", ")} is set; " +
        "the benchmark measures graft's defaults")
      sys.exit(2)
    }
    val sizes = Gen.sizes(a.size)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val confSet = graftSettings(Map.empty, spark.conf.getAll.keys)
    require(confSet.isEmpty, s"graft setting ${confSet.mkString(", ")} is set")

    val wl = Workload(a.workload, spark, sizes, a.seed)
    val sessionS = (System.currentTimeMillis() - a.spawnMs) / 1000.0

    val dir = s"${a.work}/input"
    val setupTimes = ArrayBuffer.empty[Double]
    var census = Map.empty[String, Any]
    for (_ <- 0 until (if (a.size == "tiny") 1 else wl.setupReps)) {
      Workload.rm(Paths.get(dir))
      val t0 = System.nanoTime()
      census = wl.setup(dir)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setupTimes.toSeq)

    val expected: Map[String, String] = {
      val f = new File(a.expected)
      if (a.expected.isEmpty || !f.isFile) Map.empty
      else {
        val e = json.readValue(f, classOf[Map[String, Any]])
        if (e("seed").toString.toLong != a.seed || e("size") != a.size) Map.empty
        else e("fingerprints").asInstanceOf[Map[String, Map[String, String]]]
          .getOrElse(a.workload, Map.empty)
      }
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runner = new Runner(tracer, expected)

    val passTimes = ArrayBuffer.empty[Double]
    val heaps = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // the workload's passes, unless the next one would overrun
    // --seconds; at least the cold pass, one warm-up pass and one timed
    // pass, and in a traced run a traced pass with an untraced pass on
    // either side
    val minPasses = if (a.trace) 4 else 3
    val maxPasses = math.max(minPasses, wl.passes)
    while (p < minPasses || (p < maxPasses && elapsed + passTimes.last <= a.seconds)) {
      // traced runs trace the cold pass and every second pass after it;
      // the passes between them give the untraced times to compare
      runner.tracing = a.trace && p % 2 == 0
      passTimes += runner.inPass(p)(wl.pass(runner))
      // every pass after the cold one starts from a fully collected heap
      heaps += (if (p >= 1) Trace.liveHeapMb() else 0.0)
      wl.endPass()
      if (p == 0) {
        wl.sameOutputs.foreach { case (x, y) =>
          runner.attempted += 1
          if (runner.fingerprints.get(x) != runner.fingerprints.get(y))
            runner.failures += s"$x and $y differ: ${runner.fingerprints.get(x)} vs ${runner.fingerprints.get(y)}"
        }
        if (a.entryCheck) entryCheck(spark, wl, runner, dir)
      }
      System.err.println(f"[graftbench] pass $p: ${passTimes.last}%.3f s")
      p += 1
    }
    val measureS = elapsed
    val outCensus = if (a.trace) wl.outputCensus() else Map.empty[String, Any]

    val warm = passTimes.indices.drop(1)
    val timed = passTimes.indices.drop(math.max(2, passTimes.length - 2))
    val endToEnd = Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> passTimes.head,
      "pass_s" -> median(timed.map(passTimes)),
      "peak_live_heap_mb" -> timed.map(heaps).max,
    )
    val perLayer = if (a.trace) layerMetrics(runner, passTimes.toSeq) else Map.empty[String, Double]
    val ingest = wl match {
      case w: CorpusIngest => ingestMetrics(w, warm.toSet)
      case _ => Map.empty[String, Double]
    }

    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "size" -> a.size, "trace" -> a.trace,
      "cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "correct" -> runner.failures.isEmpty,
      "attempted" -> runner.attempted,
      "failed" -> runner.failed,
      "fail_ratio" -> runner.failed.toDouble / math.max(1, runner.attempted),
      "failures" -> runner.failures.toSeq,
      "session_s" -> sessionS, "setup_reps_s" -> setupTimes.toSeq, "measure_s" -> measureS,
      "pass_times_s" -> passTimes.toSeq, "timed_passes" -> timed.toSeq,
      "live_heap_mb" -> heaps.toSeq,
      "end_to_end" -> endToEnd,
      "ingest" -> ingest,
      "per_layer" -> perLayer,
      "census" -> (census ++ outCensus),
      "fingerprints" -> runner.fingerprints.toMap,
    )
    Files.createDirectories(Paths.get(a.result).getParent)
    json.writeValue(new File(a.result), result)
    if (a.trace) {
      val spansFile = a.result.stripSuffix(".json") + ".spans.jsonl"
      val w = Files.newBufferedWriter(Paths.get(spansFile))
      try runner.spans.foreach { s => w.write(json.writeValueAsString(s)); w.newLine() }
      finally w.close()
    }
    spark.stop()
  }

  /** Each op listed in `entryOps` must fingerprint exactly like the
    * SparkEntry query of the same name run on the same input.
    */
  private def entryCheck(spark: SparkSession, wl: Workload, r: Runner, dir: String): Unit =
    wl.entryOps.foreach { op =>
      r.attempted += 1
      try {
        val got = r.fingerprintOf(graft.SparkEntry.queries(op)(spark, dir))
        val want = r.fingerprints.getOrElse(op, "missing")
        if (got != want) r.failures += s"$op: SparkEntry fingerprint $got differs from benchmark $want"
      } catch {
        case e: Exception => r.failures += s"$op: SparkEntry query threw ${e.toString.take(300)}"
      }
    }

  /** Per-op engine metrics from the traced passes after the cold one
    * (the cold pass when there is no other), zero for ops this
    * workload does not run.
    */
  private def layerMetrics(r: Runner, passTimes: Seq[Double]): Map[String, Double] = {
    val tracedWarm = passTimes.indices.filter(p => p > 0 && p % 2 == 0)
    val use = if (tracedWarm.nonEmpty) tracedWarm.toSet else Set(0)
    val runs = r.runs.filter(x => use(x.pass) && x.stats.isDefined)
    val perOp = Workload.allOps.flatMap { op =>
      val rs = runs.filter(_.op == op)
      def m(f: Runner.OpRun => Double) = median(rs.map(f).toSeq)
      Seq(
        s"$op.wall_s" -> m(_.wallS),
        s"$op.gc_s" -> m(_.stats.get.gcMs / 1000.0),
        s"$op.shuffle_mb" -> m(_.stats.get.shuffleBytes / 1048576.0),
        s"$op.spill_mb" -> m(_.stats.get.spillBytes / 1048576.0),
        s"$op.task_skew" -> (if (rs.isEmpty) 0.0 else m(_.stats.get.taskSkew)),
        s"$op.plan_jobs" -> m(_.stats.get.planJobs.toDouble),
      )
    }
    def perPass(f: OpStats => Long): Double =
      median(use.toSeq.map(p => runs.filter(_.pass == p).map(x => f(x.stats.get)).sum.toDouble))
    // pass times still fall while the JVM warms up, so each traced pass
    // is compared with the mean of the untraced passes either side of it
    val overhead = median(tracedWarm.filter(_ + 1 < passTimes.length).map { p =>
      passTimes(p) - (passTimes(p - 1) + passTimes(p + 1)) / 2
    })
    perOp.toMap ++ Map(
      "plans.asof_join.rows_out" -> perPass(_.asofRowsOut),
      "plans.cell_score.rows_in" -> perPass(_.cellScoreRowsIn),
      "trace.overhead_s" -> overhead,
    )
  }

  /** Batch latency and store growth of the ingest workload over its
    * passes after the cold one. The tail is the highest percentile that
    * leaves at least ten samples above it.
    */
  private def ingestMetrics(w: CorpusIngest, passes: Set[Int]): Map[String, Double] = {
    val bs = w.batches.filter(b => passes(b._1))
    val secs = bs.map(_._2).sorted.toSeq
    val n = secs.length
    val (pct, tail) =
      if (n <= 10) (50.0, median(secs)) else (100.0 * (n - 10) / n, secs(n - 11))
    val perPass = bs.groupBy(_._1).values.map(_.map(_._3).sum).toSeq
    Map(
      "ingest.batch_p50_s" -> median(secs),
      "ingest.batch_tail_s" -> tail,
      "ingest.batch_tail_pct" -> pct,
      "ingest.batch_samples" -> n.toDouble,
      "ingest.store_mb_per_input_mb" -> bs.map(_._3).sum / math.max(1e-9, bs.map(_._4).sum),
      "store.bytes_written_mb" -> median(perPass),
    )
  }
}
