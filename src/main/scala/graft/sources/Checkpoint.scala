package graft.sources

import org.apache.spark.sql.DataFrame

/** Parquet checkpoint tables for pipeline stages that are re-read by
  * several downstream consumers (both sides of a self-join, a
  * signature table plus its verify pass).
  *
  * Why not `persist(MEMORY_AND_DISK)`: a cached row-format copy of a
  * wide intermediate (hashed-shingle sets are ~8 bytes per input
  * character — larger than the corpus) occupies executor memory/disk
  * for the job's lifetime and is re-shuffled per consumer. A parquet
  * checkpoint is columnar (compressed with the session codec unless
  * the payload is high-entropy — see [[Checkpoint.vectorCodec]]),
  * each consumer scans only the columns it needs (the band join
  * reads `sig`, the verify join reads `hsl`), and on a cluster it
  * lands on the shared FS instead of executor-local store. The write
  * is also the materialization barrier the interpreted-HOF CSE
  * hazard needs (see Dedup) — no eager count() required.
  */
/** Minimum-parallelism guard for CPU-heavy map stages. */
object Par {

  /** Ensure at least cluster-default parallelism. A single-row-group
    * parquet file arrives as ONE non-empty scan task (byte-range
    * splits cannot divide a row group), which would serialize the
    * downstream per-row work — shingle hashing, codec calls, minhash
    * signatures — onto one core. No-op when the input is already
    * well-split, so nothing changes on a real multi-split corpus.
    *
    * Apply BEFORE attaching the expensive projection: a repartition
    * ABOVE it would still evaluate the projection on the under-split
    * side of the exchange (exchanges do not push projections down
    * through themselves).
    */
  def spread(df: DataFrame): DataFrame = {
    val minTasks = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < minTasks) df.repartition(minTasks) else df
  }
}

object Checkpoint {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHook: Unit = {
    sys.addShutdownHook {
      created.forEach { p =>
        try {
          val dir = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(dir)) {
            java.nio.file.Files
              .walk(dir)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
          }
        } catch { case _: Exception => () }
      }
    }
  }

  /** Codec for checkpoints/stores whose payload is embedding vectors:
    * unit-Gaussian floats are high-entropy, so snappy achieves ~1.0×
    * ratio while costing the write ~2× wall time (r17 A/B, both
    * orders, 1.5M×d512: partitioned store write 85 s snappy vs 30 s
    * and 38 s vs 20 s uncompressed — OPTIMIZATION_r17.md).
    * `spark.graft.vectorCodec` overrides for deployments whose
    * vectors do compress. Hashed-shingle checkpoints take the session
    * parquet codec: their values are 32-bit hashes stored in int64
    * (upper 4 bytes always zero), which general-purpose codecs do
    * compress (r18 isolated A/B: see OPTIMIZATION_r18.md).
    */
  def vectorCodec(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Some(spark.conf.getOption("spark.graft.vectorCodec").getOrElse("none"))

  /** Writes `df` to a fresh parquet table under
    * `spark.graft.checkpointDir` (default: local tmp, deleted on JVM
    * exit — set it to a shared filesystem path on a cluster, where
    * lifecycle is the caller's) and returns a scan of it.
    */
  def table(df: DataFrame, name: String, codec: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.conf.getOption("spark.graft.checkpointDir")
    val base = conf.getOrElse(System.getProperty("java.io.tmpdir"))
    val path = s"$base/graft-ckpt-$name-${java.util.UUID.randomUUID()}"
    if (conf.isEmpty) { cleanupHook; created.add(path) }
    val w = df.write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).parquet(path)
    spark.read.parquet(path)
  }

  /** Size-gated barrier: same lineage-truncation + reuse semantics as
    * [[table]], but below the gate the stage is `localCheckpoint`ed
    * into executor memory instead of round-tripping the shared FS.
    * The parquet shape is kept above the gate, where it belongs: a
    * 100 TB-derived intermediate must be columnar-pruned per consumer
    * and survive executor loss; a small-corpus one only needs the
    * barrier, and the FS write+read+scheduling is the dominant fixed
    * cost of the whole operator at benchmark scale.
    *
    * The gate measures the plan's LEAF scan bytes (file-metadata
    * truth), not the derived plan's stats estimate: Spark's default
    * per-type widths badly underestimate computed array columns (a
    * shingle table is ~8 bytes per input CHARACTER), and an
    * underestimate here would pin a corpus-scale intermediate into
    * executor memory. Derived size is bounded by a small multiple of
    * input size everywhere this gate is used, so a 2 GiB input gate
    * bounds in-memory barriers to low tens of GiB cluster-wide.
    * `spark.graft.barrierGateBytes` overrides (0 forces parquet).
    */
  def tableGated(
      df: DataFrame,
      name: String,
      maxBytes: Long = -1L,
      codec: Option[String] = None,
  ): DataFrame = {
    val gate =
      if (maxBytes >= 0L) maxBytes
      else df.sparkSession.conf.getOption("spark.graft.barrierGateBytes").map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"spark.graft.barrierGateBytes must be a byte count in decimal, got '$v'")
        }
      }.getOrElse(2L << 30)
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (bytes <= gate) df.localCheckpoint() else table(df, name, codec)
  }
}
