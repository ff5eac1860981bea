package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.normText

/** Incremental (cross-run) MinHash near-dup detection: dedup a NEW
  * batch of documents against an EXISTING signature store without
  * reprocessing the old corpus's text. Production pipelines ingest
  * continuously — the one-shot [[Dedup.minhashLsh]] would re-shingle
  * and re-minhash 100 TB of history for every arriving batch; this
  * operator re-reads only the store's compact signature tables
  * (hashed shingles ≈ 8 B/shingle, band/member rows ≈ 16-24 B/doc)
  * and runs the text stage on the new batch alone.
  *
  * Contract: doc ids are globally unique ACROSS batches (the usual
  * ingest invariant — re-submitting an id would duplicate its store
  * rows). Ids need not be ordered: a new doc with a smaller id than
  * its stored exact-twin correctly takes over as cluster
  * representative (the "demotion" path, pinned in ScalaTest).
  *
  * ==Store layout== (plain parquet under `dir/`, written by
  * [[buildStore]]; ref semantics: polars-trading has no incremental
  * surface — this extends the LLM-pipeline dedup family)
  *  - `keyed`     id, hk (xxhash64 of the hashed-shingle set), ne
  *  - `shingles`  id, hsl (md5-hashed char-5-shingle set)
  *  - `members`   id, rid (exact-dup cluster representative), ne
  *  - `repbands`  id, band — LSH band hashes of cluster reps
  *  - `bandstats` band, cnt — rep count per band (with multiplicity)
  *
  * ==Exactness contract== `incrementalPairs(store(B1), B2)` equals
  * the one-shot `minhashLsh(B1 ∪ B2)` output RESTRICTED to pairs
  * with at least one side in B2 (oracle-checked). The three one-shot
  * ingredients are reproduced without old-text recompute:
  *  1. exact-dup collapse — only hk-groups containing a new doc can
  *     change, so the min-id grouping reruns over "touched" groups
  *     (stored keyed rows semi-joined to the new batch's hk set);
  *  2. hot-band cap — the combined per-band rep count is the stored
  *     `bandstats` count, plus new reps' bands, minus bands of store
  *     reps demoted by a smaller-id new twin;
  *  3. candidate generation — active reps (reps of touched groups) ×
  *     all surviving reps under the combined cap, so even an
  *     old-rep/old-rep pair is found when a new doc joined one of
  *     the two clusters (its expansion can reach the new doc).
  *
  * ==Scale== Per increment: text processing is O(new batch); the
  * exact-dup regroup shuffles only touched rows (the store's `keyed`
  * scan is map-side pruned by the semi-join); candidate/verify joins
  * scan the store's band and shingle tables once each,
  * column-pruned — linear passes over fingerprint-sized tables, the
  * same class as the one-shot's own metadata joins, with the corpus
  * text never touched. On a cluster, register the store tables
  * bucketed by `id` (metastore) to make the verify join co-located.
  */
object IncrementalDedup {

  private val NHashes = 16
  private val Bands = 4
  private val SimBits = 120 // wide fingerprint, two 60-bit words

  private def shingled(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      graft.functions.TextExprs.shingleHashes(normText(col(textCol)), 5).as("hsl"),
    )

  private def keyedOf(sh: DataFrame): DataFrame =
    sh.select(col("id"), xxhash64(col("hsl")).as("hk"), (size(col("hsl")) > 0).as("ne"))

  private def simhashOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      element_at(Dedup.simhashWide(col(textCol), SimBits), 1).as("sh0"),
      element_at(Dedup.simhashWide(col(textCol), SimBits), 2).as("sh1"),
    )

  private def sigBands(shRows: DataFrame): DataFrame =
    shRows
      .select(
        col("id"),
        graft.functions.TextExprs
          .minhashSig(
            col("hsl"),
            NHashes,
            Dedup.MinhashP,
            (0 until NHashes).map(Dedup.minhashA),
            (0 until NHashes).map(Dedup.minhashB),
          )
          .as("sig"),
      )
      .select(col("id"), explode(Dedup.bandHashes(col("sig"), NHashes, Bands)).as("band"))

  /** Builds the signature store for an initial corpus. Idempotent
    * overwrite; the collapse/band logic is byte-identical to the
    * one-shot [[Dedup.lshJaccardPairs]] preamble.
    */
  def buildStore(
      docs: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    // spread only when the corpus is big enough that hashing it on an
    // under-split input partitioning would be a real bottleneck: the
    // checkpoint below materializes the shingle projection on the
    // INPUT partitioning (unlike the one-shot minhashLsh, whose lazy
    // lineage reshuffles downstream anyway). Below the gate the
    // exchange + task scheduling cost more than they save (A/B at
    // sf0.01: 5.2 s -> 6.7 s with an unconditional spread); on a
    // well-split large corpus spread is a no-op.
    val corpusBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val docsIn = if (corpusBytes <= (64L << 20)) docs else graft.sources.Par.spread(docs)
    // hsl payloads are hash32 values (32-bit in int64 — they DO
    // compress; Dedup.lshJaccardPairs note, r18 isolated A/B): session codec
    val sh = graft.sources.Checkpoint
      .tableGated(shingled(docsIn, idCol, textCol), "incr-build-sh", Dedup.shingleBarrierLeafBytes)
    val keyed = graft.sources.Checkpoint.tableGated(keyedOf(sh), "incr-build-keyed")
    val members = keyed
      .join(keyed.groupBy(col("hk")).agg(min(col("id")).as("rid")), Seq("hk"))
      .select(col("id"), col("rid"), col("ne"))
    // with sh/keyed pinned by the eager checkpoints above, the six
    // table writes are independent actions — overlap them (concurrent
    // jobs in one SparkSession share the scheduler; the repbands ->
    // bandstats chain stays sequential inside its own future, reading
    // the written repbands back so the band explode runs once)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val spark = docs.sparkSession
    val writes = Seq(
      Future {
        sh.write.mode("overwrite").parquet(s"$dir/shingles")
      },
      Future { keyed.write.mode("overwrite").parquet(s"$dir/keyed") },
      Future { members.write.mode("overwrite").parquet(s"$dir/members") },
      Future {
        simhashOf(docsIn, idCol, textCol).write.mode("overwrite").parquet(s"$dir/simhash")
      },
      Future {
        val repIds = members.where(col("id") === col("rid")).select(col("id"))
        sigBands(sh.join(repIds, Seq("id"), "left_semi"))
          .write.mode("overwrite").parquet(s"$dir/repbands")
        spark.read
          .parquet(s"$dir/repbands")
          .groupBy(col("band"))
          .agg(count(lit(1)).as("cnt"))
          .write
          .mode("overwrite")
          .parquet(s"$dir/bandstats")
      },
    )
    writes.foreach(Await.result(_, Duration.Inf))
  }

  /** The store's five tables plus the per-increment intermediates
    * shared by [[incrementalPairs]] and [[appendStore]].
    */
  private final case class Increment(
      stKeyed: DataFrame,
      stShingles: DataFrame,
      stMembers: DataFrame,
      stRepbands: DataFrame,
      stBandstats: DataFrame,
      newSh: DataFrame,
      newKeyed: DataFrame,
      touchedMembers: DataFrame,
      newRepBands: DataFrame,
      demotedIds: DataFrame,
  )

  private def increment(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
  ): Increment = {
    val stKeyed = spark.read.parquet(s"$dir/keyed")
    val stMembers = spark.read.parquet(s"$dir/members")
    val stRepbands = spark.read.parquet(s"$dir/repbands")

    // NOTE: the three checkpoints below are load-bearing at EVERY
    // scale (unlike the spread/persist tiny gates elsewhere): the
    // regroup/band intermediates each feed 2-3 downstream branches,
    // and an A/B with them skipped (sf0.01) grew the un-barriered
    // plan enough that planning + recompute cost 1.5x the whole query
    def gated(df: DataFrame, name: String): DataFrame =
      graft.sources.Checkpoint.tableGated(df, name)

    val newSh = graft.sources.Checkpoint
      .tableGated(shingled(newDocs, idCol, textCol), "incr-sh", Dedup.shingleBarrierLeafBytes)
    val newKeyed = keyedOf(newSh)

    // exact-dup regroup over touched hk-groups only
    val newHks = newKeyed.select(col("hk")).distinct()
    val touchedKeyed = stKeyed
      .join(newHks, Seq("hk"), "left_semi")
      .withColumn("__new", lit(false))
      .unionByName(newKeyed.withColumn("__new", lit(true)))
    val touchedMembers = gated(
      touchedKeyed
        .join(touchedKeyed.groupBy(col("hk")).agg(min(col("id")).as("rid")), Seq("hk"))
        .select(col("id"), col("rid"), col("ne"), col("__new")),
      "incr-members",
    )

    val newRepIds = touchedMembers
      .where(col("__new") && col("id") === col("rid"))
      .select(col("id"))
    val newRepBands = gated(
      sigBands(newSh.join(newRepIds, Seq("id"), "left_semi")),
      "incr-newrepbands",
    )
    val storedRepIds = stMembers.where(col("id") === col("rid")).select(col("id"))
    val demotedIds = touchedMembers
      .where(!col("__new") && col("id") =!= col("rid"))
      .select(col("id"))
      .join(storedRepIds, Seq("id"), "left_semi")
    Increment(
      stKeyed,
      spark.read.parquet(s"$dir/shingles"),
      stMembers,
      stRepbands,
      spark.read.parquet(s"$dir/bandstats"),
      newSh,
      newKeyed,
      touchedMembers,
      newRepBands,
      demotedIds,
    )
  }

  /** Near-dup pairs (id_a < id_b, exact Jaccard on the hashed
    * shingle space) between a new batch and the store — new-vs-old
    * AND new-vs-new; already-known old-vs-old pairs are never
    * re-emitted. See the class doc for the one-shot equality
    * contract.
    */
  def incrementalPairs(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      threshold: Double = 0.5,
      maxBucket: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): DataFrame = {
    val inc = increment(spark, dir, newDocs, idCol, textCol)
    import inc._

    // combined band census: stored + new reps − demoted store reps
    val demotedBands = stRepbands.join(demotedIds, Seq("id"), "left_semi")
    val okBands = stBandstats
      .select(col("band"), col("cnt"))
      .unionByName(newRepBands.groupBy(col("band")).agg(count(lit(1)).as("cnt")))
      .unionByName(demotedBands.groupBy(col("band")).agg((-count(lit(1))).as("cnt")))
      .groupBy(col("band"))
      .agg(sum(col("cnt")).as("s"))
      .where(col("s") <= maxBucket)
      .select(col("band"))

    // 3. candidates: active reps (touched groups) × all surviving reps
    val activeRids = touchedMembers.select(col("rid").as("id")).distinct()
    val survivorActiveBands = stRepbands.join(activeRids, Seq("id"), "left_semi")
    val activeBands = newRepBands.unionByName(survivorActiveBands)
    val allBands = stRepbands
      .join(demotedIds, Seq("id"), "left_anti")
      .unionByName(newRepBands)
    val activePruned = activeBands.join(okBands, Seq("band"), "left_semi")
    val allPruned = allBands.join(okBands, Seq("band"), "left_semi")
    val cand = activePruned
      .as("a")
      .join(allPruned.as("b"), col("a.band") === col("b.band") && col("a.id") =!= col("b.id"))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
      )
      .distinct()

    // 4. exact-Jaccard verify (same double tree as the one-shot)
    val hslAll = stShingles.unionByName(newSh)
    // the two exchanges below carry the FULL store's hsl arrays —
    // size them from the store files' real stats, same rationale and
    // gate as the one-shot (Dedup.scaledShinglePartitions)
    val hslParts = Dedup.scaledShinglePartitions(hslAll)
    def scaledH(df: DataFrame, key: String): DataFrame =
      hslParts.map(n => df.repartition(n, col(key))).getOrElse(df)
    val repPairs = cand
      .join(Dedup.hashIfSmall(scaledH(hslAll.select(col("id").as("id_a"), col("hsl").as("sh_a")), "id_a")), "id_a")
      .join(Dedup.hashIfSmall(scaledH(hslAll.select(col("id").as("id_b"), col("hsl").as("sh_b")), "id_b")), "id_b")
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"),
      )
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

    // 5. expansion — combined membership = untouched store rows ∪ regroup
    val membersAll = stMembers
      .join(touchedMembers.select(col("id")), Seq("id"), "left_anti")
      .withColumn("__new", lit(false))
      .unionByName(touchedMembers)
    // intra: exact twins of a new doc (cluster partners are always in
    // touched groups, so the small regroup table is the partner side)
    val newM = touchedMembers.where(col("__new") && col("ne"))
    val intra = newM
      .as("a")
      .join(
        touchedMembers.where(col("ne")).as("b"),
        col("a.rid") === col("b.rid") && col("a.id") =!= col("b.id"),
      )
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        lit(1.0).as("jaccard"),
      )
      .where(lit(1.0) >= threshold)
      .distinct()
    // inter: every member pair inherits its rep pair's Jaccard; keep
    // only pairs reaching the new batch
    val inter = repPairs
      .join(
        Dedup.hashIfSmall(
          membersAll
            .select(col("rid").as("id_a"), col("id").as("ma"), col("__new").as("na"))),
        "id_a",
      )
      .join(
        Dedup.hashIfSmall(
          membersAll
            .select(col("rid").as("id_b"), col("id").as("mb"), col("__new").as("nb"))),
        "id_b",
      )
      .where(col("na") || col("nb"))
      .select(
        least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("jaccard"),
      )
    intra.unionByName(inter)
  }

  /** SimHash companion to [[incrementalPairs]]: hamming-radius
    * near-dup pairs between a new batch and the store's 120-bit wide
    * fingerprints, with exact recall at `maxHamming` (the pigeonhole
    * banding of [[Dedup.simhashPairs]]). Only the NEW batch's text is
    * fingerprinted; the store side is pure bit-ops over the compact
    * `simhash` table (16 B/doc). Output equals the one-shot
    * `simhashPairs(B1 ∪ B2)` restricted to pairs with a new side —
    * exact by construction, since simhash candidates have no
    * collapse/cap state: the restriction is a pure filter on the
    * self-join.
    */
  def incrementalSimhashPairs(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): DataFrame = {
    val nWords = (SimBits + 59) / 60
    val bands = Dedup.bandLayout(SimBits, maxHamming + 1)
    val wordCols = Seq.tabulate(nWords)(k => col(s"sh$k"))
    val stSim = spark.read.parquet(s"$dir/simhash").withColumn("__new", lit(false))
    val newSim = graft.sources.Checkpoint
      .tableGated(simhashOf(newDocs, idCol, textCol), "incr-simhash")
      .withColumn("__new", lit(true))
    val allSim = stSim.unionByName(newSim)
    val bandStructs = allSim.select(
      col("id") +: col("__new") +: wordCols :+
        posexplode(
          array(bands.map { case (off, w) => Dedup.bandCol(wordCols, off, w) }: _*)
        ).as(Seq("bidx", "band")): _*
    )
    val hamming = Seq
      .tabulate(nWords)(k => bit_count(col(s"a.sh$k").bitwiseXOR(col(s"b.sh$k"))))
      .reduceLeft(_ + _)
    bandStructs
      .as("a")
      .join(
        bandStructs.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.band") === col("b.band") &&
          col("a.id") < col("b.id"),
      )
      .where(col("a.__new") || col("b.__new"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        hamming.cast("int").as("hamming"),
      )
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Rolls the store forward: writes the snapshot for corpus ∪ batch
    * to `outDir`, identical table-for-table to
    * `buildStore(corpus ∪ batch)` (pinned in ScalaTest) but with no
    * old-corpus text reprocessing — keyed/shingles copy forward
    * unchanged, members/repbands/bandstats are patched only where
    * touched hk-groups moved. Snapshot-dir versioning (`outDir` must
    * differ from `dir`): the store read path stays immutable while
    * the new version writes, the lakehouse pattern; on an object
    * store the unchanged keyed/shingles copies become metadata-only
    * moves. Chain increments by pointing the next
    * [[incrementalPairs]] at `outDir`.
    */
  def appendStore(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    require(new java.io.File(outDir).getCanonicalPath != new java.io.File(dir).getCanonicalPath,
      "appendStore writes a NEW snapshot dir (read-while-overwrite is unsafe)")
    val inc = increment(spark, dir, newDocs, idCol, textCol)
    import inc._
    stKeyed.unionByName(newKeyed).write.mode("overwrite").parquet(s"$outDir/keyed")
    stShingles.unionByName(newSh).write.mode("overwrite").parquet(s"$outDir/shingles")
    stMembers
      .join(touchedMembers.select(col("id")), Seq("id"), "left_anti")
      .unionByName(touchedMembers.drop("__new"))
      .write
      .mode("overwrite")
      .parquet(s"$outDir/members")
    stRepbands
      .join(demotedIds, Seq("id"), "left_anti")
      .unionByName(newRepBands)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/repbands")
    spark.read
      .parquet(s"$dir/simhash")
      .unionByName(simhashOf(newDocs, idCol, textCol))
      .write
      .mode("overwrite")
      .parquet(s"$outDir/simhash")
    // merged census; bands whose only reps were demoted drop to zero
    // rows, matching a fresh build over the union
    val demotedBands = stRepbands.join(demotedIds, Seq("id"), "left_semi")
    stBandstats
      .select(col("band"), col("cnt"))
      .unionByName(newRepBands.groupBy(col("band")).agg(count(lit(1)).as("cnt")))
      .unionByName(demotedBands.groupBy(col("band")).agg((-count(lit(1))).as("cnt")))
      .groupBy(col("band"))
      .agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") > 0)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/bandstats")
  }
}
