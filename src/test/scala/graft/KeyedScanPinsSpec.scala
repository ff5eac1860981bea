package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Ewm
import graft.operators.{
  Cusum, Dedup, FfdSearch, Microstructure, Rolling, Sadf, Similarity, StructuralBreak, TrendScan
}

/** The ops rebuilt on keyed scans and driver-side k-means means give
  * exactly the rows of the forms they replaced (`LshReference`,
  * `WindowReference`, `RollingReference`, `TickScanReference`): every
  * value, doubles by bit pattern. The per-symbol tick scans also follow
  * one null policy: a null symbol is a group of its own, null ts and
  * trade_id values sort first, and a tick without a price is dropped.
  */
class KeyedScanPinsSpec extends SparkSpec {
  import spark.implicits._

  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case null => "null"
      case v => v.toString
    }.mkString("|")).sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    val g = bits(got)
    val w = bits(want)
    assert(g.nonEmpty)
    assert(g == w, s"only new: ${g.diff(w).take(5)}; only reference: ${w.diff(g).take(5)}")
  }

  /** A hot band shared by 120 distinct near-identical docs, exact-copy
    * clusters of 2-6 docs, empty and whitespace-only texts, and
    * unrelated docs. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val body = "identical hot duplicate document text shared by many many rows here and padded " +
      "with a long enough boilerplate body that the shared shingles dominate every minhash band"
    val hot = (0 until 120).map(i => s"$body tail$i")
    val plain = (0 until 150).map(i => Seq.fill(30)(s"w${rnd.nextInt(400)}").mkString(" "))
    val near = plain.take(40).map(_.split(" ").map(w => if (rnd.nextDouble() < 0.05) "edit" else w).mkString(" "))
    val copies = plain.take(25).zipWithIndex.flatMap { case (t, i) => Seq.fill(1 + i % 5)(t) }
    val texts = rnd.shuffle(hot ++ plain ++ near ++ copies ++ Seq("", "", "   ", "x"))
    texts.zipWithIndex.map { case (t, i) => (i.toLong * 3 + 1, t) }.toDF("doc_id", "text")
  }

  test("minhash LSH: keyed-scan plan == join-form reference, bit-exact (hot band, exact-dup clusters)") {
    for ((threshold, cap) <- Seq((0.5, 4096), (0.9, 50), (0.3, 3)))
      assertSame(Dedup.minhashLsh(corpus, threshold, maxBucket = cap),
        LshReference.minhashLsh(corpus, threshold, maxBucket = cap))
  }

  test("LSH pairs on raw shingle sets: empty, null and repeated sets match the join-form reference") {
    val rnd = new scala.util.Random(11)
    val sets: Seq[Option[Seq[Long]]] =
      Seq(Some(Nil), Some(Nil), None, None, Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L, 4L))) ++
        (0 until 60).map(i => Some((0 until 12).map(_ => rnd.nextInt(40).toLong).distinct)) ++
        (0 until 20).map(i => Some(Seq(5L, 6L, 7L, 8L, 100L + i)))
    val shingled = sets.zipWithIndex.map { case (h, i) => (i.toLong, h.orNull) }.toDF("id", "hsl")
    for ((threshold, cap) <- Seq((0.2, 4096), (0.5, 4), (1.0, 4096)))
      assertSame(Dedup.lshJaccardPairs(shingled, threshold = threshold, maxBucket = cap),
        LshReference.pairs(shingled, threshold = threshold, maxBucket = cap))
  }

  test("exact dedup: keyed scan == window-form reference, bit-exact") {
    val withNullId = corpus.union(Seq((Option.empty[Long], "x"), (None, "unique null text")).toDF("doc_id", "text"))
    assertSame(Dedup.exact(withNullId), WindowReference.exact(withNullId))
  }

  test("ivf top-k: keyed ranking and driver k-means == window-form reference, bit-exact with score ties") {
    // a few directions, each many times: identical centroids tie in the
    // probe ranking, identical vectors and mirror pairs (equal dots
    // with the query, different cells) tie in the top-k; a null vector
    // has no cell and is nobody's neighbour
    val dirs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0.6f, 0.8f, 0f, 0f), Seq(0.6f, -0.8f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0.6f, 0f, 0.8f), Seq(0f, 0.6f, 0f, -0.8f), Seq(-1f, 0f, 0f, 0f))
    val rnd = new scala.util.Random(3)
    val emb = (0 until 400).map { i =>
      val d = dirs(rnd.nextInt(dirs.length))
      (i.toLong, if (i % 3 == 0) d.map(x => x + (rnd.nextInt(3) - 1) * 0.25f) else d)
    }.toDF("vec_id", "embedding").union(Seq((400L, null: Seq[Float])).toDF("vec_id", "embedding")).repartition(3)
    for (iters <- Seq(0, 2); probe <- Seq(1, 3))
      assertSame(
        Similarity.ivfTopK(emb, nQueries = 12, k = 15, nCells = 20, nProbe = probe, kmeansIters = iters),
        WindowReference.ivfTopK(emb, nQueries = 12, k = 15, nCells = 20, nProbe = probe, kmeansIters = iters))
  }

  test("rolling: per-symbol deque scan == day-chunk + halo reference, bit-exact (ties, day edges, null keys)") {
    // three days of ticks for two symbols and a null one, with equal-ts
    // ties, ticks on and just past each midnight and exactly one window
    // before it, plus null-ts rows
    val rnd = new scala.util.Random(5)
    val day = 86400L
    val t0 = java.time.Instant.parse("2024-03-04T00:00:00Z").getEpochSecond
    val edges = (1 to 2).flatMap(d => Seq(d * day, d * day + 1, d * day - 1800, d * day - 3600, d * day - day))
    val syms = Seq("A", "B", null)
    val at = (0 until 500).map(i => (syms(i % 3), rnd.nextInt(3 * day.toInt).toLong)) ++
      (0 until 40).map(i => (syms(i / 3 % 3), (i / 3) * 7L)) ++ // runs of 3 equal-ts ticks per symbol
      syms.flatMap(sym => (edges ++ edges.take(4)).map(sym -> _))
    val ticks = at.zipWithIndex.map { case ((sym, s), i) =>
      (sym, Option(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t0 + s))),
        1.0 + rnd.nextInt(9999) / 100.0, (rnd.nextInt(50) + 1).toLong, i.toLong)
    } ++ Seq(("A", None, 12.34, 7L, 9001L), ("A", None, 12.35, 3L, 9002L), (null, None, 5.0, 1L, 9003L))
    // struct and map passengers ride along unchanged
    val df = ticks.toDF("symbol", "ts", "price", "size", "trade_id")
      .withColumn("meta", struct(col("trade_id"), map(lit("size"), col("size"))))
      .repartition(3)
    val timed = df.where(col("ts").isNotNull)
    val windows = Seq("30 minutes", "1 hour", "1 day")
    val us = windows.map(Rolling.windowMicros)
    assertSame(Rolling.featuresMulti(df, windows).where(col("ts").isNotNull),
      RollingReference.haloChunked(timed, windows.map("_" + _.replace(" ", "")).zip(us), graft.api.TradingCols.default))
    for ((w, m) <- windows.zip(us))
      assertSame(Rolling.features(df, w).where(col("ts").isNotNull),
        RollingReference.haloChunked(timed, Seq("" -> m), graft.api.TradingCols.default))
    // the halo form fails on a null ts; the RANGE frame groups the null-ts
    // rows of a symbol into one frame of their own
    assertSame(Rolling.features(df, "1 hour").where(col("ts").isNull),
      Rolling.featuresDeclarative(df, "1 hour").where(col("ts").isNull))
  }

  test("a keyed scan's output joins itself: the second copy gets fresh attributes") {
    val t = graft.sources.TradeData.synthetic(spark, 400, nSymbols = 3)
    val vol = graft.operators.Labels.dailyVol(t, span = 10)
    val last = vol.groupBy("symbol").agg(max("ts").as("ts"))
    val joined = vol.join(last, Seq("symbol", "ts"))
    assert(joined.count() == last.count())
    assert(vol.as("a").join(vol.as("b"), Seq("symbol", "ts")).count() == vol.count())
  }

  // --- per-symbol tick scans ---

  private val t0 = java.time.Instant.parse("2024-03-04T00:00:00Z").toEpochMilli
  private val earlyDay = "2024-03-01"
  private val early = java.time.Instant.parse(s"${earlyDay}T00:00:00Z").toEpochMilli

  /** Three days of ticks for symbols A, B and a null one: runs of equal
    * ts (distinct trade ids), ticks on and next to each midnight, a
    * flat price stretch, null-ts ticks, null-trade_id ticks at a ts of
    * their own, and ticks without a price. `nullTs` gives the null-ts
    * ticks `early` + their trade id in seconds instead (a day before
    * all the others, in the same order); `nullTid` gives the
    * null-trade_id ticks an id instead (their ts orders them alone);
    * `nullSym` names the null symbol; `priced` drops the priceless
    * ticks.
    */
  private def tape(nullTs: Boolean = true, nullTid: Boolean = true, nullSym: Boolean = true,
      priced: Boolean = false): DataFrame = {
    val rnd = new scala.util.Random(9)
    val day = 86400000L
    val edges = (1 to 2).flatMap(d => Seq(d * day - 1000, d * day, d * day + 1000))
    val rows = Seq("A", "B", null).zipWithIndex.flatMap { case (sym, k) =>
      val at = ((0 until 90).map(_ => rnd.nextInt(3 * 86400).toLong * 1000) ++ edges ++
        Seq.fill(3)(7000L) ++ Seq.fill(3)(day + 60000)).sorted
      var cents = 10000L
      val walk = at.zipWithIndex.map { case (ms, i) =>
        if (i < 30 || i > 55) cents = math.max(100L, cents + rnd.nextInt(9) - 4)
        (sym, Option(t0 + ms), Option(cents / 100.0), Option(k * 1000L + i))
      }
      val odd = Seq(
        (sym, None, Some(99.5), Some(k * 1000L + 900)), (sym, None, Some(99.75), Some(k * 1000L + 901)),
        (sym, None, Some(99.25), Some(k * 1000L + 902)),
        (sym, Some(t0 + 3500), Some(100.5), None), (sym, Some(t0 + day + 500), Some(101.0), None),
        (sym, Some(t0 + 9500), None, Some(k * 1000L + 950)), (sym, Some(t0 + 2 * day + 500), None, Some(k * 1000L + 951)))
      walk ++ odd
    }.map { case (sym, ts, price, tid) =>
      (if (sym == null && !nullSym) "Z" else sym,
        ts.orElse(if (nullTs) None else Some(early + tid.get * 1000)).map(new java.sql.Timestamp(_)),
        price, tid.orElse(if (nullTid) None else Some(-1L)))
    }.filter(r => !priced || r._3.isDefined)
    rows.toDF("symbol", "ts", "price", "trade_id").withColumn("size", lit(1L)).repartition(3)
  }

  private def tickScans(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "cusum" -> Cusum.events(df, 0.05),
    "sadf" -> Sadf.sadf(df, 5, 12),
    "csw" -> StructuralBreak.cswScan(df, 3, 12),
    "ffd" -> FfdSearch.adfGrid(df, Seq(0.4, 1.0), 1e-2),
    "realizedVol" -> Microstructure.realizedVol(df),
    "trend" -> TrendScan.labels(df, 4, 10),
    "ewm" -> Ewm.stdOverKey(df.na.drop(Seq("price")), Seq("symbol"), Seq("ts", "trade_id"), "price", 10, "es"),
  )

  test("trend labels and sadf: keyed scans == whole-symbol window references, bit-exact (ties, day edges, null keys)") {
    val df = tape()
    assertSame(TrendScan.labels(df, 4, 10), TickScanReference.trendLabels(df, 4, 10))
    assertSame(TrendScan.labels(df, 3, 3), TickScanReference.trendLabels(df, 3, 3))
    assertSame(Sadf.sadf(df, 5, 12), TickScanReference.sadf(df, 5, 12))
    assertSame(Sadf.sadf(df, 4, 4), TickScanReference.sadf(df, 4, 4))
  }

  // each null policy below is checked with the other null inputs left out
  test("tick scans: a null symbol is a group of its own, with a named symbol's values") {
    val named = tickScans(tape(nullSym = false, nullTs = false, nullTid = false)).toMap
    for ((name, got) <- tickScans(tape(nullTs = false, nullTid = false)))
      assertSame(got.where(col("symbol").isNull).drop("symbol"),
        named(name).where(col("symbol") === "Z").drop("symbol"))
  }

  test("tick scans: a null trade_id sorts first; values equal an id that orders the same") {
    val filled = tickScans(tape(nullTid = false, nullTs = false)).toMap
    for ((name, got) <- tickScans(tape(nullTs = false))) {
      if (name == "ewm") assertSame(got.drop("trade_id"), filled(name).drop("trade_id"))
      else assertSame(got, filled(name))
    }
  }

  test("tick scans: null-ts ticks sort first; realized vol makes them a day with a null date") {
    // the early frame's timestamps and day, read back as nulls
    def nulled(df: DataFrame): DataFrame = df.columns.foldLeft(df) {
      case (d, "ts") => d.withColumn("ts", when(col("ts") >= lit(new java.sql.Timestamp(t0)), col("ts")))
      case (d, "date") => d.withColumn("date", when(col("date") =!= earlyDay, col("date")))
      case (d, _) => d
    }
    val dated = tickScans(tape(nullTs = false, nullTid = false)).toMap
    for ((name, got) <- tickScans(tape(nullTid = false))) assertSame(got, nulled(dated(name)))
    val rv = Microstructure.realizedVol(tape(nullTid = false)).where(col("date").isNull)
    assert(rv.count() == 3, "one null-date day per symbol")
  }

  test("tick scans: a tick without a price is dropped") {
    val priced = tickScans(tape(priced = true, nullTs = false, nullTid = false)).toMap
    for ((name, got) <- tickScans(tape(nullTs = false, nullTid = false))) assertSame(got, priced(name))
  }
}
