package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.operators.{AsofJoin, Packing, Sampling, Sessionize}

/** Property-style checks: operator invariants over randomized inputs
  * (fixed seeds — deterministic CI), cross-checked against
  * straight-line Scala reference implementations.
  */
class PropertySpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private val seeds = Table("seed", 1L, 7L, 42L)

  test("packing invariants on random token lists (vs sequential reference)") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val toks = (0 until 300).map(i => (i.toLong, rng.nextInt(400).toLong + 1))
      val budget = 512L
      val got = Packing
        .packSequences(toks.toDF("doc_id", "n_tokens"), budget, nShards = 3)
        .collect()
        .sortBy(_.doc_id)
      // reference: per shard, sequential first-fit in doc_id order
      val byShard = got.groupBy(_.shard)
      for ((_, docs) <- byShard) {
        var fill = 0L
        var seq = 0L
        for (d <- docs.sortBy(_.doc_id)) {
          if (fill > 0L && fill + d.n_tokens > budget) { seq += 1L; fill = 0L }
          fill += d.n_tokens
          assert(d.seq_idx == seq, s"doc ${d.doc_id}")
        }
        // sequences are dense 0..max with no gaps
        val idxs = docs.map(_.seq_idx).distinct.sorted
        assert(idxs.sameElements(idxs.indices.map(_.toLong)))
      }
    }
  }

  test("native n-gram/lang-id expressions equal their declarative twins on random docs") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val words = Seq("the", "cat", "und", "der", "el", "x1", "zz", "", "a")
      // include the edge shapes the parquet corpora never hit: empty
      // doc, single token, exactly n-1/n tokens, null text
      val docs = (0 until 60).map { i =>
        val len = rng.nextInt(8)
        (i.toLong, if (i == 59) null else (0 until len).map(_ => words(rng.nextInt(words.length))).mkString(" "))
      }.toDF("doc_id", "text")

      import graft.operators.{Dedup, TextAnalysis}
      import graft.functions.TextExprs
      val toks = TextAnalysis.tokens(col("text"))
      val tk = filter(toks, t => t =!= "")

      val rows = docs.select(
        col("doc_id"),
        TextExprs.wordNgramHashes(coalesce(toks, array()), 3).as("native_w"),
        TextExprs.hashStrings(Dedup.wordNgrams(toks, 3)).as("twin_w"),
        TextExprs.gramHashes60(tk, 4).as("native_g"),
        transform(
          TextAnalysis.ngramsOfTokens(tk, 4),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
        ).as("twin_g"),
        TextExprs.gramHashes32(tk, 2).as("native_b"),
        transform(
          TextAnalysis.ngramsOfTokens(tk, 2),
          g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
        ).as("twin_b"),
      ).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"wordNgramHashes doc ${r.getLong(0)}")
        assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"gramHashes60 doc ${r.getLong(0)}")
        assert(r.getSeq[Long](5) == r.getSeq[Long](6), s"gramHashes32 doc ${r.getLong(0)}")
      }

      // lang id: native single-pass argmax vs the declarative
      // stopword-score formulation it replaced
      val profiles = TextAnalysis.langProfiles
      val nTok = size(tk).cast("double")
      val entries = profiles.zipWithIndex.map { case ((lang, stops), i) =>
        struct(
          (size(filter(tk, t => array_contains(array(stops.map(lit): _*), t))).cast("double") /
            greatest(nTok, lit(1.0))).as("score"),
          lit(-i).as("prio"),
          lit(lang).as("lang"),
        )
      }
      val li = docs.select(
        TextAnalysis.langId(col("text")).as("native"),
        when(col("text").isNull, lit("und"))
          .otherwise(array_max(array(entries: _*)).getField("lang")).as("twin"),
      ).collect()
      li.foreach(r => assert(r.getString(0) == r.getString(1)))
    }
  }

  test("hashSplit partitions exactly (every row labeled once) at random weights") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val w = Seq("a" -> (rng.nextDouble() + 0.01), "b" -> (rng.nextDouble() + 0.01), "c" -> (rng.nextDouble() + 0.01))
      val d = (0 until 1000).map(i => Tuple1(i.toLong + seed * 1000)).toDF("id")
      val out = Sampling.hashSplit(d, "id", w)
      assert(out.count() == 1000)
      assert(out.where(col("split").isin("a", "b", "c")).count() == 1000)
      // weights respected within a loose statistical bound
      val total = w.map(_._2).sum
      val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
      for ((name, weight) <- w)
        assert(math.abs(counts.getOrElse(name, 0L) - 1000 * weight / total) < 150,
          s"$name got ${counts.getOrElse(name, 0L)} for weight ${weight / total}")
    }
  }

  // right keys can tie, where the reference allows any of the tied
  // values; every 17th left and 13th right key is null
  private def asofRandomCheck(seed: Long, dir: AsofJoin.Direction, tol: Option[Double]): Unit = {
    val rng = new scala.util.Random(seed)
    def key(i: Int, every: Int) = if (i % every == 0) None else Some(rng.nextInt(10000).toLong)
    val left = (0 until 150).map(i => ("k" + i % 3, key(i, 17), i.toLong))
    val right = (0 until 80).map(i => ("k" + i % 3, key(i, 13), rng.nextDouble()))
    val got = AsofJoin
      .asofNative(left.toDF("sym", "t", "lid"), right.toDF("sym", "t", "refv"),
        leftOn = "t", rightOn = "t", by = Seq("sym"), direction = dir, tolerance = tol)
      .select("lid", "refv")
      .as[(Long, Option[Double])]
      .collect()
      .toMap
    assert(got.size == left.size)
    val want = AsofReference.matches(left.map(l => (l._1, l._2)), right, dir, tol)
    left.zip(want).foreach { case (l, w) =>
      assert(AsofReference.allows(w, got(l._3)), s"seed $seed $dir tolerance $tol row $l")
    }
  }

  test("asof backward equals brute-force reference on random series") {
    forAll(seeds) { seed => asofRandomCheck(seed, AsofJoin.Backward, None) }
  }

  test("asof forward and nearest, with and without tolerance, equal the brute-force reference") {
    forAll(seeds) { seed =>
      for {
        dir <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)
        tol <- Seq(None, Some(150.0))
        if !(dir == AsofJoin.Backward && tol.isEmpty)
      } asofRandomCheck(seed, dir, tol)
    }
  }

  test("sessionize session count equals reference gap count on random streams") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val ev = (0 until 400).map { i =>
        (rng.nextInt(5).toLong, new java.sql.Timestamp(86400000L + rng.nextInt(500) * 60000L), "e", 1.0)
      }
      val out = Sessionize
        .sessions(ev.toDF("user_id", "ts", "event_type", "value"))
        .groupBy("user_id").count().as[(Long, Long)].collect().toMap
      val want = ev.groupBy(_._1).map { case (u, rows) =>
        val ts = rows.map(_._2.getTime).sorted
        u -> (1L + ts.zip(ts.tail).count { case (a, b) => b - a > 30 * 60000L })
      }
      assert(out == want)
    }
  }

  test("stratifiedSample exact counts at random fractions") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val frac = rng.nextDouble() * 0.9 + 0.05
      val d = (0 until 600).map(i => (i.toLong, "s" + i % 4)).toDF("id", "grp")
      val got = Sampling.stratifiedSample(d, Seq("grp"), frac, "id")
        .groupBy("grp").count().as[(String, Long)].collect().toMap
      for (g <- 0 until 4)
        assert(got("s" + g) == math.ceil(150 * frac).toLong, s"frac=$frac grp=$g")
    }
  }

  test("cusum events match a sequential reference on random walks") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val h = (rng.nextInt(40) + 10) * 10 // cents: 100..490
      val rows = (0 until 3).flatMap { sym =>
        var cents = 50000L
        (0 until 800).map { i =>
          cents = math.max(100L, cents + rng.nextInt(201) - 100)
          (s"s$sym", new java.sql.Timestamp(1000000000L + i * 1000L), cents / 100.0, 1L, i.toLong)
        }
      }
      val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
      val got = operators.Cusum
        .events(df, threshold = h / 100.0)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Int, Long, Long)]
        .collect()
        .toSeq
      // straight-line AFML snippet 2.4 reference (if/elif, triggering
      // side resets)
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sym, rs) =>
        var sp = 0L; var sn = 0L; var prev = 0L; var first = true
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, java.sql.Timestamp, Int, Long, Long)]
        for ((_, ts, price, _, _) <- rs.sortBy(_._2.getTime)) {
          val c = math.round(price * 100)
          if (first) { first = false; prev = c }
          else {
            val d = c - prev; prev = c
            sp = math.max(0L, sp + d); sn = math.min(0L, sn + d)
            if (sn < -h) { out += ((sym, ts, -1, sp, sn)); sn = 0L }
            else if (sp > h) { out += ((sym, ts, 1, sp, sn)); sp = 0L }
          }
        }
        out
      }
      assert(got == want, s"h=$h got=${got.size} want=${want.size}")
      assert(want.nonEmpty, "degenerate test: no events generated")
    }
  }

  test("trend-scanning labels match brute-force per-window OLS") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val (minL, maxL) = (4, 12)
      val rows = (0 until 2).flatMap { sym =>
        var cents = 20000L
        (0 until 300).map { i =>
          cents = math.max(100L, cents + rng.nextInt(401) - 200)
          (s"s$sym", new java.sql.Timestamp(1000000000L + i * 1000L), cents / 100.0, 1L, i.toLong)
        }
      }
      val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
      val got = operators.TrendScan
        .labels(df, minL, maxL)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Double, Int, Int, Double, Double)]
        .collect()
        .toSeq
      // brute force: direct integer sums per (t, L) window, same
      // double tree — integer sums are order-independent, so values
      // must be BIT-equal, not just close
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sym, rs) =>
        val sorted = rs.sortBy(_._2.getTime)
        val cents = sorted.map(r => math.round(r._3 * 100))
        sorted.indices.dropRight(maxL - 1).map { t =>
          val cands = (minL to maxL).map { l =>
            val y = cents.slice(t, t + l)
            val sy = y.sum
            val syy = y.map(v => v * v).sum
            val sxy = y.zipWithIndex.map { case (v, j) => j * v }.sum
            val sx = l.toLong * (l - 1) / 2
            val sxx = (l - 1).toLong * l * (2 * l - 1) / 6
            val den = l * sxx - sx * sx
            val num = l * sxy - sx * sy
            val b = num.toDouble / den.toDouble
            val sxxc = den.toDouble / l
            val syyc = syy.toDouble - sy.toDouble * sy.toDouble / l.toDouble
            val ssr = syyc - b * b * sxxc
            val tval =
              if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
              else b * math.sqrt(sxxc) / math.sqrt(ssr / (l - 2).toDouble)
            (math.abs(tval), -l, tval, b, math.signum(num.toDouble).toInt, l)
          }
          val best = cands.max // tuple ordering == struct ordering
          (sym, sorted(t)._2, sorted(t)._3, best._6, best._5, best._4, best._3)
        }
      }
      assert(got.size == want.size)
      for ((g, w) <- got.zip(want)) assert(g == w)
    }
  }

  test("bounded sadf matches brute-force backward-window ADF") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val (minW, maxW) = (6, 15)
      val rows = (0 until 2).flatMap { sym =>
        var cents = 20000L
        (0 until 250).map { i =>
          // drifting walk: occasional explosive stretches
          val drift = if (i % 80 < 20) 30 else 0
          cents = math.max(100L, cents + rng.nextInt(201) - 100 + drift)
          (s"s$sym", new java.sql.Timestamp(1000000000L + i * 1000L), cents / 100.0, 1L, i.toLong)
        }
      }
      val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
      val got = operators.Sadf
        .sadf(df, minW, maxW)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Double, Int, Double, Double)]
        .collect()
        .toSeq
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sym, rs) =>
        val sorted = rs.sortBy(_._2.getTime)
        val cents = sorted.map(r => math.round(r._3 * 100))
        val x = cents.dropRight(1) // y_{t-1}, index i -> row i+1
        val d = cents.indices.tail.map(i => cents(i) - cents(i - 1))
        // row j (0-based in the diffed series) = original row j+1
        (maxW until d.size).map { j =>
          val cands = (minW to maxW).map { n =>
            val xs = x.slice(j - n + 1, j + 1)
            val ds = d.slice(j - n + 1, j + 1)
            val sx = xs.sum; val sxx = xs.map(v => v * v).sum
            val sd = ds.sum; val sdd = ds.map(v => v * v).sum
            val sxd = xs.zip(ds).map { case (a, b) => a * b }.sum
            val den = n * sxx - sx * sx
            val num = n * sxd - sx * sd
            val tstat =
              if (den == 0L) 0.0
              else {
                val b = num.toDouble / den.toDouble
                val sxxc = den.toDouble / n.toDouble
                val sddc = sdd.toDouble - sd.toDouble * sd.toDouble / n.toDouble
                val ssr = sddc - b * b * sxxc
                if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
                else b * math.sqrt(sxxc) / math.sqrt(ssr / (n - 2).toDouble)
              }
            val b = if (den == 0L) 0.0 else num.toDouble / den.toDouble
            (tstat, -n, b, n)
          }
          val best = cands.max
          (sym, sorted(j + 1)._2, sorted(j + 1)._3, best._4, best._3, best._1)
        }
      }
      assert(got.size == want.size, s"got ${got.size} want ${want.size}")
      for ((g, w) <- got.zip(want)) {
        assert(g._1 == w._1 && g._2 == w._2 && g._4 == w._4)
        assert(java.lang.Double.doubleToLongBits(g._5) == java.lang.Double.doubleToLongBits(w._5), s"$g vs $w")
        assert(java.lang.Double.doubleToLongBits(g._6) == java.lang.Double.doubleToLongBits(w._6), s"$g vs $w")
      }
    }
  }

  test("csw break scan matches brute force on random walks") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val (minL, maxL) = (5, 15)
      val rows = (0 until 2).flatMap { sym =>
        var cents = 10000L
        (0 until 300).map { i =>
          cents = math.max(100L, cents + rng.nextInt(21) - 10)
          (s"s$sym", new java.sql.Timestamp(1000000000L + i * 1000L), cents / 100.0, 1L, i.toLong)
        }
      }
      val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
      val got = operators.StructuralBreak
        .cswScan(df, minL, maxL)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Double, Int, Double, Double)]
        .collect()
        .toSeq
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sym, rs) =>
        val sorted = rs.sortBy(_._2.getTime)
        val cents = sorted.map(r => math.round(r._3 * 100)).toArray
        (maxL until cents.length).map { t =>
          val cdd = (1 to t).map(i => (cents(i) - cents(i - 1)) * (cents(i) - cents(i - 1))).sum
          var bestS = Double.NegativeInfinity
          var bestN = minL
          if (cdd == 0L) bestS = 0.0
          else {
            val sigma = math.sqrt(cdd.toDouble / t.toDouble)
            for (n <- minL to maxL) {
              val s = (cents(t) - cents(t - n)).toDouble / (sigma * math.sqrt(n.toDouble))
              if (s > bestS) { bestS = s; bestN = n }
            }
          }
          (sym, sorted(t)._2, bestN, bestS, math.sqrt(4.6 + math.log(bestN.toDouble)))
        }
      }
      assert(got.size == want.size && got.nonEmpty)
      for ((g, w) <- got.zip(want)) {
        assert(g._1 == w._1 && g._2 == w._2 && g._4 == w._3)
        assert(java.lang.Double.doubleToLongBits(g._5) == java.lang.Double.doubleToLongBits(w._4))
        assert(java.lang.Double.doubleToLongBits(g._6) == java.lang.Double.doubleToLongBits(w._5))
      }
    }
    // flat series: zero variance -> stat 0.0 at minLag
    val flat = (0 until 30)
      .map(i => ("F", new java.sql.Timestamp(1000000000L + i * 1000L), 50.0, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val f = operators.StructuralBreak.cswScan(flat, 5, 15)
      .select("best_lag", "cs_stat").as[(Int, Double)].collect()
    assert(f.nonEmpty && f.forall(r => r._1 == 5 && r._2 == 0.0))
  }

  test("probit and erf round-trip: Phi(probit(p)) recovers p across the unit interval") {
    import graft.operators.{BacktestStats, BetSizing}
    import org.apache.spark.sql.functions._
    // Acklam probit |eps| < 1.15e-9 relative; A&S erf |eps| <= 1.5e-7
    // absolute -> the round trip must land within ~2e-7 of p on the
    // central region and stay monotone in the tails
    val ps = (1 to 999).map(_ / 1000.0)
    val df = ps.toDF("p")
      .withColumn("z", BacktestStats.probitApprox(col("p")))
      .withColumn(
        "back",
        lit(0.5) * (lit(1.0) + BetSizing.erfApprox(col("z") / lit(math.sqrt(2.0)))),
      )
      .orderBy("p")
      .select("p", "z", "back")
      .as[(Double, Double, Double)]
      .collect()
    df.foreach { case (p, _, back) => assert(math.abs(back - p) < 2e-7, s"p=$p back=$back") }
    // strict monotonicity of the probit across all three branches
    df.sliding(2).foreach { case Array(a, b) => assert(a._2 < b._2, s"${a._1} -> ${b._1}") }
  }

  test("ffd min-d grid: sane shape and stationarity at d=1") {
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val out = operators.FfdSearch.adfGrid(t)
      .orderBy("symbol", "d")
      .as[(String, Double, Long, Double, Int)]
      .collect()
    assert(out.length == 5 * 6) // 5 symbols x 6 d values
    // first differences of a bounded random walk are stationary
    assert(out.filter(_._2 == 1.0).forall(_._5 == 1))
    // longer weight windows eat more head rows: n_obs(d=0) >= n_obs(d=0.2)
    for (g <- out.groupBy(_._1).values) {
      val byD = g.sortBy(_._2)
      assert(byD.head._3 >= byD(1)._3)
    }
  }

  test("return attribution matches a straight-line reference") {
    // 1 symbol, 10 ticks a minute apart; two events with overlapping
    // 5-minute lifespans
    val ticks = (0 until 10).map { i =>
      (s"s", new java.sql.Timestamp(1700000000000L + i * 60000L), 100.0 + i, 1L, i.toLong)
    }
    val df = ticks.toDF("symbol", "ts", "price", "size", "trade_id")
    val ev = Seq(
      ("s", new java.sql.Timestamp(1700000000000L), new java.sql.Timestamp(1700000000000L + 5 * 60000L), 1L),
      ("s", new java.sql.Timestamp(1700000000000L + 3 * 60000L), new java.sql.Timestamp(1700000000000L + 8 * 60000L), 2L),
    ).toDF("symbol", "t0", "t1", "event_id")
    val got = operators.Labels.returnAttribution(df, ev)
      .orderBy("event_id").as[(String, Long, Double, Long)].collect()
    // reference: ret_i = ln(p_i/p_{i-1}) for i=1..9; c_t = 2 on the
    // overlap ticks 3..5, else 1
    val ret = (1 until 10).map(i => math.log((100.0 + i) / (100.0 + i - 1)))
    def attr(idx: Seq[Int]): Double =
      math.abs(idx.foldLeft(0.0)((a, i) => a + ret(i - 1) / (if (i >= 3 && i <= 5) 2.0 else 1.0)))
    assert(got.map(_._2).toSeq == Seq(1L, 2L))
    assert(got(0)._3 == attr(1 to 5) && got(0)._4 == 5L)
    assert(got(1)._3 == attr(3 to 8) && got(1)._4 == 6L)
  }

  test("sadf scan is bit-identical to the declarative window form") {
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.01")
    val a = TickScanReference.sadf(t, 10, 40)
      .orderBy("symbol", "ts")
      .as[(String, java.sql.Timestamp, Double, Int, Double, Double)]
      .collect().toSeq
    val b = operators.Sadf.sadf(t, 10, 40)
      .orderBy("symbol", "ts")
      .as[(String, java.sql.Timestamp, Double, Int, Double, Double)]
      .collect().toSeq
    assert(a.size == b.size && a.nonEmpty)
    for ((x, y) <- a.zip(b)) {
      assert(x._1 == y._1 && x._2 == y._2 && x._4 == y._4)
      assert(java.lang.Double.doubleToLongBits(x._5) == java.lang.Double.doubleToLongBits(y._5))
      assert(java.lang.Double.doubleToLongBits(x._6) == java.lang.Double.doubleToLongBits(y._6))
    }
  }

  test("trend scan is bit-identical to the whole-symbol window form") {
    // sf0.01 days hold ~66 rows, sf0.001 days ~7: windows span day
    // edges on both
    for (sf <- Seq("sf0.01", "sf0.001")) {
      val t = graft.sources.TradeData.fromEvents(spark, s"/root/testdata/$sf")
      val a = TickScanReference.trendLabels(t, 5, 20)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Double, Int, Int, Double, Double)]
        .collect().toSeq
      val s = operators.TrendScan.labels(t, 5, 20)
        .orderBy("symbol", "ts")
        .as[(String, java.sql.Timestamp, Double, Int, Int, Double, Double)]
        .collect().toSeq
      assert(a.size == s.size && a.nonEmpty)
      for ((x, y) <- a.zip(s)) {
        assert(x._1 == y._1 && x._2 == y._2 && x._4 == y._4 && x._5 == y._5)
        // doubles must be BIT-equal (identical integer moments + trees)
        assert(java.lang.Double.doubleToLongBits(x._6) == java.lang.Double.doubleToLongBits(y._6))
        assert(java.lang.Double.doubleToLongBits(x._7) == java.lang.Double.doubleToLongBits(y._7))
      }
    }
  }

  test("chunked weight fold == pair form on random multi-day intervals") {
    // random walks + random event intervals spanning 0-3 day chunks —
    // exercises every halo/boundary case the 1h queries don't
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val dayUs = 86400000L // millis here; ts in millis
      val ticks = (0 until 400).map { i =>
        val sym = if (i % 2 == 0) "A" else "B"
        // uneven spacing, ~2.5 days per symbol
        val t = 1700000000000L + (i / 2).toLong * 1080000L + rng.nextInt(60000)
        (sym, new java.sql.Timestamp(t), 50.0 + rng.nextInt(1000) / 10.0, 1L, i.toLong)
      }
      val df = ticks.toDF("symbol", "ts", "price", "size", "trade_id")
      val evs = (0 until 40).map { j =>
        val sym = if (j % 2 == 0) "A" else "B"
        val t0 = 1700000000000L + rng.nextInt(2 * dayUs.toInt).toLong
        val len = rng.nextInt(2 * dayUs.toInt).toLong + 1000L
        (sym, new java.sql.Timestamp(t0), new java.sql.Timestamp(t0 + len), j.toLong + 1000L)
      }
      val ev = evs.toDF("symbol", "t0", "t1", "event_id")
      for ((scan, pairsForm) <- Seq(
          (operators.Labels.uniquenessWeights(df, ev), WeightPairsReference.uniquenessWeights(df, ev)),
          (operators.Labels.returnAttribution(df, ev), WeightPairsReference.returnAttribution(df, ev)),
        )) {
        val got = scan.orderBy("symbol", "event_id").collect()
        val want = pairsForm.orderBy("symbol", "event_id").collect()
        assert(got.length == want.length, s"seed $seed row count")
        got.zip(want).foreach { case (g, w) =>
          assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
          assert(g.getLong(3) == w.getLong(3), s"seed $seed n_ticks event ${g.getLong(1)}")
          // regrouped fold: ulp-level agreement on straddlers, exact otherwise
          val (a, b) = (g.getDouble(2), w.getDouble(2))
          assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
            s"seed $seed event ${g.getLong(1)}: $a vs $b")
        }
      }
    }
  }

  test("barrier scan core == join core on random walks with extreme thresholds") {
    forAll(seeds) { seed =>
      val rng = new scala.util.Random(seed)
      val ticks = (0 until 300).map { i =>
        val sym = if (i % 3 == 0) "X" else "Y"
        val t = 1700000000000L + (i / 2).toLong * 600000L + rng.nextInt(30000)
        (sym, new java.sql.Timestamp(t), 100.0 * math.exp((rng.nextGaussian() * 0.05)), 1L, i.toLong)
      }
      val df = ticks.toDF("symbol", "ts", "price", "size", "trade_id")
      // tiny threshold (every tick crosses fast) and huge (mostly verticals)
      for (trgt <- Seq(0.0001, 0.5)) {
        val want = BarrierJoinReference
          .tripleBarrierCore(df, "6 hours", 1.0, 1.0, 100, Some(trgt), graft.api.TradingCols.default)
          .orderBy("symbol", "ts", "price").collect()
        val got = operators.Labels
          .tripleBarrierCoreScan(df, "6 hours", 1.0, 1.0, 100, Some(trgt), graft.api.TradingCols.default)
          .orderBy("symbol", "ts", "price").collect()
        assert(got.length == want.length, s"seed $seed trgt $trgt rows")
        got.zip(want).foreach { case (g, w) =>
          (0 until g.length).foreach { i =>
            (g.get(i), w.get(i)) match {
              case (a: java.lang.Double, b: java.lang.Double) =>
                assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
                  s"seed $seed trgt $trgt col $i")
              case (a, b) => assert(a == b, s"seed $seed trgt $trgt col $i: $a vs $b")
            }
          }
        }
      }
    }
  }

  // Gen is used for value-level generators where Spark isn't needed
  test("hashBucket distributes uniformly enough (chi-square sanity)") {
    val keys = Gen.listOfN(4000, Gen.choose(0L, Long.MaxValue)).sample.get
    val buckets = keys.map { k =>
      // mirror of Sampling.hashBucket for a driver-side check
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:graft".getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    val perDecile = buckets.groupBy(_ / 1000).view.mapValues(_.size).toMap
    assert(perDecile.size == 10)
    assert(perDecile.values.forall(c => c > 300 && c < 500), perDecile.toString)
  }
}
