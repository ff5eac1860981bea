package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}

import graft.operators.AsofJoin
import graft.sources.TradeData

/** Physical-plan invariants: these are the scale properties SURVEY §6
  * claims — pinned so a regression (lost pushdown, extra shuffle,
  * missed broadcast) fails CI rather than silently costing 10x at
  * cluster scale.
  */
class ExplainSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q6 pushes both filters to the parquet scan") {
    val p = plan("q6_filter")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThanOrEqual(l_discount") || p.contains("LessThan(l_quantity"))
  }

  test("q5 broadcasts every dimension join") {
    val p = plan("q5_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension joins must not shuffle lineitem")
  }

  test("as-of labels run AsofJoinExec, no Window, one symbol exchange per side") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import graft.operators.Labels
    val trades = TradeData.fromEvents(spark, dir)
    for ((name, df) <- Seq(
        "returns24h" -> Labels.returns24h(trades),
        "verticalBarrier" -> Labels.verticalBarrier(trades))) {
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      assert(p.collect { case j: graft.plans.AsofJoinExec => j }.size == 1, s"$name:\n$p")
      assert(p.collect { case w: WindowExec => w }.isEmpty, s"$name:\n$p")
      val exchanges = p.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(exchanges.size == 2 && exchanges.forall {
        case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name } == Seq("symbol")
        case _ => false
      }, s"$name:\n$p")
    }
  }

  test("native asof plans AsofJoinExec with planned exchanges") {
    val trades = TradeData.fromEvents(spark, dir)
    val left = trades.select($"symbol", $"ts", $"price")
    import org.apache.spark.sql.functions._
    val right = trades.select($"symbol", col("ts").as("rts"), col("price").as("rp"))
    val df = AsofJoin.asofNative(left.withColumnRenamed("price", "lp"), right, "ts", "rts", by = Seq("symbol"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"))
  }

  test("native asof over bucketed tables elides both shuffle exchanges") {
    // the co-partitioning requirement is declared to Catalyst, so a
    // symbol-bucketed, (symbol, ts)-sorted table satisfies it at scan
    // time — the 100 TB story: a TradeStore-style bucketed layout
    // makes every as-of join exchange-free
    import org.apache.spark.sql.functions._
    import graft.sources.TradeStore
    val trades = TradeData.fromEvents(spark, dir)
    TradeStore.writeBucketed(trades, "asof_left", nBuckets = 4)
    trades
      .select($"symbol", $"ts".as("rts"), $"price".as("rp"))
      .write.mode("overwrite")
      .bucketBy(4, "symbol").sortBy("symbol", "rts")
      .saveAsTable("asof_right")
    val l = TradeStore.readBucketed(spark, "asof_left").select($"symbol", $"ts", $"price".as("lp"))
    val r = spark.table("asof_right")
    val out = AsofJoin.asofNative(l, r, "ts", "rts", by = Seq("symbol"))
    val p = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(p.contains("AsofJoin"))
    assert(exchanges == 0, s"expected exchange-free plan over bucketed inputs, got $exchanges:\n$p")
    // and the join still computes: every left row present
    assert(out.count() == trades.count())
  }

  test("ann topk applies WindowGroupLimit pushdown") {
    val p = plan("ann_topk")
    assert(p.contains("WindowGroupLimit"))
  }

  test("bars aggregate with a partial (map-side) phase") {
    val p = plan("time_bars")
    assert(p.contains("partial_"))
  }

  test("bars stay in HashAggregate: OrderedHead keeps open/close codegen-resident") {
    // min_by(price, struct(ts, trade_id)) would demote the WHOLE bar
    // aggregation to ObjectHashAggregate's row path (~3.5 µs/row);
    // the flat-buffer OrderedHead keeps every bar agg hash+codegen
    for (q <- Seq("time_bars", "tick_bars")) {
      val p = plan(q)
      assert(p.contains("ordered_first") && p.contains("ordered_last"), q)
      assert(!p.contains("ObjectHashAggregate"), s"$q fell off the hash-agg path:\n$p")
      assert(!p.contains("SortAggregate"), s"$q fell off the hash-agg path:\n$p")
    }
  }

  test("bar operators are unsorted: exactly one range exchange per query") {
    // the operator no longer embeds an orderBy, so the only sort is
    // the caller's final presentation ordering
    for (q <- Seq("time_bars", "tick_bars", "volume_bars")) {
      val p = plan(q)
      val ranges = "rangepartitioning".r.findAllIn(p.toLowerCase).length
      assert(ranges <= 1, s"$q has $ranges range exchanges:\n$p")
    }
  }

  test("pair operators embed no range exchange: ordering is the caller's") {
    // same contract the bar operators got in round 2 — a sort inside
    // the operator costs a range exchange on every composed use
    // (e.g. clusters built over pairs)
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plans = Seq(
      "simhashPairs" -> Dedup.simhashPairs(docs, maxHamming = 3),
      "minhashLsh" -> Dedup.minhashLsh(docs, threshold = 0.5),
      "ngramJaccard" -> Dedup.ngramJaccard(docs, threshold = 0.3),
    )
    for ((name, df) <- plans) {
      val p = df.queryExecution.executedPlan.toString
      val ranges = "rangepartitioning".r.findAllIn(p.toLowerCase).length
      assert(ranges == 0, s"$name embeds $ranges range exchanges:\n$p")
    }
  }

  test("rolling scan shuffles once, on the tape's symbol exchange") {
    // the per-symbol deque scan runs on the tape's symbol clustering:
    // its one hash exchange is the source's, then a single keyed scan;
    // the only other exchange is the caller's presentation orderBy
    val p = plan("rolling_features")
    val hashes = "hashpartitioning".r.findAllIn(p).length
    val ranges = "rangepartitioning".r.findAllIn(p.toLowerCase).length
    assert(hashes == 1, s"expected only the tape's symbol exchange, got $hashes:\n$p")
    assert(ranges <= 1, s"expected only the presentation sort, got $ranges range exchanges:\n$p")
    assert(!p.contains("Window"), "the <=1-day path must use the deque scan, not RANGE frames")
  }

  test("rolling/ewm keep= pushes column pruning to the parquet scan") {
    // default contract carries full rows (callers consume them); the
    // keep= projection is the wide-table path — the scan must then
    // read only the compute + kept columns, not the passengers
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawWide = spark.read.parquet(s"$dir/events.parquet")
    val wide = rawWide
      .withColumn("ts", graft.sources.TradeData.normalizeTs(rawWide))
      .withColumn("symbol", col("event_type"))
      .withColumn("price", col("value"))
      .withColumn("size", col("event_id") % 97 + 1)
    val rp = operators.Rolling
      .features(wide, "1 hour", keep = Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert(!rp.contains("props") && !rp.contains("user_id"), s"passenger columns not pruned:\n$rp")
    val ep = graft.functions.Ewm
      .stdOverKey(wide, Seq("symbol"), Seq("ts"), "price", span = 5, outCol = "es", keep = Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert(!ep.contains("props") && !ep.contains("user_id"), s"passenger columns not pruned:\n$ep")
  }

  test("LSH candidate join: bucket cap bounds a pathological hot band") {
    // The candidate join's skew bound is structural, not adaptive:
    // byte-identical copies collapse to one representative before
    // banding, and a band value shared by more than maxBucket DISTINCT
    // reps is dropped (boilerplate-dominated buckets of mutually
    // dissimilar docs). Within the cap, a hot bucket costs at most
    // C(maxBucket, 2) candidate pairs, streamed out of one keyed scan
    // over the band's rows — bounded by construction.
    // Plant the worst case — 30% of the corpus near-identical but
    // DISTINCT (a shared body dominating every band) — and pin that
    // (a) every hot pair is found under the default cap, and (b) a
    // cap below the bucket size drops the bucket instead of joining
    // it (broadcast disabled to force the path a 100 TB corpus takes).
    import spark.implicits._
    import graft.operators.Dedup
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      // DISTINCT near-identical docs (byte-identical copies would
      // collapse to one representative and never reach the band join):
      // a long shared body dominates every minhash band, so the hot
      // docs share band values while keeping distinct shingle sets —
      // a hot bucket of 120 DISTINCT reps, below the maxBucket cap.
      val nHot = 120
      val body =
        "identical hot duplicate document text shared by many many rows here and padded " +
          "with a long enough boilerplate body that the shared shingles dominate every " +
          "minhash band value across all one hundred twenty near identical documents " +
          "in this pathological skew probe corpus"
      val docs = (0 until 400).map { i =>
        val text =
          if (i < nHot) s"$body tail$i"
          else s"unique document number $i with its own distinct words ${i * 7} ${i * 13} ${i * 29}"
        (i.toLong, text)
      }.toDF("doc_id", "text")
      val pairs = Dedup.minhashLsh(docs, threshold = 0.9)
      val got = pairs.collect()
      // each hot pair is a candidate unless BOTH of its bands draw a
      // tail-shingle min (P ~ 5e-4 per pair; deterministic md5 makes
      // the realized count stable) — 7000 of the 7140 is a safe floor
      assert(got.length >= 7000, s"expected ~all hot pairs, got ${got.length}")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("KeyedScan keys=[band"), s"band bucket scan missing:\n$plan")
      assert(!plan.contains("Join"), s"no join left in the LSH plan:\n$plan")
      // a cap below the hot-bucket size must DROP the bucket, not join
      // it: only sub-cap buckets remain (tail-shingle subsets — e.g.
      // docs sharing a "tail1…" shingle min), an order of magnitude
      // fewer pairs than the uncapped run
      val capped = Dedup.minhashLsh(docs, threshold = 0.9, maxBucket = 50).collect()
      assert(
        capped.length * 10 <= got.length,
        s"oversized bucket must be dropped: capped=${capped.length} vs full=${got.length}",
      )
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ivf cell assignment is an inline per-row argmax, nothing object-aggregated") {
    val p = plan("ann_ivf_topk")
    // ≤4096 cells: nearest-centroid is a per-row argmax over the
    // inlined centroid literal — no corpus × centroid join, no
    // ObjectHashAggregate (the old max_by(struct) + first(nv) agg
    // demoted the whole aggregation off whole-stage codegen); the
    // probe cells come from the same centroid matrix and the top k
    // from one keyed scan: no query × centroid product, no window
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("partial_max_by"), p)
    assert(!p.contains("NestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("KeyedScan keys=[query_id"), p)
  }

  test("ivf top-k computes each vector's cell once: one nearestcellexpr in the plan") {
    // no inferred isnotnull(cell) filter re-evaluating the normalize
    // and the argmax below the projection that assigns the cell
    val p = plan("ann_ivf_topk")
    assert("nearestcellexpr\\(".r.findAllIn(p).length == 1, p)
  }

  test("microstructure moments aggregate with a map-side partial phase") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Microstructure.features(t)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"integer moments must combine map-side:\n$p")
    assert(!p.contains("rangepartitioning"))
  }

  test("multi-window rolling shuffles once regardless of window count") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Rolling
      .featuresMulti(t, Seq("30 minutes", "1 hour", "2 hours"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"))
    assert(!p.contains("WindowExec"), "one scan, not per-window Window passes")
  }

  test("pq encode and search broadcast the small sides: no sort-merge join") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = graft.operators.Pq.train(emb, m = 8, k = 16, iters = 0)
    val enc = graft.operators.Pq.encode(emb, cb, m = 8)
    assert(!enc.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val p = graft.operators.Pq.adcTopK(emb, cb, enc, m = 8, k = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), "codebooks/tables must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("hash split/sample are map-side: zero exchanges") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val split = graft.operators.Sampling
      .hashSplit(d, "doc_id", Seq("train" -> 0.8, "val" -> 0.2))
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"))
    val sample = graft.operators.Sampling.hashSample(d, "doc_id", 0.3)
    assert(!sample.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("sessionize shuffles once on the user key; both windows share one sort") {
    val e = graft.sources.TradeData.rawEvents(spark, dir)
    val p = graft.operators.Sessionize.assign(e).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"))
    assert("\\bSort\\b".r.findAllIn(p).length <= 1, s"lag + running sum must share one sort:\n$p")
  }

  test("packing shuffles once on the shard key") {
    import spark.implicits._
    val d = (0 until 100).map(i => (i.toLong, i.toLong % 50 + 1)).toDF("doc_id", "n_tokens")
    val p = graft.operators.Packing.packSequences(d, 100L, 4)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"))
  }

  test("stratified sample shuffles exactly once, on the stratum key") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Sampling
      .stratifiedSample(d, Seq("lang"), 0.2, "doc_id")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"), "stratum window must not global-sort")
  }

  test("trend-scanning labels: the tape's symbol exchange, one keyed scan, no window") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.TrendScan.labels(t, 4, 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"), "no global sort inside the operator")
    assert("KeyedScan keys".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Window") && !p.contains("Union") && !p.contains("Join"), s"no day chunks, no halo:\n$p")
  }

  test("decontaminate broadcasts the benchmark grams; one doc-key exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Decontaminate
      .flags(d.where($"doc_id" % 97 =!= 0), d.where($"doc_id" % 97 === 0), n = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("domain mix: corpus side is never shuffled (broadcast thresholds only)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val weights = (0 until 20).map(i => (s"src$i", if (i % 2 == 0) 1L else 3L))
    val df = graft.operators.Sampling.mixToTarget(d, "source", "doc_id", weights)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "thresholds must broadcast onto the corpus")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the threshold join:\n$p")
  }

  test("cusum filter shuffles once on symbol (the sequential-scan shape)") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Cusum.events(t, 50.0)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"))
  }

  test("sadf: the tape's symbol exchange, one keyed scan, no window") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Sadf.sadf(t, 6, 12)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"))
    assert("KeyedScan keys".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("per-symbol tick scans over a cached tape plan no exchange of their own") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Cusum, FfdSearch, Microstructure, Sadf, StructuralBreak, TrendScan}
    // materialized, as a caller reuses it: the cached plan's final
    // partitioning is the tape's symbol clustering
    val t = TradeData.fromEvents(spark, dir).cache()
    t.count()
    try {
      for ((name, df) <- Seq(
          "cusum" -> Cusum.events(t, 50.0),
          "sadf" -> Sadf.sadf(t, 6, 12),
          "csw" -> StructuralBreak.cswScan(t, 5, 12),
          "ffd" -> FfdSearch.adfGrid(t),
          "realizedVol" -> Microstructure.realizedVol(t),
          "trend" -> TrendScan.labels(t, 4, 8),
          "ewm" -> graft.functions.Ewm.stdOverKey(t, Seq("symbol"), Seq("ts", "trade_id"), "price", 5, "es"),
          "ewm keep" -> graft.functions.Ewm.stdOverKey(t.where(col("size") > 0), Seq("symbol"), Seq("ts"),
            "price", 5, "es", keep = Seq("trade_id")))) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"$name:\n$p")
        assert(p.collect { case k: graft.plans.KeyedScanExec => k }.size == 1, s"$name:\n$p")
      }
    } finally t.unpersist()
  }

  test("corwin-schultz aggregates daily ranges with a map-side partial phase") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Microstructure.corwinSchultz(t)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_max") || p.contains("partial_min") || p.contains("HashAggregate"), p)
    assert(!p.contains("rangepartitioning"))
  }

  test("bm25 broadcasts the corpus stats; no sort-merge join") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Bm25.topK(d, Seq("table", "scan"), 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"stats joins must broadcast:\n$p")
  }

  test("lm perplexity model joins are size-gated: shuffle past the broadcast threshold") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // Simulate a corpus-derived model too large to broadcast: with the
    // threshold off, the DEFAULT plan must degrade to shuffle joins on
    // the token keys (no forced-broadcast OOM path). Only the 1-row
    // vocab table keeps an explicit broadcast hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = graft.operators.LmScore.perplexity(d)
        .queryExecution.executedPlan.toString
      assert(
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"oversized model tables must shuffle-join:\n$p",
      )
      // the only broadcast left is the corpus-independent 1-row vocab
      assert("BroadcastExchange".r.findAllIn(p).length <= 1, p)
      // opt-in for bounded vocabs: forced broadcast regardless of threshold
      val pb = graft.operators.LmScore.perplexity(d, broadcastModel = true)
        .queryExecution.executedPlan.toString
      // Both model tables (bigram weights __bw, unigram weights __uw)
      // must broadcast-join; the per-doc doc_id rollup join is NOT a
      // model join and may legitimately SortMergeJoin with the
      // threshold disabled, so the assertion is scoped by count.
      assert(
        "BroadcastHashJoin".r.findAllIn(pb).length >= 2,
        s"opt-in must broadcast both model tables:\n$pb",
      )
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("triple-barrier scan core: a symbol scan then a chunk scan, no join, no aggregate") {
    import graft.api.TradingCols
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.Labels
      .tripleBarrierCoreScan(t, "4 hours", 1.0, 1.0, 100, Some(0.02), TradingCols.default)
      .queryExecution.executedPlan.toString
    // the tape's symbol exchange only: the symbol scan keeps it, and the
    // (sym, chunk) scan is clustered by sym already
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert("KeyedScan keys".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Join") && !p.contains("Aggregate"), s"no last-ts join, no pair join:\n$p")
  }

  test("purged CV rank is distributed: no single-partition exchange, broadcast spans") {
    val p = plan("cv_splits")
    // a naive global row_number would plan `Exchange SinglePartition`
    assert(!p.contains("SinglePartition"), s"global rank serialized to one task:\n$p")
    // prefix offsets + k-row fold spans ride broadcast joins
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), "per-partition row_number expected")
  }

  test("CPCV and walk-forward share the distributed-rank shape; amihud is one exchange") {
    for (q <- Seq("cv_combinatorial", "cv_walkforward")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q: global rank serialized to one task:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    }
    // amihud: map-side partial agg into one (symbol, date) exchange
    val pa = plan("amihud_illiq")
    assert("Exchange hashpartitioning".r.findAllIn(pa).length == 1, pa)
    assert(pa.contains("partial_"), "map-side combine expected")
    assert(!pa.contains("Join"), pa)
  }

  test("time-decay weights: distributed cumsum, no single-partition window") {
    val p = plan("decay_weights")
    assert(!p.contains("SinglePartition"), s"global cumsum serialized to one task:\n$p")
    // prefix offsets ride a broadcast join; range exchange present
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("rangepartitioning"), "two-phase cumsum needs the range exchange")
  }

  test("csw/realized-vol scans shuffle once on symbol; ou/amihud aggregate map-side") {
    for (q <- Seq("csw_breaks", "realized_vol")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, s"$q:\n$p")
      assert(!p.contains("Window"), s"$q: the scan forms must not plan windows")
      assert(!p.contains("Join"), p)
    }
    for (q <- Seq("ou_halflife")) {
      val p = plan(q)
      // lag window + (symbol, date) agg share the hash partitioning
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, s"$q:\n$p")
      assert(p.contains("partial_") || p.contains("HashAggregate"), p)
      assert(!p.contains("Join"), p)
    }
  }

  test("backtest stats aggregate daily closes; trial stats ride a broadcast") {
    // daily closes: one (symbol, date) agg with a map-side partial
    for (q <- Seq("backtest_psr", "max_drawdown")) {
      val p = plan(q)
      assert(p.contains("partial_") || p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), p)
    }
    // DSR: the one-row trial table must broadcast, never shuffle-join
    val p = plan("backtest_dsr")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // feature_ic: rank windows + one aggregation, no joins
    val pi = plan("feature_ic")
    assert(!pi.contains("Join"), pi)
    assert(pi.contains("Window") && (pi.contains("partial_") || pi.contains("HashAggregate")), pi)
  }

  test("weight chunked-fold scan: only the tape's two exchanges, zero joins") {
    import org.apache.spark.sql.functions._
    val t = TradeData.fromEvents(spark, dir)
    val ev = t
      .where(col("trade_id") % 50 === 0)
      .select(col("symbol"), col("ts").as("t0"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("t1"), col("trade_id").as("event_id"))
    val p = graft.operators.Labels.uniquenessWeights(t, ev)
      .queryExecution.executedPlan.toString
    // the ticks' and the events' tape exchanges: their union is clustered
    // by symbol, so the (symbol, chunk) and (symbol, event) scans add none
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Join"), "the pair-materializing join must be gone")
  }

  test("dup spans, tiny corpus: broadcast semi-join, no persist, no spread exchange") {
    spark.catalog.clearCache()
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // default gates: a sub-64MB corpus takes the tiny path — dup
    // hashes broadcast with no count job, gram stream recomputed from
    // lineage (cheaper than the persist's fixed stage scheduling),
    // no round-robin spread exchange
    val q = graft.operators.Dedup.dupSpans(d, window = 8)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "dup hashes must BROADCAST-semi-join the gram stream on tiny corpora: " + p)
    assert(!p.contains("InMemoryTableScan"),
      "the tiny path must not persist the gram stream: " + p)
    assert(!p.contains("RoundRobinPartitioning"),
      "the tiny path must skip the spread exchange: " + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dup spans, small corpus: broadcast semi-join over a persisted gram stream") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // tiny gate forced off = the mid-size (64MB..2GB) shape
    val q = graft.operators.Dedup.dupSpans(d, window = 8, tinyCorpusBytes = 0L)
    val p = q.queryExecution.executedPlan.toString
    // Small-corpus gates engaged: the dup-hash set is force-broadcast
    // (the gram probe never shuffles) and the exploded gram stream is
    // persisted so count + probe share one computation of the
    // dominant gram-string build.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "dup hashes must BROADCAST-semi-join the gram stream on small corpora: " + p)
    assert(p.contains("InMemoryTableScan"),
      "the probe must read the persisted gram stream, not recompute the explode: " + p)
    val windowNodes = "Window ".r.findAllIn(p).length
    assert(windowNodes <= 1, s"only the per-doc lag window may remain ($windowNodes found): " + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dup spans, scale path: gram count is a partial aggregation + shuffle semi-join") {
    // the small-path test above persists an identical-plan gram
    // stream; CacheManager would substitute it here by plan equality
    spark.catalog.clearCache()
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // gates forced off = the shape that survives billions of dup grams
    val q = graft.operators.Dedup
      .dupSpans(d, window = 8, maxBroadcastDupHashes = 0L, maxPersistCorpusBytes = 0L,
        tinyCorpusBytes = 0L)
    val p = q.queryExecution.executedPlan.toString
    // The global gram count must partial-aggregate map-side (a
    // Window.partitionBy(h) count buffers a 10^6-copy boilerplate gram
    // on ONE task — the r8 hot-gram flag). Plan shape: a partial
    // HashAggregate on h below the exchange, a LeftSemi join back onto
    // the gram stream, and the only Window left is the per-doc lag.
    assert(p.contains("partial_count"), "gram count must have a map-side partial phase: " + p)
    assert(p.contains("LeftSemi"), "dup hashes must semi-join the gram stream: " + p)
    assert(!p.contains("InMemoryTableScan"), "the scale path must not persist the gram stream: " + p)
    val windowNodes = "Window ".r.findAllIn(p).length
    assert(windowNodes <= 1, s"only the per-doc lag window may remain ($windowNodes found): " + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // gram-count agg + semi-join + doc window/agg + the totals join
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 6, p)
  }

  test("gated barrier: localCheckpoint below the size gate, parquet above") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val below = graft.sources.Checkpoint.tableGated(df, "gate-below")
    assert(below.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
    val above = graft.sources.Checkpoint.tableGated(df, "gate-above", maxBytes = 0L)
    assert(above.queryExecution.executedPlan.toString.contains("graft-ckpt-gate-above"))
    // both forms round-trip the rows exactly
    assert(below.orderBy("id").collect().toSeq == above.orderBy("id").collect().toSeq)
  }

  test("semantic dedup: one corpus pass into the in-memory cell scorer, no cartesian") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Similarity
      .semanticDedup(emb, threshold = 0.3, nCells = 16, kmeansIters = 0)
      .queryExecution.executedPlan.toString
    // r17 shape: map-side NearestCellExpr assignment feeds the
    // CellScoreExec custom operator, whose declared requirements
    // Catalyst satisfies with exactly ONE hash exchange on cell and
    // one spill-safe sort on the 8-byte key — no pair self-join (the
    // corpus appears in exactly one FileScan), no assignment
    // checkpoint, no cartesian, and the whole pipeline visible (no
    // RDD boundary)
    assert(p.contains("CellScore"), p)
    assert("FileScan parquet".r.findAllIn(p).length == 1, "corpus must be scanned once: " + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), "no pair self-join may remain: " + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("ObjectHashAggregate"),
      "no collect_list aggregation (its >128-cell fallback re-sorts vector payloads): " + p)
  }

  test("semantic dedup is bit-identical to the in-cell pair self-join reference") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Similarity
      .semanticDedup(emb, threshold = 0.3, nCells = 16, kmeansIters = 0)
    // the join form, in built-in SQL only: normalize (f64 Σx²
    // left-to-right, per-element /√), then every a.id < b.id pair of
    // a cell scores the left-to-right f64 dot; dup_of = min
    // qualifying id, max_sim = max qualifying dot (NaN qualifies and
    // is largest under Spark's ordering, as in the scorer)
    val members = got.select(col("vec_id").as("id"), col("cell"))
      .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .select(
        col("cell"), col("id"),
        expr("""transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(aggregate(
               |  embedding, 0D, (s, y) -> s + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))""".stripMargin)
          .as("nv"))
    val hits = members.as("a")
      .join(members.as("b"), col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(
        col("b.id").as("id"), col("a.id").as("a_id"),
        expr("aggregate(zip_with(a.nv, b.nv, (x, y) -> x * y), 0D, (s, p) -> s + p)").as("s"))
      .where(col("s") >= 0.3)
      .groupBy("id")
      .agg(min("a_id").as("dup_of"), max("s").as("max_sim"))
    val want = members.join(hits, Seq("id"), "left")
      .select(
        col("id").as("vec_id"), col("cell"),
        col("dup_of").isNotNull.cast("int").as("is_dup"), col("dup_of"), col("max_sim"))
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("vec_id").collect().toSeq.map { r =>
        Seq(r.getLong(0), r.getLong(1), r.getInt(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else java.lang.Double.doubleToRawLongBits(r.getDouble(4)))
      }
    val g = bits(got.select("vec_id", "cell", "is_dup", "dup_of", "max_sim"))
    assert(g.length == 500 && g.count(_(2) == 1) > 0, "need a non-trivial verdict set")
    assert(g == bits(want), "streamed scoring must match the pair self-join bit for bit")
  }

  test("vector index: probe and dedup scans dynamically prune the cell partitions") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-vidx-explain").toString
    graft.operators.VectorIndex
      .buildIndex(emb.where(col("vec_id") < 80), store, nCells = 16, kmeansIters = 0)
    // the store write is cell-partitioned, so the topk probe's store
    // scan must carry a dynamic PartitionFilter on cell (reads only
    // the probed cells' directories at any corpus size); same for the
    // dedup pair join's store side (the new batch's touched cells)
    val pTopk = graft.operators.VectorIndex
      .incrementalTopK(spark, store, emb.where(col("vec_id") >= 80), nQueries = 5, k = 7, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(pTopk.contains("dynamicpruningexpression"),
      "topk store scan must dynamically prune cell partitions: " + pTopk)
    // the only nested-loop product allowed is the bounded
    // query × centroid probe (nQueries·nCells rows); the corpus-side
    // assignment is checkpointed out of the visible plan
    assert(!pTopk.contains("CartesianProduct"), pTopk)
    val pDedup = graft.operators.VectorIndex
      .incrementalSemanticDedup(spark, store, emb.where(col("vec_id") >= 80), threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!pDedup.contains("CartesianProduct") && !pDedup.contains("BroadcastNestedLoopJoin"), pDedup)
    // r16: the store scan is STATICALLY pruned to the batch's touched
    // cells (bounded-census IN filter on the partition column —
    // dynamic pruning never fired for the broadcast semi/equi joins
    // here, so the full store was silently scanned pre-r16)
    assert(pDedup.contains("INSET") || pDedup.contains(" IN ("),
      "dedup store scan must carry a touched-cell partition filter: " + pDedup)
    // and the pair stage is the streamed CellScoreExec pass (r17),
    // never a payload-carrying self-join of the vector table
    assert(pDedup.contains("CellScore"),
      "dedup must score cells in memory: " + pDedup)
  }

  test("gopher filter is a pure map-side projection: no exchange, no agg, one scan") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.TextAnalysis.gopherFilter(d)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"), p)
    assert("FileScan".r.findAllIn(p).length == 1, p) // metrics share one pass
  }

  test("roll adjust: gap table joins back without shuffling ticks into a sort-merge") {
    val t = TradeData.fromEvents(spark, dir)
    val p = graft.operators.RollAdjust.adjust(t).queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"month-gap join must broadcast at this size:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // windows run over the months table only — after its aggregation,
    // never directly over the tick scan
    assert(p.contains("ordered_first") && p.contains("ordered_last"), p)
  }

  test("strategy risk stays on the codegen hash-agg path with a map-side partial") {
    val p = plan("strategy_risk")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"), p)
    assert(p.contains("partial_"), "daily-close agg must combine map-side:\n" + p)
  }

  test("corpus drift queries: bounded stat tables broadcast; no corpus-sized sort-merge") {
    for (q <- Seq("corpus_kl", "drift_monitor")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), s"$q:\n$p")
      assert(p.contains("partial_count"), s"$q gram counts must combine map-side:\n$p")
    }
  }

  test("tick qc: lag windows partition by (symbol, id-chunk), not symbol alone") {
    val p = plan("tick_qc")
    assert(p.contains("__chunk"), "chunked window column missing:\n" + p)
    assert(p.contains("hashpartitioning(symbol#") || p.contains("hashpartitioning(symbol,"),
      "final per-symbol aggregation exchange expected:\n" + p)
    // the tick-scale sort must carry the chunk key (hot-symbol
    // parallelism); only the bounded head/tail table may sort by
    // symbol alone
    val sortBySymbolOnly = "Sort \\[symbol[^,]*, trade_id".r.findAllIn(p).length
    assert(sortBySymbolOnly == 0, "tick-scale sort lost the chunk key:\n" + p)
  }

  test("rp topk: projected corpus joins the broadcast query side; top-k group-limited") {
    val p = plan("rp_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), "rank<=k must push down as a group limit:\n" + p)
  }

  // --- the tick tape's layout: `TradeData.fromEvents` hash-clusters the
  // tape by symbol. A query that re-shuffles those rows without changing
  // them first (only a Project, Filter or Sort between the two exchanges)
  // pays for the tape's exchange twice. Each query is built, its action
  // never run, and its AQE initial plan checked.

  // Queries allowed to stack an exchange on the tape's; this list may
  // shrink but never grow. Both shuffle a filtered event subset (every
  // 50th tick) by another key.
  private val stackedAllowed = Set("bet_size", "dynamic_bet")

  private def initialPlan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }

  /** The source's exchange: a by-column repartition straight over an
    * events.parquet scan, with no exchange in between.
    */
  private def isTape(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL =>
      e.child.collectFirst { case s: ShuffleExchangeExec => s }.isEmpty &&
      e.child.collectLeaves().exists {
        case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == "events.parquet")
        case _ => false
      }
    case _ => false
  }

  private def reachesTape(p: SparkPlan): Boolean = p match {
    case t if isTape(t) => true
    case x @ (_: ProjectExec | _: FilterExec | _: SortExec) => reachesTape(x.children.head)
    case _ => false
  }

  test("no exchange is stacked on the tape's exchange") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val plans = names.map(n => n -> initialPlan(n))
    val tapeReaders = plans.collect { case (n, p) if p.exists(isTape) => n }
    // every per-symbol family reads the tape: a census this small means
    // the source lost its layout and this check passes vacuously
    assert(tapeReaders.size >= 60, s"only ${tapeReaders.size} queries read the clustered tape: $tapeReaders")
    val stacked = plans.collect {
      case (n, p) if p.exists {
          case x: ShuffleExchangeExec => !isTape(x) && reachesTape(x.child)
          case _ => false
        } => n
    }.toSet
    assert(stacked.subsetOf(stackedAllowed), s"exchanges stacked on the tape's: ${stacked -- stackedAllowed}")
  }
}
