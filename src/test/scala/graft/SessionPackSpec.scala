package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Packing, Sessionize}

class SessionPackSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  private def events(rows: (Long, Long, String, Double)*) =
    rows.map { case (u, m, et, v) => (u, ts(m), et, v) }
      .toDF("user_id", "ts", "event_type", "value")

  test("sessionize splits on gaps over the threshold, per user") {
    val e = events(
      (1L, 0L, "a", 1.0), (1L, 10L, "b", 2.0), (1L, 25L, "a", 3.0), // session 0
      (1L, 70L, "c", 4.0), // 45-min gap -> session 1
      (2L, 0L, "a", 5.0), (2L, 31L, "a", 6.0), // user 2: 31-min gap -> two sessions
    )
    val out = Sessionize.sessions(e)
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events", "n_event_types", "value_cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 3L, 2L, 600L), (1L, 1L, 1L, 1L, 400L),
      (2L, 0L, 1L, 1L, 500L), (2L, 1L, 1L, 1L, 600L)))
  }

  test("sessionize: a gap of exactly the threshold stays in-session") {
    val e = events((1L, 0L, "a", 1.0), (1L, 30L, "a", 1.0), (1L, 61L, "a", 1.0))
    val out = Sessionize.sessions(e).select("session_idx", "n_events")
      .orderBy("session_idx").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 2L), (1L, 1L)))
  }

  test("sessionize assignment is stable under repartitioning") {
    val e = events((0 until 200).map(i => (i.toLong % 7, i.toLong * 13 % 300, "e", 1.0)): _*)
    val a = Sessionize.assign(e).select("user_id", "ts", "session_idx")
      .as[(Long, Timestamp, Long)].collect().sortBy(r => (r._1, r._2.getTime))
    val b = Sessionize.assign(e.repartition(11)).select("user_id", "ts", "session_idx")
      .as[(Long, Timestamp, Long)].collect().sortBy(r => (r._1, r._2.getTime))
    assert(a.sameElements(b))
  }

  test("profile: exact stats per column in one pass; approx distinct within rsd") {
    import graft.operators.Profile
    val d = (0 until 1000)
      .map(i => (i.toLong, if (i % 10 == 0) null else s"v${i % 123}", i % 7))
      .toDF("id", "s", "m")
    val p = Profile.profile(d, Seq("id", "s", "m")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getAs[Long]("n_rows") == 1000L && p("id").getAs[Long]("n_null") == 0L)
    assert(p("id").getAs[Long]("n_distinct") == 1000L)
    assert(p("s").getAs[Long]("n_null") == 100L && p("s").getAs[Long]("n_distinct") == 123L)
    assert(p("m").getAs[Long]("n_distinct") == 7L)
    assert(p("m").getAs[String]("min_str") == "0" && p("m").getAs[String]("max_str") == "6")
    val a = Profile.approxProfile(d, Seq("id", "s", "m")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    assert(math.abs(a("id") - 1000L) <= 100L) // default rsd 5%, allow 2 sigma
    assert(a("m") == 7L) // HLL is exact at tiny cardinality
  }

  test("grouped quantiles: exact interpolation; sketch within accuracy") {
    import graft.operators.Profile
    val d = (1 to 100).map(i => ("g", i.toDouble)).toDF("k", "v")
    val r = Profile.quantiles(d, Seq("k"), "v", Seq(0.5, 0.9)).collect().head
    assert(r.getAs[Double]("p50") == 50.5) // (50+51)/2 linear interpolation
    assert(math.abs(r.getAs[Double]("p90") - 90.1) < 1e-12) // 90 + frac*(91-90), frac carries 0.9*99 FP residue
    assert(r.getAs[Long]("n") == 100L)
    val a = Profile.approxQuantiles(d, Seq("k"), "v", Seq(0.5)).collect().head
    assert(math.abs(a.getAs[Double]("p50") - 50.5) <= 1.0)
  }

  private def docs(toks: Long*) =
    toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "n_tokens")

  test("packing fills first-fit in id order and never exceeds the budget") {
    val d = docs(300L, 150L, 100L, 400L, 60L, 500L, 1L)
    val packed = Packing.packSequences(d, maxTokens = 500L, nShards = 1)
    val stats = Packing.sequenceStats(packed)
      .orderBy("seq_idx").select("seq_idx", "n_docs", "seq_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    // 300+150 | 100+400 | 60 (500 would overflow) | 500+1... 500+1=501>500 -> 500 alone, then 1
    assert(stats == Seq((0L, 2L, 450L), (1L, 2L, 500L), (2L, 1L, 60L), (3L, 1L, 500L), (4L, 1L, 1L)))
    assert(stats.forall(_._3 <= 500L))
  }

  test("packing gives an oversize document its own sequence") {
    val d = docs(100L, 900L, 100L)
    val packed = Packing.packSequences(d, maxTokens = 500L, nShards = 1)
      .orderBy("doc_id").select("doc_id", "seq_idx").as[(Long, Long)].collect().toSeq
    assert(packed == Seq((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("packing is deterministic across input partitioning and shard-local") {
    val d = docs((0 until 500).map(i => (i * 37L % 250 + 1)): _*)
    val a = Packing.packSequences(d, 300L, 4).collect().sortBy(_.doc_id)
    val b = Packing.packSequences(d.repartition(13), 300L, 4).collect().sortBy(_.doc_id)
    assert(a.sameElements(b))
    // every sequence stays within one shard and within budget
    val stats = Packing.sequenceStats(Packing.packSequences(d, 300L, 4)).collect()
    assert(stats.forall(r => r.getAs[Long]("seq_tokens") <= 300L ||
      r.getAs[Long]("n_docs") == 1L))
  }

  test("packing a document without a token count fails with a message naming the columns") {
    val d = Seq((0L, Option(10L)), (1L, None)).toDF("doc_id", "n_tokens")
    val e = intercept[Exception](Packing.packSequences(d, 100L, 1).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(m => m.contains("doc_id") && m.contains("n_tokens")), e.toString)
  }
}
