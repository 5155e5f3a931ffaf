package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.etl.SnapshotLog
import graft.streaming.{EngEv, Ev, EventStream, FunnelEv, Session, TenEv}

/** Structured Streaming shapes over MemoryStream: stateful sessionization
  * (flatMapGroupsWithState) and watermarked tumbling windows. */
class EventStreamSpec extends AnyFunSuite with SparkTestBase {

  test("sessionize emits a closed session when the gap is exceeded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(Ev(1L, 1L, 0L), Ev(1L, 2L, 100L))
      query.processAllAvailable()
      assert(spark.table("sess").count() == 0) // session still open in state

      input.addData(Ev(1L, 3L, 5000L)) // gap 4900s > 1800s → closes it
      query.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_es"),
          r.getAs[Long]("end_es"), r.getAs[Long]("n_events")))
      assert(got.toSeq == Seq((1L, 0L, 100L, 2L)))
    } finally query.stop()
  }

  test("streaming sessions equal a batch gap-fold on the same events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 3 users, interleaved; sentinel events far in the future flush every
    // user's last open session so the comparison is total
    val evs = Seq(
      Ev(1, 1, 0), Ev(2, 2, 50), Ev(1, 3, 1000), Ev(3, 4, 10),
      Ev(2, 5, 2500), Ev(1, 6, 3200), Ev(3, 7, 1900), Ev(2, 8, 2600),
      Ev(1, 9, 3300), Ev(3, 10, 4000))
    val sentinels = Seq(Ev(1, 98, 999999), Ev(2, 98, 999999), Ev(3, 98, 999999))

    // batch expectation: per-user chronological fold with the same gap rule
    val expected = evs.groupBy(_.user_id).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e.es, e.event_id))
      val sessions = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
        case (Nil, e) => List((e.es, e.es, 1L))
        case ((s0, e0, n) :: rest, e) if e.es - e0 > EventStream.sessionGapSeconds =>
          (e.es, e.es, 1L) :: (s0, e0, n) :: rest
        case ((s0, _, n) :: rest, e) => (s0, e.es, n + 1) :: rest
      }
      sessions.map { case (st, en, n) => (uid, st, en, n) }
    }.toSet

    val input = MemoryStream[Ev]
    val query = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    try {
      input.addData(evs.take(4)); query.processAllAvailable()
      input.addData(evs.drop(4)); query.processAllAvailable()
      input.addData(sentinels); query.processAllAvailable()
      val got = spark.table("sess_parity").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_es"),
          r.getAs[Long]("end_es"), r.getAs[Long]("n_events"))).toSet
      assert(got == expected)
    } finally query.stop()
  }

  test("sessionizeWithTimeout closes a quiet user's session via the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val input = MemoryStream[Ev]
    val watermarked = input.toDS()
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", "10 seconds")
      .as[Ev]
    val query = EventStream.sessionizeWithTimeout(watermarked)
      .writeStream.format("memory").queryName("sess_to").outputMode("append").start()
    try {
      // times offset from epoch 0 — a ts equal to the initial watermark
      // would be dropped as late
      input.addData(Ev(1L, 1L, 1000L), Ev(1L, 2L, 1100L))
      query.processAllAvailable()
      assert(spark.table("sess_to").count() == 0)
      // a DIFFERENT user's much-later event advances the watermark past
      // user 1's (end + gap) timeout; the next batch fires the timeout
      input.addData(Ev(2L, 3L, 20000L))
      query.processAllAvailable()
      input.addData(Ev(2L, 4L, 20001L))
      query.processAllAvailable()
      val got = spark.table("sess_to").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_es"),
          r.getAs[Long]("end_es"), r.getAs[Long]("n_events")))
      assert(got.toSeq.contains((1L, 1000L, 1100L, 2L)))
    } finally query.stop()
  }

  test("dedupStream keeps first arrival per fingerprint within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long)]
    val query = EventStream.dedupStream(input.toDS().toDF("fp", "es"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(("a", 100L), ("a", 150L), ("b", 120L))
      query.processAllAvailable()
      input.addData(("a", 200L), ("c", 210L)) // replay of a within watermark
      query.processAllAvailable()
      val got = spark.table("dedup").collect().map(_.getAs[String]("fp"))
      assert(got.sorted.toSeq == Seq("a", "b", "c")) // one survivor per fp
    } finally query.stop()
  }

  test("packStream assignments aggregate to the batch q78 packing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{PackAssign, PackDoc}
    // same corpus through both paths: ids 0-3 (shard 0) and 260 (shard 1)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val tokenCounts = Seq(0L -> 100, 1L -> 100, 2L -> 100, 3L -> 50, 260L -> 30)
    val dir = writeMiniDocs(tokenCounts.map { case (id, n) => (id, words(n)) })
    val batch = graft.ops.Curation.q78_seq_packing(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("shard"), r.getAs[Long]("seq_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"), r.getAs[Long]("first_doc")))
      .toMap
    val input = MemoryStream[PackDoc]
    val query = EventStream.packStream(input.toDS())
      .writeStream.format("memory").queryName("pack").outputMode("append").start()
    try {
      // two micro-batches, in doc_id order per shard (the ingest contract)
      input.addData(PackDoc("en", 0L, 0L, 100L), PackDoc("en", 0L, 1L, 100L),
        PackDoc("en", 1L, 260L, 30L))
      query.processAllAvailable()
      input.addData(PackDoc("en", 0L, 2L, 100L), PackDoc("en", 0L, 3L, 50L))
      query.processAllAvailable()
      val assigns = spark.table("pack").as[PackAssign].collect()
      val tok = tokenCounts.toMap
      val streamed = assigns.groupBy(a => (a.lang, a.shard, a.seq_id))
        .map { case (k, as) =>
          k -> (as.length.toLong, as.map(a => tok(a.doc_id).toLong).sum, as.map(_.doc_id).min)
        }
      assert(streamed == batch)
    } finally query.stop()
  }

  test("curateStream computes the batch scrub columns identically on a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "Contact  me at JOHN.doe@example.com  or 10.0.0.1 via Spark"),
      (1L, "plain text with no sensitive content"),
      (2L, "spark spark sparkly 999.999.999.999"))
    val input = MemoryStream[(Long, String)]
    val query = EventStream.curateStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate").outputMode("append").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("curate").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"),
          r.getAs[String]("scrub_md5"), r.getAs[Long]("n_tokens"))).sortBy(_._1)
      val batch = EventStream.curateStream(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"),
          r.getAs[String]("scrub_md5"), r.getAs[Long]("n_tokens"))).sortBy(_._1)
      assert(got.toSeq == batch.toSeq)
      assert(got(0)._2 == 3L) // email + ip + term all redacted on the stream
      assert(got(2)._2 == 3L) // two terms + the ip (each octet ≤ 3 digits)
    } finally query.stop()
  }

  test("piiScrubStream redacts in-flight with the batch expressions; residual is zero per row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "srcA", "reach me at jane.doe@corp.io thanks"),
      (1L, "srcA", "call +1-555-12345 or +1-555-9 today"),
      (2L, "srcB", "nothing sensitive here"))
    val input = MemoryStream[(Long, String, String)]
    val query = EventStream
      .piiScrubStream(input.toDS().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("piis").outputMode("append").start()
    try {
      input.addData(docs.take(2): _*); query.processAllAvailable()
      input.addData(docs.drop(2): _*); query.processAllAvailable()
      val got = spark.table("piis").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_email"),
          r.getAs[Long]("n_phone"), r.getAs[String]("red"),
          r.getAs[Long]("residual"))).sortBy(_._1)
      val batch = EventStream.piiScrubStream(docs.toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_email"),
          r.getAs[Long]("n_phone"), r.getAs[String]("red"),
          r.getAs[Long]("residual"))).sortBy(_._1)
      assert(got.toSeq == batch.toSeq)
      assert(got(0)._2 == 1L && got(0)._4.contains("[EMAIL]"))
      assert(got(1)._3 == 2L && got(1)._4.contains("[PHONE]"))
      assert(got.forall(_._5 == 0L), "redaction must leave zero residual per row")
    } finally query.stop()
  }

  test("repetitionStream flags the same docs as gated q266 arithmetic") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a"),    // 4 bigrams, 2 distinct → 5000 bp, flagged
      (1L, "x y z w"),      // clean
      (2L, "solo"))         // no bigrams → NULLs
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .repetitionStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("reps").outputMode("append").start()
    try {
      input.addData(docs: _*); query.processAllAvailable()
      val got = spark.table("reps").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          Option(r.get(r.fieldIndex("dup_bp"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("flagged"))).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toSeq
      assert(got == Seq((0L, Some(5000L), Some(1L)), (1L, Some(0L), Some(0L)),
        (2L, None, None)))
    } finally query.stop()
  }

  test("curateStream quarantines exactly the rows the batch A18 grammar rejects") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      // passes: has "table <w>" and ≥ 10 tokens
      (0L, "table alpha holds one two three four five six seven"),
      // fails: no "table <w>" match
      (1L, "this text has plenty of tokens but mentions no marker anywhere"),
      // fails: "table <w>" present but < 10 tokens
      (2L, "table beta short"))
    val input = MemoryStream[(Long, String)]
    val query = EventStream.curateStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_q").outputMode("append").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_q").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("quarantined")).toMap
      // no silent drops: every input row reaches the sink, flagged
      assert(streamed == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
      // parity: the same plan in batch mode flags the same rows
      val batch = EventStream.curateStream(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("quarantined")).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("incrementalDedupStream classifies against the static base index across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Seq("fpA", "fpB").toDF("fp") // the nightly-built index snapshot
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .incrementalDedupStream(input.toDS().toDF("doc_id", "fp"), base)
      .writeStream.format("memory").queryName("incdedup").outputMode("append").start()
    try {
      input.addData((10L, "fpA"), (11L, "fpC"))
      query.processAllAvailable()
      // a later micro-batch re-joins the SAME snapshot — stream-static
      input.addData((12L, "fpB"), (13L, "fpC"))
      query.processAllAvailable()
      val got = spark.table("incdedup").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      assert(got == Map(
        10L -> "dup_of_base", 11L -> "new",
        12L -> "dup_of_base", 13L -> "new")) // fpC stays new: replays are dedupStream's job
    } finally query.stop()
  }

  test("streaming near-dup probe + foreachBatch verify equals batch q89 on the same split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{Dedup, TextCore}
    import org.apache.spark.sql.functions.{col, size}
    val sfDir = "/root/testdata/sf0.001"
    val bucket = TextCore.idBucket(col("doc_id"))
    val stores = TextCore.docShingles(spark, sfDir)
      .select(col("doc_id"), col("shingles"),
        size(col("shingles")).cast("long").as("n_sh"))
    val baseBands = Dedup.baseBandIndex(spark, sfDir)
    // the incoming split arrives as RAW TEXT over two micro-batches —
    // shingling/banding happens in-stream
    val arrivals = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(bucket >= 50).select("doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val (first, second) = arrivals.splitAt(arrivals.length / 2)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long], Option[Double], Long)]
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .neardupProbeStream(input.toDS().toDF("doc_id", "text"), baseBands)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= EventStream.neardupReportBatch(b, stores, stores).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_base_matches"),
            Option(r.getAs[java.lang.Long]("best_base_id")).map(_.longValue),
            Option(r.getAs[java.lang.Double]("best_jaccard")).map(_.doubleValue),
            r.getAs[Long]("near_dup")))
        ()
      }.start()
    try {
      input.addData(first.toIndexedSeq)
      query.processAllAvailable()
      input.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()
    val batch = Dedup.q89_incremental_neardup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_base_matches"),
        Option(r.getAs[java.lang.Long]("best_base_id")).map(_.longValue),
        Option(r.getAs[java.lang.Double]("best_jaccard")).map(_.doubleValue),
        r.getAs[Long]("near_dup"))).toSet
    assert(results.nonEmpty && results.toSet == batch,
      s"stream/batch mismatch: stream ${results.size} rows, batch ${batch.size}")
    assert(batch.exists(_._5 == 1L), "split should contain at least one near-dup")
  }

  test("streaming span probe + foreachBatch report equals batch q105 on the same split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    // the nightly span index snapshot: q105's corpus-wide occ > 1 table
    val dupHashes = Dedup.spanDupHashes(spark, sfDir).localCheckpoint(true)
    // the whole corpus arrives as RAW TEXT over two micro-batches —
    // window hashing happens in-stream; each doc arrives whole, so its
    // per-doc report is complete within its own micro-batch
    val arrivals = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val (first, second) = arrivals.splitAt(arrivals.length / 2)
    type Rep = (Long, Long, Long, Long, Long, Double)
    def repOf(r: org.apache.spark.sql.Row): Rep =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("tokens_removed"), r.getAs[Double]("frac_removed"))
    val results = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .spanProbeStream(input.toDS().toDF("doc_id", "text"), dupHashes)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= EventStream.spanReportBatch(b).collect().map(repOf)
        ()
      }.start()
    try {
      input.addData(first.toIndexedSeq)
      query.processAllAvailable()
      input.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()
    val batch = Dedup.q105_span_dedup(spark, sfDir).collect().map(repOf).toSet
    assert(results.nonEmpty && results.toSet == batch,
      s"stream/batch mismatch: stream ${results.size} rows, batch ${batch.size}")
  }

  test("parquetBatchSink is idempotent under micro-batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = EventStream.parquetBatchSink(path)
    val input = MemoryStream[(Long, String)]
    val query = input.toDS().toDF("doc_id", "fp")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      input.addData((3L, "c"))
      query.processAllAvailable()
      val afterRun = spark.read.parquet(path).count()
      assert(afterRun == 3L)
      // at-least-once replay: the sink re-receives batch 0 with the same
      // content after a simulated sink-side failure — same directory is
      // overwritten, no duplicate rows appear
      sink(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "fp"), 0L)
      assert(spark.read.parquet(path).count() == 3L)
      assert(spark.read.parquet(path).select("doc_id").as[Long].collect().sorted
        .toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("funnelStream: out-of-order ingest converges to batch q73 staging") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val b1 = Seq(FunnelEv(1L, "view", 10), FunnelEv(1L, "click", 20),
      FunnelEv(2L, "click", 5), FunnelEv(3L, "view", 10))
    // batch 2 carries the LATE data: user 1's earlier click (t_click drops
    // to 5 ≤ t_view → the stage must REGRESS from 2 to 1, the first-times
    // state re-evaluating the chain), user 2's view (click stays before
    // view → still stage 1), user 3 completing, user 4 purchase-only
    val b2 = Seq(FunnelEv(1L, "click", 5), FunnelEv(2L, "view", 10),
      FunnelEv(3L, "click", 15), FunnelEv(3L, "purchase", 30),
      FunnelEv(4L, "purchase", 7),
      // user 9 only ever scrolls: no state entry, no row — funnel state
      // must grow with participants, not with every user who ever
      // produced any event
      FunnelEv(9L, "scroll", 99))
    val input = MemoryStream[FunnelEv]
    val query = EventStream.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode("update").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      val after1 = spark.table("funnel").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("stage"))
      assert(after1.toMap == Map(1L -> 2L, 2L -> 0L, 3L -> 1L))
      input.addData(b2: _*); query.processAllAvailable()
      val delta = {
        val all = spark.table("funnel").collect()
          .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("stage")).toSeq
        all.diff(after1.toSeq).toMap
      }
      assert(!delta.contains(9L)) // the scroll-only user emitted nothing
      // batch semantics over ALL events (q73's conditional-min staging)
      def firstEs(t: String) = min(when(col("event_type") === t, col("es")))
      val expected = (b1 ++ b2).filter(_.event_type != "scroll")
        .toDF("user_id", "event_type", "es")
        .groupBy("user_id").agg(firstEs("view").as("tv"),
          firstEs("click").as("tc"), firstEs("purchase").as("tp"))
        .select(col("user_id"),
          when(col("tv").isNotNull && col("tc") > col("tv") && col("tp") > col("tc"), 3L)
            .when(col("tv").isNotNull && col("tc") > col("tv"), 2L)
            .when(col("tv").isNotNull, 1L).otherwise(0L).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(delta == expected)
      assert(expected == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 0L))
    } finally query.stop()
  }

  test("abStatusStream snapshot equals the batch q198 user stage across out-of-order batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def purchases(uid: Long, n: Int, from: Long) =
      (0 until n).map(i => FunnelEv(uid, "purchase", from + i))
    // user 1 crosses the 14-purchase threshold only after batch 2;
    // user 4 converts inside batch 1; user 2 stalls at 13 forever;
    // user 3 never purchases but IS a participant (denominator row)
    val b1 = purchases(1L, 10, 100) ++ purchases(2L, 13, 100) ++
      Seq(FunnelEv(3L, "view", 50)) ++ purchases(4L, 14, 100)
    val b2 = purchases(1L, 10, 500) ++ Seq(FunnelEv(3L, "click", 600))
    val input = MemoryStream[FunnelEv]
    val query = EventStream.abStatusStream(input.toDS().toDF())
      .writeStream.format("memory").queryName("ab").outputMode("update").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      val after1 = spark.table("ab").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("arm"), r.getAs[Long]("conv"))).toSeq
      assert(after1.toMap.view.mapValues(_._2).toMap ==
        Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
      input.addData(b2: _*); query.processAllAvailable()
      val delta = spark.table("ab").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("arm"), r.getAs[Long]("conv"))).toSeq
        .diff(after1)
      // only touched users re-emit; user 1's cumulative count crossed
      assert(delta.toMap.keySet == Set(1L, 3L))
      val snapshot = after1.toMap ++ delta.toMap
      // the batch user stage on ALL events — one shared definition
      val batch = graft.ops.Events.abUsers(
        (b1 ++ b2).toDF("user_id", "event_type", "es"))
        .collect().map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("arm"), r.getAs[Long]("conv"))).toMap
      assert(snapshot == batch)
      assert(snapshot(1L)._2 == 1L && snapshot(2L)._2 == 0L)
    } finally query.stop()
  }

  test("funnelStreamWithTimeout emits the final verdict and clears expired state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[FunnelEv]
    val watermarked = input.toDS()
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", "10 seconds")
      .as[FunnelEv]
    val query = EventStream.funnelStreamWithTimeout(watermarked, attributionSeconds = 100L)
      .writeStream.format("memory").queryName("funnel_to").outputMode("append").start()
    try {
      // user 1 converts fully inside the window; nothing emits while the
      // attribution clock runs
      input.addData(FunnelEv(1L, "view", 1000L), FunnelEv(1L, "click", 1010L),
        FunnelEv(1L, "purchase", 1020L))
      query.processAllAvailable()
      assert(spark.table("funnel_to").count() == 0)
      // another user's much-later activity advances the watermark past
      // user 1's (last activity + attribution) — the verdict fires once.
      // The scroll event for user 1 lands in the very batch the timeout
      // would fire: a NON-funnel event must not re-arm the timeout from
      // the stale lastEs (setTimeoutTimestamp below the watermark throws
      // and kills the query — the regression this line guards)
      input.addData(FunnelEv(2L, "view", 20000L)); query.processAllAvailable()
      input.addData(FunnelEv(1L, "scroll", 20005L), FunnelEv(2L, "click", 20001L))
      query.processAllAvailable()
      input.addData(FunnelEv(2L, "view", 20010L)); query.processAllAvailable()
      val got = spark.table("funnel_to").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("stage"))
      assert(got.toSeq == Seq(1L -> 3L)) // final stage, exactly once; state gone
    } finally query.stop()
  }

  test("cdcApplySink merges feed micro-batches as versions; replay skips via the txn ledger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_cdc_stream").toString
    val v1 = StarBuilder.writeTableVersioned(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"), wh, "t")
    // feed rows in tableDiff shape: (k, change_type, old_x, new_x)
    val b1 = Seq((1L, "delete", Option(10.0), Option.empty[Double]),
      (2L, "update", Option(20.0), Option(21.0)))
    val b2 = Seq((4L, "insert", Option.empty[Double], Option(40.0)))
    val sink = EventStream.cdcApplySink(wh, "t", Seq("k"))
    val input = MemoryStream[(Long, String, Option[Double], Option[Double])]
    val query = input.toDS().toDF("k", "change_type", "old_x", "new_x")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    def latest() = StarBuilder.readAt(spark, wh, "t", None).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("x")).toMap
    try {
      input.addData(b1: _*); query.processAllAvailable()
      assert(latest() == Map(2L -> 21.0, 3L -> 30.0))
      input.addData(b2: _*); query.processAllAvailable()
      assert(latest() == Map(2L -> 21.0, 3L -> 30.0, 4L -> 40.0))
      // each batch committed one version; v1 stays pinned-readable
      assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 3L))
      assert(StarBuilder.readAt(spark, wh, "t", Some(v1)).count() == 3L)
      // at-least-once replay of batch 1 after a simulated sink failure:
      // its txn ledger marker exists, so the sink SKIPS — no duplicate
      // version, state untouched (commit-level exactly-once)
      sink(b2.toDF("k", "change_type", "old_x", "new_x"), 1L)
      assert(latest() == Map(2L -> 21.0, 3L -> 30.0, 4L -> 40.0))
      assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 3L))
      // the ledger recorded which version batch 1 produced
      assert(SnapshotLog.txnVersion(wh, "t", 1L).contains(3L))
      // an empty tick commits nothing
      sink(b2.take(0).toDF("k", "change_type", "old_x", "new_x"), 2L)
      assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 3L))
      // a NEW batch id with identical content is a different transaction
      // — the ledger keys on (stream, batch), never content, so it
      // commits (content-idempotent: the table state cannot change)
      sink(b2.toDF("k", "change_type", "old_x", "new_x"), 5L)
      assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 3L, 4L))
      assert(latest() == Map(2L -> 21.0, 3L -> 30.0, 4L -> 40.0))
      // two changes for one key in a single batch have no defined order:
      // the sink must refuse rather than commit a duplicate-key version
      val dup = Seq(
        (7L, "insert", Option.empty[Double], Option(70.0)),
        (7L, "update", Option(70.0), Option(71.0)))
      intercept[IllegalArgumentException] {
        sink(dup.toDF("k", "change_type", "old_x", "new_x"), 3L)
      }
      assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 3L, 4L))
      // the refused batch left no ledger marker: a corrected retry of
      // the SAME batch id applies rather than being skipped
      assert(SnapshotLog.txnVersion(wh, "t", 3L).isEmpty)
    } finally query.stop()
  }

  test("attributionStream matches purchases to in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, Long)]    // (user_id, event_id, es)
    val purchases = MemoryStream[(Long, Long, Long)]
    val query = EventStream.attributionStream(
        clicks.toDS().toDF("user_id", "event_id", "es"),
        purchases.toDS().toDF("user_id", "event_id", "es"))
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      clicks.addData((1L, 10L, 1000L), (2L, 11L, 1000L))
      purchases.addData((1L, 20L, 1500L), // 500s after user 1's click → match
        (2L, 21L, 1000L + EventStream.sessionGapSeconds + 1)) // outside window
      query.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
      assert(got.toSeq == Seq((20L, 10L)))
    } finally query.stop()
  }

  test("attributionStream equals the batch range-join on the same events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clickRows = Seq((1L, 10L, 1000L), (1L, 11L, 1200L), (2L, 12L, 500L), (3L, 13L, 9000L))
    val purchRows = Seq((1L, 20L, 1500L), (2L, 21L, 5000L), (3L, 22L, 9100L))

    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    val query = EventStream.attributionStream(
        clicks.toDS().toDF("user_id", "event_id", "es"),
        purchases.toDS().toDF("user_id", "event_id", "es"))
      .writeStream.format("memory").queryName("attr_parity").outputMode("append").start()
    try {
      clicks.addData(clickRows); purchases.addData(purchRows)
      query.processAllAvailable()
      val got = spark.table("attr_parity").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet

      // batch twin: same inner join, same window, no streaming machinery
      val bc = clickRows.toDF("c_user", "click_id", "c_es")
      val bp = purchRows.toDF("user_id", "purchase_id", "p_es")
      val want = bp.join(bc, col("user_id") === col("c_user") &&
          col("c_es") <= col("p_es") &&
          col("c_es") >= col("p_es") - EventStream.sessionGapSeconds)
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && want.nonEmpty)
    } finally query.stop()
  }

  test("checkpointed restart resumes session state without loss or duplication") {
    import spark.implicits._
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("graft_sin").toString
    val outDir = Files.createTempDirectory("graft_sout").toString
    val chkDir = Files.createTempDirectory("graft_schk").toString
    val schema = org.apache.spark.sql.Encoders.product[Ev].schema

    def startQuery() = EventStream.sessionize(
        spark.readStream.schema(schema).parquet(inDir).as[Ev])
      .writeStream.format("parquet")
      .option("checkpointLocation", chkDir)
      .option("path", outDir)
      .outputMode("append")
      .start()

    // batch 1: open a session for user 1, then kill the query
    Seq(Ev(1L, 1L, 0L), Ev(1L, 2L, 100L)).toDS()
      .write.mode("append").parquet(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2 after restart: a late event must close the session opened
    // BEFORE the restart — the open-session state lives in the checkpoint
    Seq(Ev(1L, 3L, 5000L)).toDS().write.mode("append").parquet(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.schema(org.apache.spark.sql.Encoders.product[Session].schema)
      .parquet(outDir).as[Session].collect()
    assert(got.toSeq == Seq(Session(1L, 0L, 100L, 2L))) // exactly once, spans restart
  }

  test("packStream resumes the token counter across a checkpointed restart") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.{PackAssign, PackDoc}
    val inDir = Files.createTempDirectory("graft_pin").toString
    val outDir = Files.createTempDirectory("graft_pout").toString
    val chkDir = Files.createTempDirectory("graft_pchk").toString
    val schema = org.apache.spark.sql.Encoders.product[PackDoc].schema

    def startQuery() = EventStream.packStream(
        spark.readStream.schema(schema).parquet(inDir).as[PackDoc])
      .writeStream.format("parquet")
      .option("checkpointLocation", chkDir)
      .option("path", outDir)
      .outputMode("append")
      .start()

    // batch 1 fills 200 of the 256-token sequence 0, then the query dies
    Seq(PackDoc("en", 0L, 1L, 200L)).toDS().write.mode("append").parquet(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2 after restart: doc 2 starts at offset 200 (< 256 → seq 0),
    // doc 3 at offset 300 (→ seq 1) — both depend on the checkpointed
    // counter surviving the restart; a reset counter would emit seq 0/0
    Seq(PackDoc("en", 0L, 2L, 100L), PackDoc("en", 0L, 3L, 50L)).toDS()
      .write.mode("append").parquet(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read
      .schema(org.apache.spark.sql.Encoders.product[PackAssign].schema)
      .parquet(outDir).as[PackAssign].collect().sortBy(_.doc_id)
    assert(got.map(a => a.doc_id -> a.seq_id).toSeq ==
      Seq(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("windowedCounts emits a window once the watermark passes it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val query = EventStream.windowedCounts(input.toDS().toDF("es", "event_type"))
      .writeStream.format("memory").queryName("winc").outputMode("append").start()
    try {
      input.addData((100L, "click"), (200L, "click"))
      query.processAllAvailable()
      input.addData((7300L, "view")) // advances watermark past hour 0
      query.processAllAvailable()
      input.addData((7400L, "view")) // next batch flushes the closed window
      query.processAllAvailable()
      val got = spark.table("winc").collect()
        .map(r => (r.getAs[Long]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events")))
      assert(got.toSeq.contains((0L, "click", 2L)))
    } finally query.stop()
  }

  test("dailyCountsStream: bounded lateness absorbed, beyond-watermark rows dropped observably, feed is day-ordered-complete") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .dailyCountsStream(input.toDS().toDF("es", "event_type"), lateness = "1 hour")
      .writeStream.format("memory").queryName("dailyc").outputMode("append").start()
    try {
      // day 0 traffic, out of ORDER within the lateness bound
      input.addData((200L, "click"), (100L, "click")); query.processAllAvailable()
      input.addData((86000L, "click")); query.processAllAvailable() // late-ish, still day 0, on time
      // day 1 traffic advances the watermark past day 0's end (86400):
      // watermark = 93000 - 3600 > 86400
      input.addData((93000L, "view")); query.processAllAvailable()
      // a BEYOND-WATERMARK straggler for day 0: must not change any
      // emitted count — dropped, and the drop is observable in metrics
      input.addData((50L, "click"), (94000L, "view")); query.processAllAvailable()
      input.addData((95000L, "view")); query.processAllAvailable()
      val got = spark.table("dailyc").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
          r.getAs[Long]("cnt")).toMap
      // day 0 click count is the ON-TIME set (3), not 4: the straggler
      // was dropped; batch parity over exactly the on-time rows
      assert(got((("click"), 0L)) == 3L, s"got $got")
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark row must be counted as dropped")
      // emitted rows satisfy the daily-fold twins' ingest contract by
      // construction: per key, strictly increasing day (complete-per-day
      // is what append-on-watermark means)
      val perKey = spark.table("dailyc").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
      perKey.foreach { case (k, days) =>
        assert(days == days.sorted && days.distinct == days, s"$k: $days") }
    } finally query.stop()
  }

  test("driftCellsStream: emitted cells fold to the exact batch drift table; beyond-watermark row dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Events
    val split = Events.driftSplitEs
    val splitDay = Events.driftSplitDay
    // five on-time click rows straddling the epoch split: epoch 0 gets
    // values 10.00 (bucket 0) and 40.00 (bucket 1); epoch 1 gets 10.00,
    // 5.00 (bucket 0) and 600.00 (60000c div 3200 = 18, capped to 15)
    val input = MemoryStream[(Long, Double, String)]
    val query = EventStream
      .driftCellsStream(input.toDS().toDF("es", "value", "event_type"), lateness = "1 hour")
      .writeStream.format("memory").queryName("driftc").outputMode("append").start()
    try {
      input.addData((split - 86400 + 100L, 10.0, "click"),
        (split - 86400 + 200L, 40.0, "click")); query.processAllAvailable()
      input.addData((split + 100L, 10.0, "click"),
        (split + 200L, 600.0, "click")); query.processAllAvailable()
      // advances the watermark past the epoch-0 day's end (split)
      input.addData((split + 7200L, 5.0, "click")); query.processAllAvailable()
      // a BEYOND-WATERMARK straggler into the closed epoch-0 day: must
      // change no emitted cell, observably dropped
      input.addData((split - 86400 + 300L, 10.0, "click")); query.processAllAvailable()
      // next-day rows advance the watermark past the epoch-1 click day
      input.addData((split + 86400 + 7200L, 1.0, "view")); query.processAllAvailable()
      input.addData((split + 86400 + 9000L, 1.0, "view")); query.processAllAvailable()

      val cells = spark.table("driftc").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"),
          r.getAs[Long]("bucket"), r.getAs[Long]("cnt")))
      // the straggler is absent: epoch-0 bucket 0 stays at 1
      assert(cells.toSet == Set(
        ("click", splitDay - 1, 0L, 1L), ("click", splitDay - 1, 1L, 1L),
        ("click", splitDay, 0L, 2L), ("click", splitDay, 15L, 1L)), s"got ${cells.toSeq}")
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark row must be counted as dropped")

      // fold the EMITTED per-day cells through the foreachBatch report
      // helper (the shared epoch/table definitions) → must equal the
      // batch pipeline over the same on-time rows (one definition,
      // zero drift)
      val folded = EventStream.driftReportBatch(
        cells.toSeq.toDF("event_type", "day", "bucket", "cnt"))
      val batch = Events.driftFromEvents(Seq(
          (split - 86400 + 100L, 10.0, "click"), (split - 86400 + 200L, 40.0, "click"),
          (split + 100L, 10.0, "click"), (split + 200L, 600.0, "click"),
          (split + 7200L, 5.0, "click"))
        .toDF("es", "value", "event_type"))
      assert(folded.collect().toSeq == batch.collect().toSeq)
      // and the numbers themselves: Σ|pa−pb| = 1666+5000+3333 → 4999 bp
      val row = batch.collect().head
      assert((row.getAs[Long]("n_a"), row.getAs[Long]("n_b"),
        row.getAs[Long]("tv_bp"), row.getAs[Long]("drifted")) == (2L, 3L, 4999L, 1L))
    } finally query.stop()
  }

  test("dailyRegistersStream: cells equal the batch registers; report equals batch q236's serve; late row dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Events
    import org.apache.spark.sql.functions.col
    // users across three days (day 0, 1, 8): day 8's trailing window
    // must have aged out days 0-1. A bounded-late row (day 1 + 30 min
    // after a day-2 row) folds in; a beyond-watermark straggler into
    // day 0 is dropped.
    val input = MemoryStream[(Long, Long)]
    val query = EventStream
      .dailyRegistersStream(input.toDS().toDF("es", "user_id"), lateness = "1 hour")
      .writeStream.format("memory").queryName("dregs").outputMode("append").start()
    try {
      input.addData((100L, 1L), (200L, 2L), (300L, 1L)); query.processAllAvailable()
      input.addData((86400L + 100L, 3L)); query.processAllAvailable()
      // day-2 row advances the watermark past day 1's interior…
      input.addData((2 * 86400L + 1800L, 4L)); query.processAllAvailable()
      // …but day 1 is still inside the 1-hour lateness: this late row
      // must fold into day 1's register state before it closes
      input.addData((2 * 86400L - 600L, 5L)); query.processAllAvailable()
      // advance far enough to close days 1-2, then a beyond-watermark
      // straggler into day 0 — must change nothing, observably dropped
      input.addData((8 * 86400L + 100L, 6L)); query.processAllAvailable()
      input.addData((400L, 9L)); query.processAllAvailable()
      input.addData((8 * 86400L + 9000L, 7L)); query.processAllAvailable()
      // day-10 rows advance the watermark past day 8's end so its
      // cells flush (day 10 itself stays open and emits nothing)
      input.addData((10 * 86400L + 7200L, 8L)); query.processAllAvailable()
      input.addData((10 * 86400L + 9000L, 8L)); query.processAllAvailable()

      val cells = spark.table("dregs").collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("b"), r.getAs[Long]("m")))
      // the on-time rows of the CLOSED days, replayed through the BATCH
      // register build (distinct pairs → max per cell — shared geometry)
      val onTime = Seq((0L, 1L), (0L, 2L), (0L, 1L), (1L, 3L), (2L, 4L),
        (1L, 5L), (8L, 6L), (8L, 7L))
      val batchRegs = onTime.toDF("day", "user_id")
        .select(col("day"), Events.hllUserBucket.as("b"), Events.hllUserRank.as("rnk"))
        .groupBy("day", "b").agg(org.apache.spark.sql.functions.max("rnk").as("m"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(cells.toSet == batchRegs.toSet,
        s"streamed cells must equal the batch register table: ${cells.toSeq}")
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark row must be counted as dropped")

      // the foreachBatch report over the emitted cells = batch q236's
      // serve over the same pairs (shared tail, literally)
      val report = EventStream.rollingActivesReportBatch(
        cells.toSeq.toDF("day", "b", "m")).collect()
        .map(r => r.getAs[Long]("day") -> r.getAs[Double]("est_7d")).toMap
      val batchServe = Events.rollingRegEst(
          onTime.toDF("day", "user_id").distinct())
        .select(col("day"), graft.etl.Star.round2(col("est")).as("est_7d"))
        .collect().map(r => r.getAs[Long]("day") -> r.getAs[Double]("est_7d")).toMap
      assert(report == batchServe, s"report $report vs batch $batchServe")
      // day 8's figure covers days 2-8 only: users {4, 6} — day-0/1
      // cohorts aged out, so its estimate differs from day 2's
      assert(report.keySet == Set(0L, 1L, 2L, 8L))
    } finally query.stop()
  }

  test("sessionWindowStream: late rows extend and MERGE sessions, emitted sessions equal batch q51's grain, boundary gap semantics pinned") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, count => cnt, min => sqlMin, max => sqlMax, lit => l}
    // users 1-4 exercise: late within-session row (u1), late row that
    // BRIDGES two provisional sessions into one (u2 — the correction no
    // O(1)-state fold can make), and both gap boundaries (u3 diff=1800
    // merges, u4 diff=1801 splits — the batch strict-> rule exactly)
    val onTime = Seq(
      (1L, 1L, 1000L), (1L, 2L, 1500L), (1L, 10L, 1200L),
      (2L, 3L, 1000L), (2L, 4L, 4000L), (2L, 6L, 2500L),
      (3L, 5L, 1000L), (3L, 8L, 2800L),
      (4L, 7L, 1000L), (4L, 9L, 2801L))
    val input = MemoryStream[Ev]
    val query = EventStream
      .sessionWindowStream(input.toDS().toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("sessw").outputMode("append").start()
    try {
      input.addData(Ev(1, 1, 1000), Ev(1, 2, 1500), Ev(2, 3, 1000),
        Ev(2, 4, 4000), Ev(3, 5, 1000), Ev(4, 7, 1000))
      query.processAllAvailable()
      // OUT-OF-ORDER arrivals inside the lateness bound: u2's bridge row,
      // the boundary rows, u1's mid-session row
      input.addData(Ev(2, 6, 2500), Ev(3, 8, 2800), Ev(4, 9, 2801), Ev(1, 10, 1200))
      query.processAllAvailable()
      // far-future traffic advances the watermark past every session close
      input.addData(Ev(9, 11, 100000)); query.processAllAvailable()
      input.addData(Ev(9, 12, 100001)); query.processAllAvailable()
      val emitted = spark.table("sessw").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_es"),
          r.getAs[Long]("end_es"), r.getAs[Long]("n_events")))
        .filter(_._1 <= 4L).toSet
      // batch parity: the gated q51 aggregation (shared withSessionIds
      // rule) over the same on-time rows
      val batch = graft.ops.Events.withSessionIds(
          onTime.toDF("user_id", "event_id", "es"))
        .groupBy("user_id", "session_id")
        .agg(cnt(l(1)).as("n_events"),
          sqlMin(c("es")).as("start_es"), sqlMax(c("es")).as("end_es"))
        .select("user_id", "start_es", "end_es", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(emitted == batch, s"stream $emitted vs batch $batch")
      // the interesting shapes actually happened: u2 is ONE merged
      // session spanning the bridge; u4 split at diff=1801
      assert(emitted.contains((2L, 1000L, 4000L, 3L)))
      assert(emitted.contains((3L, 1000L, 2800L, 2L)))
      assert(emitted.contains((4L, 1000L, 1000L, 1L)) && emitted.contains((4L, 2801L, 2801L, 1L)))
      // a beyond-watermark straggler changes nothing, observably dropped
      input.addData(Ev(1, 13, 1400)); query.processAllAvailable()
      val after = spark.table("sessw").collect().length
      assert(after == emitted.size, "beyond-watermark row must not add or reopen a session")
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark row must be counted as dropped")
    } finally query.stop()
  }

  test("dailyCountsStream → ewmaStream composes: the watermarked feed satisfies the fold contract and matches the batch recurrence") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DayCount
    // produce a 3-day feed through the watermark rung, then pipe the
    // EMITTED rows (in emission order) into the strict fold twin — the
    // end-to-end raw-events → daily-fold pipeline the r13 verdict said
    // had no legal producer
    val input = MemoryStream[(Long, String)]
    val daily = EventStream
      .dailyCountsStream(input.toDS().toDF("es", "event_type"), lateness = "1 hour")
    val q1 = daily.writeStream.format("memory").queryName("dailyc2")
      .outputMode("append").start()
    try {
      input.addData((100L, "click"), (200L, "click")); q1.processAllAvailable()
      input.addData((86500L, "click")); q1.processAllAvailable()          // day 1
      input.addData((2 * 86400L + 100L, "click")); q1.processAllAvailable() // day 2
      input.addData((3 * 86400L + 7200L, "click")); q1.processAllAvailable() // day 3 closes day 2
      input.addData((3 * 86400L + 9000L, "click")); q1.processAllAvailable()
      val emitted = spark.table("dailyc2").collect()
        .map(r => DayCount(r.getAs[String]("event_type"), r.getAs[Long]("day"),
          r.getAs[Long]("cnt"))).sortBy(_.day)
      assert(emitted.map(_.day).toSeq == Seq(0L, 1L, 2L), s"got ${emitted.toSeq}")
      val feed = MemoryStream[DayCount]
      val q2 = EventStream.ewmaStream(feed.toDS())
        .writeStream.format("memory").queryName("dailyc2_ewma")
        .outputMode("append").start()
      try {
        emitted.foreach { dc => feed.addData(dc); q2.processAllAvailable() }
        val pts = spark.table("dailyc2_ewma").collect()
          .map(r => r.getAs[Long]("day") -> r.getAs[Long]("ewma_s")).toMap
        // the batch recurrence over the same counts, replayed directly
        var e = emitted.head.cnt * graft.ops.Events.ewmaScale
        assert(pts(0L) == e)
        emitted.tail.foreach { dc =>
          e = graft.ops.Events.ewmaNext(e, dc.cnt)
          assert(pts(dc.day) == e, s"day ${dc.day}")
        }
      } finally q2.stop()
    } finally q1.stop()
  }

  test("windowedDistinctUsers: the streamed HLL estimate equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 3 distinct users across 5 click events in hour 0, split over two
    // micro-batches so the sketch state must MERGE across batches
    val b1 = Seq((100L, 1L, "click"), (200L, 2L, "click"), (300L, 1L, "click"))
    val b2 = Seq((400L, 3L, "click"), (500L, 2L, "click"))
    val input = MemoryStream[(Long, Long, String)]
    val query = EventStream
      .windowedDistinctUsers(input.toDS().toDF("es", "user_id", "event_type"))
      .writeStream.format("memory").queryName("winu").outputMode("append").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      input.addData((7300L, 9L, "view")); query.processAllAvailable()
      input.addData((7400L, 9L, "view")); query.processAllAvailable() // flush hour 0
      val got = spark.table("winu").collect()
        .map(r => (r.getAs[Long]("window_start"), r.getAs[String]("event_type")) ->
          r.getAs[Long]("hll_users")).toMap
      // same sketch, same rsd, same input → the BATCH estimate, exactly
      val batch = EventStream.windowedDistinctUsers(
          (b1 ++ b2).toDF("es", "user_id", "event_type"))
        .collect().map(r => (r.getAs[Long]("window_start"),
          r.getAs[String]("event_type")) -> r.getAs[Long]("hll_users")).toMap
      assert(got((0L, "click")) == batch((0L, "click")))
      assert(got((0L, "click")) == 3L) // and at this cardinality, exact
    } finally query.stop()
  }

  test("annSearchBatch serves micro-batches from the IVF index; a mid-stream erasure lands next batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    Similarity.writeIvfIndex(spark, sfDir, idx)
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    def batchSearch(ids: Seq[Long]): Seq[(Long, Long, Long)] =
      Similarity.ivfIndexSearch(spark, idx,
          queries.where(col("query_id").isin(ids: _*)), nprobe = 4, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"))).sorted.toSeq
    val arrivals = queries.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getSeq[Double](1)))
    val (first, second) = arrivals.splitAt(5)
    val expectedFirst = batchSearch(first.map(_._1).toSeq)
    // the victim: a neighbor the SECOND wave would be served pre-erasure
    val victim = batchSearch(second.map(_._1).toSeq).head._3
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, Seq[Double])]
    val query = input.toDS().toDF("query_id", "qv")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= EventStream.annSearchBatch(spark, idx)(b)
          .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("neighbor_id")))
        ()
      }.start()
    try {
      input.addData(first.toIndexedSeq: _*)
      query.processAllAvailable()
      assert(results.sorted.toSeq == expectedFirst) // stream ≡ batch, wave 1
      // erase MID-STREAM: the sidecar is honored on the very next
      // micro-batch — no rebuild, no restart
      Similarity.deleteIvfVectors(spark, idx, Seq(victim))
      val expectedSecond = batchSearch(second.map(_._1).toSeq)
      assert(!expectedSecond.exists(_._3 == victim))
      results.clear()
      input.addData(second.toIndexedSeq: _*)
      query.processAllAvailable()
      assert(results.sorted.toSeq == expectedSecond) // stream ≡ batch, wave 2
    } finally query.stop()
  }

  test("lexSearchBatch serves micro-batches from the postings index; a mid-stream append lands next batch") {
    // the BM25 twin of the annSearchBatch test, with the LSM twist:
    // instead of an erasure, a NEW CORPUS GENERATION appended mid-stream
    // must be served on the very next micro-batch (merge-on-read
    // freshness — no rebuild, no restart)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.Retrieval
    val dir = writeMiniDocs(
      (0L until 10L).map(i => i -> s"query q$i zebra topic$i") ++
        (10L until 30L).map(i => i -> s"corpus zebra doc w$i topic${i % 10}"))
    val idx = java.nio.file.Files.createTempDirectory("graft_lex_stream").toString
    // base index: docs < 20; doc 20+ arrives as the mid-stream append
    Retrieval.writeLexIndex(spark, dir, idx, col("doc_id") < 20)
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    def batchSearch(ids: Seq[Long]): Seq[(Long, Long, Long)] =
      Retrieval.lexIndexSearchText(spark, idx,
          queries.where(col("query_id").isin(ids: _*)))
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("lex_rank"),
          r.getAs[Long]("doc_id"))).sorted.toSeq
    val arrivals = queries.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("text")))
    val (first, second) = arrivals.splitAt(5)
    val expectedFirst = batchSearch(first.map(_._1).toSeq)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val query = input.toDS().toDF("query_id", "text")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= EventStream.lexSearchBatch(spark, idx)(b)
          .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("lex_rank"),
            r.getAs[Long]("doc_id")))
        ()
      }.start()
    try {
      input.addData(first.toIndexedSeq: _*)
      query.processAllAvailable()
      assert(results.sorted.toSeq == expectedFirst) // stream ≡ batch, wave 1
      // APPEND mid-stream: generation 1 (docs 20+) is served next batch
      Retrieval.appendLexIndex(spark, dir, idx, col("doc_id") >= 20)
      val expectedSecond = batchSearch(second.map(_._1).toSeq)
      // the appended docs really are reachable (they share the corpus terms)
      assert(expectedSecond.exists(_._3 >= 20L))
      results.clear()
      input.addData(second.toIndexedSeq: _*)
      query.processAllAvailable()
      assert(results.sorted.toSeq == expectedSecond) // stream ≡ batch, wave 2
    } finally query.stop()
  }

  test("hybridSearchBatch: streamed fusion over both persisted indexes equals gated q160") {
    // the strongest streaming-parity claim in the retrieval family:
    // free-text + vector queries served per micro-batch from the two
    // FILE artifacts (term-bucket-pruned postings, probe-pruned IVF)
    // through the shared rrfFuse must reproduce the gated q160 rows
    // exactly on corpus queries
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.{Retrieval, Similarity}
    val sfDir = "/root/testdata/sf0.001"
    val lexIdx = java.nio.file.Files.createTempDirectory("graft_hy_lex").toString
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft_hy_ivf").toString
    Retrieval.writeLexIndex(spark, sfDir, lexIdx)
    Similarity.writeIvfIndex(spark, sfDir, ivfIdx)
    val expected = Retrieval.q160_hybrid_bm25_rrf(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("rrf_score"))).sorted.toSeq
    val queries = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .where(col("vec_id") < 10)
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("qv")), "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getSeq[Double](2)))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val input = MemoryStream[(Long, String, Seq[Double])]
    val query = input.toDS().toDF("query_id", "text", "qv")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= EventStream.hybridSearchBatch(spark, lexIdx, ivfIdx)(b)
          .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("rrf_score")))
        ()
      }.start()
    try {
      // two waves — fusion is per-query, so split arrivals must not matter
      val (a, b) = queries.splitAt(4)
      input.addData(a.toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(b.toIndexedSeq: _*)
      query.processAllAvailable()
      assert(results.sorted.toSeq == expected)
    } finally query.stop()
  }

  test("spanProbeStream decontaminates in-flight: eval-hash static side flags a planted leak") {
    // q157's flag source (the eval split's window hashes) IS a valid
    // static side for the existing span probe — decontamination at
    // ingest is pure reuse, pinned here: a document arriving with a
    // leaked eval 8-gram is flagged at exactly the leak's offsets, a
    // clean arrival produces no row
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val leak = (1 to 8).map(i => s"leak$i").mkString(" ")
    val evalDir = writeMiniDocs(Seq((0L, s"$leak tail1 tail2")))
    val evalHashes = graft.ops.Dedup.spanWindowsOf(
        spark.read.parquet(s"$evalDir/documents.parquet")
          .select(col("doc_id"),
            graft.ops.TextCore.wordsCol(
              graft.ops.TextCore.normCol(col("text"))).as("words")))
      .select("h").distinct().localCheckpoint(true)
    val input = MemoryStream[(Long, String)]
    val query = EventStream.spanProbeStream(input.toDS().toDF("doc_id", "text"), evalHashes)
      .writeStream.format("memory").queryName("decon_probe").outputMode("append").start()
    try {
      val pre = (1 to 4).map(i => s"pre$i").mkString(" ")
      input.addData((10L, s"$pre $leak more1 more2"),
        (11L, (1 to 12).map(i => s"clean$i").mkString(" ")))
      query.processAllAvailable()
      val got = spark.table("decon_probe").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start"))).sorted
      // doc 10: 14 tokens, leak at positions 5..12 → only window start 5
      // hashes to a full leak 8-gram
      assert(got.toSeq == Seq((10L, 5L)))
    } finally query.stop()
  }

  test("weightedSampleStream: final snapshots equal gated q165 on a split ingest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit}
    // the exact q165 weight derivation on the real corpus, streamed in
    // two waves: bottom-k by a deterministic total order is
    // order-insensitive, so the final per-lang snapshot must equal the
    // gated batch sample row for row
    val d = "/root/testdata/sf0.001"
    val weighted = graft.ops.TextStats.withQuality(
        graft.ops.TextCore.docShingles(spark, d))
      .select(col("lang"), col("doc_id"),
        (lit(1L) + floor(col("score") * 3.0).cast("long")).as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (wave1, wave2) = weighted.sortBy(_._2).splitAt(weighted.length / 2)
    val input = MemoryStream[(String, Long, Long)]
    val query = EventStream.weightedSampleStream(
        input.toDS().toDF("lang", "doc_id", "w")).writeStream
      .format("memory").queryName("wsample").outputMode("append").start()
    try {
      input.addData(wave1.toSeq: _*)
      query.processAllAvailable()
      input.addData(wave2.toSeq: _*)
      query.processAllAvailable()
      val rows = spark.table("wsample").collect()
      val latest = rows.groupBy(_.getAs[String]("lang")).toSeq.flatMap {
        case (_, rs) =>
          val maxUpd = rs.map(_.getAs[Long]("upd")).max
          rs.filter(_.getAs[Long]("upd") == maxUpd).toSeq
      }
      val got = latest.map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("w"), r.getAs[Long]("skey"))).toSet
      val batch = graft.ops.Curation.q165_weighted_sample(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == batch, s"streamed final sample != gated q165")
    } finally query.stop()
  }

  test("weightedSampleStream: a re-weighted doc holds ONE slot with its best key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // doc 1 arrives at w=1, then again at w=4 (the weightedDrawKey
    // monotone re-weighting scenario): the state must collapse per
    // doc_id — one rank, the min key — never occupy two slots
    val input = MemoryStream[(String, Long, Long)]
    val query = EventStream.weightedSampleStream(
        input.toDS().toDF("lang", "doc_id", "w"), k = 5).writeStream
      .format("memory").queryName("wsample_rw").outputMode("append").start()
    try {
      input.addData(("en", 1L, 1L), ("en", 2L, 1L), ("en", 3L, 1L))
      query.processAllAvailable()
      input.addData(("en", 1L, 4L))
      query.processAllAvailable()
      val rows = spark.table("wsample_rw").collect()
      val maxUpd = rows.map(_.getAs[Long]("upd")).max
      val fin = rows.filter(_.getAs[Long]("upd") == maxUpd)
      assert(fin.length == 3, s"3 docs -> 3 slots, got ${fin.length}")
      val doc1 = fin.filter(_.getAs[Long]("doc_id") == 1L)
      assert(doc1.length == 1, "re-weighted doc must hold exactly one slot")
      val expect = (0L until 4L).map { j =>
        java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
          .digest(s"1:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(8), 16)
      }.min
      assert(doc1.head.getAs[Long]("skey") == expect,
        "the surviving slot must carry the min over all 4 draws")
    } finally query.stop()
  }

  test("histCellsStream: streamed histogram cells equal the batch cells after every batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // token counts spread across several 16-token buckets; two ingest
    // waves prove cross-micro-batch counter merging (the q168 merge law
    // live: state is the <= 64 cells, complete mode serves the prefix)
    val docs = (0 until 30).map(i =>
      (i.toLong, (0 until (5 + (i * 7) % 120)).map(j => s"t$j").mkString(" ")))
    def batchCells(upTo: Int): Set[(Long, Long)] =
      graft.ops.TextStats.histCells(docs.take(upTo).toDF("doc_id", "text")
          .select(col("doc_id"), graft.ops.TextCore.wordsCol(
            graft.ops.TextCore.normCol(col("text"))).as("words")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[(Long, String)]
    val query = EventStream.histCellsStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("hist_cells")
      .outputMode("complete").start()
    try {
      def got() = spark.table("hist_cells").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      input.addData(docs.take(15): _*)
      query.processAllAvailable()
      assert(got() == batchCells(15))
      input.addData(docs.drop(15): _*)
      query.processAllAvailable()
      assert(got() == batchCells(30))
    } finally query.stop()
  }

  test("engagementCellsStream: retractions fold to the batch histogram; served report = gated q302 tail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // 12 users with skewed activity (user u appears ~5·(u%3)+… times);
    // the second wave revisits every user, so the retraction path
    // genuinely fires — users MOVE between n_events cells
    val evs = (0 until 60).map { i =>
      EngEv((i % 12).toLong, 10L + (i % 7) * 10L)
    }
    def batchCells(upTo: Int): Set[(Long, Long, Long)] =
      evs.take(upTo).toDF("user_id", "cents")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
        .groupBy("n_events")
        .agg(count(lit(1)).as("n_users"), sum("cents").as("cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val input = MemoryStream[EngEv]
    val query = EventStream.engagementCellsStream(input.toDS())
      .writeStream.format("memory").queryName("eng_cells")
      .outputMode("append").start()
    def folded(): Set[(Long, Long, Long)] = spark.table("eng_cells")
      .groupBy("n_events")
      .agg(sum("d_users").as("n_users"), sum("d_cents").as("cents"))
      .where(col("n_users") > 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      input.addData(evs.take(35): _*); query.processAllAvailable()
      assert(folded() == batchCells(35))
      input.addData(evs.drop(35): _*); query.processAllAvailable()
      assert(folded() == batchCells(60))
      // the served decile/Pareto report from streamed deltas = the
      // gated q302 tail on batch-derived cells (shared helper on BOTH
      // sides — the stream side proves its folded state converged)
      val served = EventStream.decileReportBatch(spark.table("eng_cells"))
        .collect().map(_.toSeq).toSeq
      val batch = graft.ops.Events.decileReportFromCells(
        evs.toDF("user_id", "cents")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
          .groupBy("n_events")
          .agg(count(lit(1)).as("n_users"), sum("cents").as("cents")))
        .collect().map(_.toSeq).toSeq
      assert(served == batch)
      assert(batch.nonEmpty)
    } finally query.stop()
  }

  test("tenureCellsStream: span retractions fold to the batch histogram; served hazard = gated q330 tail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    // wave 2 extends half the users' spans (state MOVES cells) and
    // pushes the horizon forward — censoring must re-derive, not
    // freeze: u2 reads churned after wave 1 (l=0 vs horizon 20) but
    // censored after wave 2 extends u2 to day 40 (the new horizon)
    val wave1 = Seq(TenEv(1L, 0L), TenEv(2L, 0L), TenEv(3L, 5L),
      TenEv(3L, 20L))
    val wave2 = Seq(TenEv(2L, 40L), TenEv(1L, 1L), TenEv(4L, 12L))
    def batchCells(evs: Seq[TenEv]): Set[(Long, Long, Long)] =
      evs.toDF("user_id", "day")
        .groupBy("user_id").agg(min("day").as("f"), max("day").as("l"))
        .groupBy("f", "l").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val input = MemoryStream[TenEv]
    val query = EventStream.tenureCellsStream(input.toDS())
      .writeStream.format("memory").queryName("ten_cells")
      .outputMode("append").start()
    def folded(): Set[(Long, Long, Long)] = spark.table("ten_cells")
      .groupBy("f", "l").agg(sum("d_users").as("n"))
      .where(col("n") > 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      input.addData(wave1: _*); query.processAllAvailable()
      assert(folded() == batchCells(wave1))
      val rep1 = EventStream.hazardReportBatch(spark.table("ten_cells"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // horizon 20: u1/u2 (l = 0, week 0) churned; u3 censored
      assert(rep1(0L) == 2L)
      // the serve tail checkpoints its cells frame; release it before
      // the next statement (the Ckpt result-set contract) or Spark's
      // plan-matching cache would serve wave-1 cells to wave-2 reads
      graft.Ckpt.beginQuery(spark)
      input.addData(wave2: _*); query.processAllAvailable()
      assert(folded() == batchCells(wave1 ++ wave2))
      val served = EventStream.hazardReportBatch(spark.table("ten_cells"))
        .collect().map(_.toSeq).toSeq
      val batch = graft.ops.Events.tenureHazard(
        (wave1 ++ wave2).toDF("user_id", "day"))
        .collect().map(_.toSeq).toSeq
      assert(served == batch)
      // horizon moved to 40: u2's week-5 span is now censored (l = e),
      // u1 (l = 1) and u4 (l = 12) churned at week 0
      val m = served.map(r => r.head -> r(2)).toMap
      assert(m(0L) == 2L && m(5L) == 0L)
    } finally query.stop()
  }

  test("chunkProbeStream classifies in-flight chunks against the base ledger; report = batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // base corpus: one 150-token doc; its distinct chunk hashes are the
    // static ledger the stream probes against
    val baseTokens = (0 until 150).map(i => s"b$i")
    val baseDir = writeMiniDocs(Seq(0L -> baseTokens.mkString(" ")))
    val baseChunks = graft.ops.Dedup.cdcChunks(spark, baseDir)
      .select("chunk_md5").distinct().localCheckpoint(true)
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .chunkProbeStream(input.toDS().toDF("doc_id", "text"), baseChunks)
      .writeStream.format("memory").queryName("chunk_probe")
      .outputMode("append").start()
    try {
      // doc 10: 120 base tokens + 30 own (mostly stitched from known
      // blocks); doc 11: entirely fresh
      val stitched = baseTokens.take(120) ++ (0 until 30).map(i => s"n$i")
      val fresh = (0 until 100).map(i => s"f$i")
      input.addData((10L, stitched.mkString(" ")), (11L, fresh.mkString(" ")))
      query.processAllAvailable()
      val probed = spark.table("chunk_probe")
      val rep = EventStream.chunkReportBatch(probed).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"),
            r.getAs[Long]("flagged"))).toMap
      assert(rep(10L)._3 == 1L,
        s"stitched doc must be flagged (chunk boundaries resync): ${rep(10L)}")
      assert(rep(11L)._2 == 0L && rep(11L)._3 == 0L,
        s"fresh doc must classify clean: ${rep(11L)}")
      // row-level parity with the batch twin on the same ledger: the
      // probe is the same chunker + classify join run on a static frame
      val streamDir = writeMiniDocs(Seq(10L -> stitched.mkString(" "),
        11L -> fresh.mkString(" ")))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      val batchRows = rows(EventStream.chunkProbeStream(
        spark.read.parquet(s"$streamDir/documents.parquet")
          .select(col("doc_id"), col("text")), baseChunks))
      assert(rows(probed) == batchRows)
    } finally query.stop()
  }

  test("audienceSigStream: the final snapshot equals the batch signature; replays don't inflate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SigRow
    // two types, users split over two waves, wave 2 REPLAYS two users
    // (min-idempotence must absorb them)
    val w1 = Seq((1L, "click"), (2L, "click"), (3L, "click"), (1L, "view"))
    val w2 = Seq((4L, "click"), (2L, "click"), (5L, "view"), (1L, "view"))
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .audienceSigStream(input.toDS().toDF("user_id", "event_type"))
      .writeStream.format("memory").queryName("sigs").outputMode("append").start()
    try {
      input.addData(w1: _*); query.processAllAvailable()
      input.addData(w2: _*); query.processAllAvailable()
      // keep each type's max-upd snapshot (the documented consumer rule)
      val rows = spark.table("sigs").as[SigRow].collect()
      val latest = rows.groupBy(_.event_type).map { case (t, rs) =>
        val m = rs.map(_.upd).max
        t -> rs.filter(_.upd == m).sortBy(_.rank).map(_.h).toSeq
      }
      val batch = graft.ops.Events.audienceSig(
          (w1 ++ w2).toDF("user_id", "event_type"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sorted.toSeq }
      assert(latest == batch, s"latest=$latest batch=$batch")
      // the served overlap from streamed signatures = the gated q271
      // tail on the same cells
      val sigDf = latest.toSeq.flatMap { case (t, hs) => hs.map(h => (t, h)) }
        .toDF("event_type", "h")
      val served = graft.ops.Events.audienceJaccardEst(sigDf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("jacc_est_bp")))
      val expect = graft.ops.Events.audienceJaccardEst(
          graft.ops.Events.audienceSig((w1 ++ w2).toDF("user_id", "event_type")))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("jacc_est_bp")))
      assert(served.toSeq.sorted == expect.toSeq.sorted)
    } finally query.stop()
  }

  test("valueHistStream: streamed cells equal the batch histogram; the served winsor report matches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 60 events across two types with a fat tail — two ingest waves
    // prove the counters merge across micro-batches
    val evs = (0 until 60).map { i =>
      val t = if (i % 2 == 0) "click" else "purchase"
      // exactly ONE whale per type (above each type's p95 mark, so the
      // clamp genuinely bites), fat-free body otherwise
      val v = if (i == 34 || i == 17) 500.0 else 1.0 + (i % 7)
      (i.toLong, v, t)
    }
    def batchCells(upTo: Int) = EventStream.valueHistStream(
        evs.take(upTo).toDF("es", "value", "event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val input = MemoryStream[(Long, Double, String)]
    val query = EventStream
      .valueHistStream(input.toDS().toDF("es", "value", "event_type"))
      .writeStream.format("memory").queryName("vhist").outputMode("complete").start()
    def streamed() = spark.table("vhist").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      input.addData(evs.take(35).toIndexedSeq: _*); query.processAllAvailable()
      assert(streamed() == batchCells(35))
      input.addData(evs.drop(35).toIndexedSeq: _*); query.processAllAvailable()
      assert(streamed() == batchCells(60))
      // the served report from streamed state = the gated q277 tail on
      // the same cells (shared helper, literally)
      val served = EventStream.rollupWinsorBatch(
        streamed().toSeq.toDF("event_type", "c", "cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5)))
      val batch = graft.ops.Events.winsorFromHist(
        evs.toDF("es", "value", "event_type")
          .select(org.apache.spark.sql.functions.col("event_type"),
            org.apache.spark.sql.functions.round(
              org.apache.spark.sql.functions.col("value") * 100)
              .cast("long").as("c"))
          .groupBy("event_type", "c")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"))).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5)))
      assert(served.toSeq.sorted == batch.toSeq.sorted)
      // the whale actually moved the raw mean off the winsorized one
      assert(batch.exists(r => r._3 != r._4), "fixture must exercise the clamp")
    } finally query.stop()
  }

  test("qiCellsStream: the served t-closeness report equals batch after every prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the CurationSpec fixture at row grain: X p1-heavy, Y p2-leaning,
    // Z uniform, W missing p1 entirely (the densified-spine case) —
    // split so the second wave moves X's distribution
    val rows = Seq(
      ("X", 2000L, "p1"), ("X", 2000L, "p1"), ("X", 2000L, "p2"),
      ("Y", 2000L, "p1"), ("Y", 2000L, "p2"), ("Y", 2000L, "p2"),
      ("Z", 2000L, "p1"), ("Z", 2000L, "p2"),
      ("W", 2000L, "p2"), ("W", 2000L, "p2"),
      // wave 2
      ("X", 2000L, "p1"), ("Y", 2000L, "p2"), ("Z", 2000L, "p1"),
      ("Z", 2000L, "p2"), ("W", 2000L, "p2"), ("W", 2000L, "p2"))
    def batchReport(upTo: Int) = graft.ops.Curation.tClosenessFromCells(
        EventStream.qiCellsStream(rows.take(upTo).toDF("seg", "yr", "prio")))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val input = MemoryStream[(String, Long, String)]
    val query = EventStream
      .qiCellsStream(input.toDS().toDF("seg", "yr", "prio"))
      .writeStream.format("memory").queryName("qicells")
      .outputMode("complete").start()
    def served() = EventStream.privacyReportBatch(
        spark.table("qicells")).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    try {
      input.addData(rows.take(10).toIndexedSeq: _*)
      query.processAllAvailable()
      assert(served() == batchReport(10))
      input.addData(rows.drop(10).toIndexedSeq: _*)
      query.processAllAvailable()
      assert(served() == batchReport(16))
    } finally query.stop()
  }

  test("cmsCellsStream: streamed sketch cells equal the batch sketch after every batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    // 40 docs over a 120-word vocabulary — enough that buckets genuinely
    // collide; two ingest waves prove cross-micro-batch counter merging
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 15).map(j => f"t${(i * 7 + j * 3) % 120}%03d").mkString(" ")))
    def batchCells(upTo: Int): Set[(Int, Long, Long)] = {
      val tok = docs.take(upTo).toDF("doc_id", "text")
        .select(explode(graft.ops.TextCore.wordsCol(
          graft.ops.TextCore.normCol(col("text")))).as("word"))
      graft.ops.TextStats.cmsCells(tok).collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("b"), r.getAs[Long]("cell_cnt"))).toSet
    }
    val input = MemoryStream[(Long, String)]
    val query = EventStream.cmsCellsStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_cells").outputMode("complete").start()
    def streamedCells(): Set[(Int, Long, Long)] =
      spark.table("cms_cells").collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("b"), r.getAs[Long]("cell_cnt"))).toSet
    try {
      input.addData(docs.take(25).toIndexedSeq: _*)
      query.processAllAvailable()
      assert(streamedCells() == batchCells(25)) // prefix parity, wave 1
      input.addData(docs.drop(25).toIndexedSeq: _*)
      query.processAllAvailable()
      assert(streamedCells() == batchCells(40)) // counters merged across batches
    } finally query.stop()
  }

  test("sourceCapStream: final snapshots equal the gated q181 kept sets on a split ingest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number, size}
    import org.apache.spark.sql.expressions.Window
    // the exact q181 scoring on the real corpus, streamed in two waves:
    // top-k by the deterministic (score desc, doc_id) order is
    // order-insensitive, so the final per-source snapshot must hold the
    // batch kept set rank for rank
    val d = "/root/testdata/sf0.001"
    val scored = graft.ops.TextStats.withQuality(
        graft.ops.TextCore.docShingles(spark, d))
      .select(col("source"), col("doc_id"), col("score"),
        size(col("words")).cast("long").as("n_tok"))
      .localCheckpoint(true)
    val cap = graft.ops.Curation.sourceCap
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("doc_id").asc)
    val batchKept = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= cap)
      .collect().map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"))).toSet
    val rows = scored.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val (wave1, wave2) = rows.sortBy(_._2).splitAt(rows.length / 2)
    val input = MemoryStream[(String, Long, Double, Long)]
    val query = EventStream.sourceCapStream(
        input.toDS().toDF("source", "doc_id", "score", "n_tok")).writeStream
      .format("memory").queryName("scap").outputMode("append").start()
    try {
      input.addData(wave1.toSeq: _*)
      query.processAllAvailable()
      input.addData(wave2.toSeq: _*)
      query.processAllAvailable()
      val out = spark.table("scap").collect()
      val latest = out.groupBy(_.getAs[String]("source")).toSeq.flatMap {
        case (_, rs) =>
          val maxUpd = rs.map(_.getAs[Long]("upd")).max
          rs.filter(_.getAs[Long]("upd") == maxUpd).toSeq
      }
      val got = latest.map(r => (r.getAs[String]("source"),
        r.getAs[Long]("rank"), r.getAs[Long]("doc_id"))).toSet
      assert(got == batchKept, "streamed final cap != batch kept set")
    } finally query.stop()
  }

  test("covCellsStream: streamed moments equal the batch merge law after every batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // real embeddings streamed in two waves; the additive-integer merge
    // law says the complete-mode snapshot equals a batch recompute over
    // everything ingested so far, after EVERY micro-batch
    val d = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (wave1, wave2) = vecs.sortBy(_._1).splitAt(vecs.length / 2)
    def batchMoments(rows: Seq[(Long, Seq[Double])]): Set[Seq[Long]] =
      graft.ops.Similarity.covMoments(graft.ops.Similarity.covCellsOf(
          rows.toDF("vec_id", "v")))
        .collect().map(r => (0 until 8).map(r.getLong).toSeq).toSet
    val input = MemoryStream[(Long, Seq[Double])]
    val query = EventStream.covCellsStream(input.toDS().toDF("vec_id", "v"))
      .writeStream.format("memory").queryName("cov_cells")
      .outputMode("complete").start()
    try {
      def got() = spark.table("cov_cells").collect()
        .map(r => (0 until 8).map(r.getLong).toSeq).toSet
      input.addData(wave1.toSeq: _*)
      query.processAllAvailable()
      assert(got() == batchMoments(wave1.toSeq))
      input.addData(wave2.toSeq: _*)
      query.processAllAvailable()
      assert(got() == batchMoments(vecs.toSeq))
    } finally query.stop()
  }

  test("ewmaStream equals the scalar recurrence across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{DayCount, EwmaPoint}
    // two types with different day series, split mid-series across
    // micro-batches (the day-ordered ingest contract); expected points
    // from the same scanLeft recurrence RobustSpec pins the batch HOF
    // fold against — stream ≡ fold ≡ scalar, closing the triangle
    val cntsA = Seq(100L, 400L, 50L, 50L, 900L)
    val cntsB = Seq(7L, 7L, 7L)
    def expect(tp: String, cnts: Seq[Long]): Seq[EwmaPoint] = {
      val es = cnts.tail.scanLeft(cnts.head * 4096L)((e, c) => (c * 4096L + 3L * e) / 4L)
      cnts.zip(es).zipWithIndex.map { case ((c, e), i) =>
        EwmaPoint(tp, i.toLong, c, e, if (c * 4096L > 2L * e) 1L else 0L)
      }
    }
    val input = MemoryStream[DayCount]
    val query = EventStream.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma").outputMode("append").start()
    try {
      input.addData(DayCount("a", 0L, cntsA(0)), DayCount("a", 1L, cntsA(1)),
        DayCount("b", 0L, cntsB(0)))
      query.processAllAvailable()
      input.addData(DayCount("a", 2L, cntsA(2)), DayCount("a", 3L, cntsA(3)),
        DayCount("a", 4L, cntsA(4)), DayCount("b", 1L, cntsB(1)),
        DayCount("b", 2L, cntsB(2)))
      query.processAllAvailable()
      val got = spark.table("ewma").as[EwmaPoint].collect()
        .groupBy(_.event_type).view.mapValues(_.sortBy(_.day).toSeq).toMap
      assert(got("a") == expect("a", cntsA))
      assert(got("b") == expect("b", cntsB))
      // the day-400 spike and the day-900 spike must both flag against
      // the smoothed level (the whole-history 2σ would drown the first)
      assert(got("a").filter(_.burst == 1L).map(_.day) == Seq(1L, 4L))
    } finally query.stop()
  }

  test("mannKendallStream: every emitted prefix equals the batch report") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{DayCount, MkPoint}
    // the EventsSpec fixture series split mid-series across
    // micro-batches: monotone, tied and reversing counts all occur,
    // plus the single-day prefix (tau None)
    val series = Map(
      "up" -> Seq(1L, 2L, 3L, 4L),
      "tied" -> Seq(5L, 5L, 7L),
      "down" -> Seq(9L, 4L, 4L))
    val input = MemoryStream[DayCount]
    val query = EventStream.mannKendallStream(input.toDS())
      .writeStream.format("memory").queryName("mk").outputMode("append").start()
    try {
      input.addData(DayCount("up", 0L, 1L), DayCount("up", 1L, 2L),
        DayCount("tied", 0L, 5L), DayCount("down", 0L, 9L))
      query.processAllAvailable()
      input.addData(DayCount("up", 2L, 3L), DayCount("up", 3L, 4L),
        DayCount("tied", 1L, 5L), DayCount("tied", 2L, 7L),
        DayCount("down", 1L, 4L), DayCount("down", 2L, 4L))
      query.processAllAvailable()
      val got = spark.table("mk").as[MkPoint].collect()
      // prefix parity: EVERY emitted point equals the batch core run on
      // the rows folded so far — the monitor is the batch report live
      series.foreach { case (tp, cnts) =>
        cnts.indices.foreach { i =>
          val prefix = cnts.take(i + 1).zipWithIndex
            .map { case (c, day) => (tp, day.toLong, c) }
          val b = graft.ops.Events.mannKendallFromDaily(
            prefix.toDF("event_type", "day", "cnt")).collect().head
          val sp = got.find(p => p.event_type == tp && p.day == i.toLong).get
          assert(sp.n_days == b.getLong(1) && sp.n_pairs == b.getLong(2) &&
            sp.s_stat == b.getLong(3) && sp.var_s_x18 == b.getLong(4) &&
            sp.tau_bp == (if (b.isNullAt(5)) None else Some(b.getLong(5))),
            s"$tp day $i: stream $sp vs batch $b")
        }
      }
    } finally query.stop()
  }

  test("positionCreditStream: credit rollup equals batch q337 across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TransEv, CreditOut}
    // the q337 spec journeys (k = 1/2/3/5, no-purchase, purchase-first,
    // repeat-purchase) plus user 8 with TWO gap-split sessions — and
    // user 4's k = 5 session split MID-SESSION across micro-batches, so
    // the open touch list must survive in state
    val rows = Seq(
      TransEv(1L, 1L, 10L, "view"), TransEv(1L, 2L, 20L, "purchase"),
      TransEv(2L, 1L, 10L, "view"), TransEv(2L, 2L, 20L, "click"),
      TransEv(2L, 3L, 30L, "purchase"),
      TransEv(3L, 1L, 10L, "view"), TransEv(3L, 2L, 20L, "click"),
      TransEv(3L, 3L, 30L, "signup"), TransEv(3L, 4L, 40L, "purchase"),
      TransEv(4L, 1L, 10L, "view"), TransEv(4L, 2L, 20L, "click"),
      TransEv(4L, 3L, 30L, "click"), TransEv(4L, 4L, 40L, "click"),
      TransEv(4L, 5L, 50L, "signup"), TransEv(4L, 6L, 60L, "purchase"),
      TransEv(5L, 1L, 10L, "view"), TransEv(5L, 2L, 20L, "click"),
      TransEv(6L, 1L, 10L, "purchase"), TransEv(6L, 2L, 20L, "view"),
      TransEv(7L, 1L, 10L, "view"), TransEv(7L, 2L, 20L, "purchase"),
      TransEv(7L, 3L, 30L, "click"), TransEv(7L, 4L, 40L, "purchase"),
      TransEv(8L, 1L, 10L, "view"), TransEv(8L, 2L, 20L, "purchase"),
      TransEv(8L, 3L, 5020L, "click"), TransEv(8L, 4L, 5030L, "purchase"))
    val (first, second) = rows.partition(e =>
      e.user_id < 4L || (e.user_id == 4L && e.event_id <= 3L))
    val input = MemoryStream[TransEv]
    val query = EventStream.positionCreditStream(input.toDS())
      .writeStream.format("memory").queryName("ucredit")
      .outputMode("append").start()
    try {
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      val got = spark.table("ucredit").as[CreditOut].collect()
        .groupBy(_.channel).view
        .mapValues(cs => (cs.length.toLong, cs.map(_.credit_bp).sum)).toMap
      val batch = graft.ops.Events.positionCredits(
        graft.ops.Events.withSessionIds(
          rows.toDF().select("user_id", "event_id", "es", "event_type")))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == batch)
      // user 8's second session re-armed after the gap: two view/click
      // full-credit conversions are inside the totals
      assert(got("view")._2 == 43000L && got("click")._2 == 19000L)
    } finally query.stop()
  }

  test("fuzzyNameProbeStream matches the batch predicate on a static base, dedup enforced") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // base carries a DUPLICATED row — the API must distinct it so a
    // probe cannot match the same base name twice (the r12 membership
    // convention); "blu widget" is dist 1 from "blue widget", and the
    // cross-block "blue widgit" stays invisible to a widget-block probe
    val base = Seq(("blue widget", "widget"), ("blue widget", "widget"),
      ("large widget", "widget"), ("blue widgit", "widgit"))
      .toDF("name", "block")
    val input = MemoryStream[String]
    val query = EventStream.fuzzyNameProbeStream(
        input.toDS().toDF("name"), base)
      .writeStream.format("memory").queryName("nameprobe")
      .outputMode("append").start()
    try {
      input.addData("blu widget")
      query.processAllAvailable()
      input.addData("blue widget", "tiny gizmo")
      query.processAllAvailable()
      val got = spark.table("nameprobe").collect()
        .map(r => (r.getAs[String]("probe_name"), r.getAs[String]("match_name"),
          r.getAs[Long]("dist"))).toSet
      assert(got == Set(
        ("blu widget", "blue widget", 1L),   // fuzzy hit, exactly once
        ("blue widget", "blue widget", 0L))) // exact "already known"
    } finally query.stop()
  }

  test("transitionStream rollup equals batch q201 counts; out-of-order ingest fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TransEv, TransEdge}
    // user 1: two sessions (gap > 1800 between es 4000 and 99999); the
    // cross-BATCH boundary (es 3000 -> 4000) must still emit its edge
    // from state; user 2: same-second tie ordered by event_id
    val b1 = Seq(TransEv(1L, 1L, 1000L, "view"), TransEv(1L, 2L, 3000L, "click"),
      TransEv(2L, 10L, 500L, "view"), TransEv(2L, 11L, 500L, "click"))
    val b2 = Seq(TransEv(1L, 3L, 4000L, "purchase"), TransEv(1L, 4L, 99999L, "view"),
      TransEv(1L, 5L, 100000L, "click"), TransEv(2L, 12L, 2000L, "purchase"))
    val input = MemoryStream[TransEv]
    val query = EventStream.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val got = spark.table("trans").as[TransEdge].collect()
        .groupBy(e => (e.from_type, e.to_type)).view.mapValues(_.length.toLong).toMap
      // batch q201 counts over the same events, via the gated window logic
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("es", "event_id")
      import org.apache.spark.sql.functions.{col, lead}
      val batch = (b1 ++ b2).toDF("user_id", "event_id", "es", "event_type")
        .withColumn("nt", lead("event_type", 1).over(w))
        .withColumn("ne", lead("es", 1).over(w))
        .where(col("nt").isNotNull && col("ne") - col("es") <= 1800)
        .groupBy("event_type", "nt").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got(("view", "click")) == 2L) // u1 session 2 + u2 tie order
      assert(!got.contains(("purchase", "view")), "the session gap breaks the chain")
    } finally query.stop()

    // an event arriving BEHIND the folded state must kill the query,
    // not silently emit an unrewritable history
    val late = MemoryStream[TransEv]
    val q2 = EventStream.transitionStream(late.toDS())
      .writeStream.format("memory").queryName("trans_late").outputMode("append").start()
    try {
      late.addData(TransEv(9L, 2L, 5000L, "view")); q2.processAllAvailable()
      late.addData(TransEv(9L, 1L, 4000L, "click"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("in-order ingest contract") ||
        Option(ex.getCause).exists(_.getMessage.contains("in-order ingest contract")))
    } finally q2.stop()

    // an at-least-once REDELIVERY of the already-folded event must also
    // fail, not emit a spurious self-edge (r13 review: `>=` let the
    // byte-identical duplicate through)
    val dup = MemoryStream[TransEv]
    val q3 = EventStream.transitionStream(dup.toDS())
      .writeStream.format("memory").queryName("trans_dup").outputMode("append").start()
    try {
      dup.addData(TransEv(9L, 2L, 5000L, "view")); q3.processAllAvailable()
      dup.addData(TransEv(9L, 2L, 5000L, "view"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(ex.getMessage.contains("in-order ingest contract") ||
        Option(ex.getCause).exists(_.getMessage.contains("in-order ingest contract")))
    } finally q3.stop()
  }

  test("cusumStream under the batch baseline equals batch q207 across splits; out-of-order fails") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    import graft.streaming.{DayCount, CusumPoint}
    val sf = "/root/testdata/sf0.001"
    val daily = graft.ops.Events.events(spark, sf)
      .groupBy(col("event_type"), expr("CAST(es div 86400 AS BIGINT)").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => DayCount(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(d => (d.event_type, d.day))
    val mu = daily.groupBy(_.event_type).view
      .mapValues(ds => ds.map(_.cnt).sum / ds.length).toMap
    // split each type's day series mid-stream (day-ordered contract):
    // the cut is that type's median day, so both batches are non-empty
    val cut = daily.groupBy(_.event_type).view
      .mapValues(ds => { val days = ds.map(_.day).sorted; days(days.length / 2) })
      .toMap
    val (c1, c2) = daily.partition(d => d.day <= cut(d.event_type))
    val input = MemoryStream[DayCount]
    val query = EventStream.cusumStream(input.toDS(), mu)
      .writeStream.format("memory").queryName("cusum").outputMode("append").start()
    try {
      input.addData(c1: _*); query.processAllAvailable()
      input.addData(c2: _*); query.processAllAvailable()
      val got = spark.table("cusum").as[CusumPoint].collect()
        .map(p => (p.event_type, p.day) -> (p.cnt, p.cusum, p.alarm)).toMap
      val batch = SparkEntry.queries("q207_cusum_changepoint")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == batch, "stream under the batch baseline must equal batch q207")
    } finally query.stop()

    val late = MemoryStream[DayCount]
    val q2 = EventStream.cusumStream(late.toDS(), Map("view" -> 10L))
      .writeStream.format("memory").queryName("cusum_late").outputMode("append").start()
    try {
      late.addData(DayCount("view", 5L, 3L)); q2.processAllAvailable()
      late.addData(DayCount("view", 4L, 3L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("day order") ||
        Option(ex.getCause).exists(_.getMessage.contains("day order")))
    } finally q2.stop()
  }

  test("scdTierStream equals batch q240 across micro-batch splits; one-day double-crossing collapses") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{SpendDay, TierVersion}
    // user 1 climbs 0 → 1 → 2 across three purchase days; user 2
    // crosses BOTH thresholds on its first day (the collapse case: one
    // version, tier skips 1); user 3 never leaves tier 0 (its second
    // day must open no version)
    val rows = Seq(
      SpendDay(1L, 0L, 15000L), SpendDay(1L, 1L, 20000L), SpendDay(1L, 3L, 60000L),
      SpendDay(2L, 0L, 100000L),
      SpendDay(3L, 0L, 5000L), SpendDay(3L, 2L, 1000L))
    val input = MemoryStream[SpendDay]
    val query = EventStream.scdTierStream(input.toDS())
      .writeStream.format("memory").queryName("scd").outputMode("append").start()
    try {
      // split mid-user-1 across micro-batches: state carries cum/tier over
      input.addData(rows.take(4): _*); query.processAllAvailable()
      input.addData(rows.drop(4): _*); query.processAllAvailable()
      val got = spark.table("scd").as[TierVersion].collect().toSet
      assert(got == Set(
        TierVersion(1L, 1L, 0L, 0L), TierVersion(1L, 2L, 1L, 1L),
        TierVersion(1L, 3L, 2L, 3L),
        TierVersion(2L, 1L, 2L, 0L), // double-crossing: tier 1 never opens
        TierVersion(3L, 1L, 0L, 0L)))
      // batch parity: the SAME purchases as raw events through the gated
      // q240 build — (user, version_no, tier, valid_from) agree verbatim
      val ev = rows.map(r => (r.user_id, r.day * 86400L + 60L,
          r.dc.toDouble / 100.0, "purchase"))
        .toDF("user_id", "es", "value", "event_type")
      val batch = graft.ops.Events.tierVersions(ev).collect()
        .map(r => TierVersion(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(batch == got, s"stream=$got batch=$batch")
    } finally query.stop()

    // a past (or redelivered) day must kill the query loudly — the
    // dimension's history is already published and cannot be rewritten
    val late = MemoryStream[SpendDay]
    val q2 = EventStream.scdTierStream(late.toDS())
      .writeStream.format("memory").queryName("scd_late").outputMode("append").start()
    try {
      late.addData(SpendDay(9L, 5L, 1000L)); q2.processAllAvailable()
      late.addData(SpendDay(9L, 4L, 1000L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("in day order") ||
        Option(ex.getCause).exists(_.getMessage.contains("in day order")))
    } finally q2.stop()

    // the scalar tier twin agrees with the batch Column expression at
    // the exact threshold boundaries
    val boundary = Seq(0L, 29999L, 30000L, 89999L, 90000L, 1000000L)
    val viaCol = boundary.toDF("cum")
      .select(graft.ops.Events.tierOf(org.apache.spark.sql.functions.col("cum")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol == boundary.map(graft.ops.Events.tierOfCents))
  }

  test("pitTierStream serves the static dimension: streamed rollup equals gated q241") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ev = graft.ops.Events.events(spark, sf)
    // the nightly dimension snapshot, exactly what q240 gates
    val dim = graft.ops.Events.tierVersions(ev).localCheckpoint(true)
    val clickRows = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), expr("es div 86400").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val input = MemoryStream[(Long, Long, Long)]
    val query = EventStream.pitTierStream(
        input.toDS().toDF("event_id", "user_id", "day"), dim)
      .writeStream.format("memory").queryName("pitserve").outputMode("append").start()
    try {
      val (b1, b2) = clickRows.splitAt(clickRows.length / 2)
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val served = spark.table("pitserve").collect()
      // every click answered exactly once (ranges partition the timeline)
      assert(served.length == clickRows.length)
      val rollup = served.groupBy(_.getAs[Long]("tier")).view
        .mapValues(rs => (rs.length.toLong,
          rs.map(_.getAs[Long]("user_id")).distinct.length.toLong)).toMap
      val batch = SparkEntry.queries("q241_pit_tier_clicks")(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rollup == batch, s"stream=$rollup batch=$batch")
    } finally query.stop()
  }

  test("scdReconcile repairs a corrupted stream state to batch equality") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{SpendDay, TierVersion}
    import org.apache.spark.sql.functions.col
    // the incident: user 1's day-1 spend never reached the stream (a
    // skipped micro-batch — in-order contract still holds, the day is
    // simply absent), so the streamed dimension runs on partial sums:
    //   full:    day0 20000 (t0) | day1 20000 (cum 40000, t1) | day2 60000 (cum 100000, t2)
    //   streamed: day0 20000 (t0) |                            day2 60000 (cum 80000, t1)
    val full = Seq(
      SpendDay(1L, 0L, 20000L), SpendDay(1L, 1L, 20000L), SpendDay(1L, 2L, 60000L),
      SpendDay(2L, 0L, 95000L))
    val incident = full.filterNot(r => r.user_id == 1L && r.day == 1L)
    val input = MemoryStream[SpendDay]
    val query = EventStream.scdTierStream(input.toDS())
      .writeStream.format("memory").queryName("scd_rep").outputMode("append").start()
    val streamed = try {
      input.addData(incident: _*); query.processAllAvailable()
      spark.table("scd_rep").as[TierVersion].collect().toSeq
    } finally query.stop()
    // the streamed state is genuinely wrong before repair
    assert(streamed.toSet == Set(
      TierVersion(1L, 1L, 0L, 0L), TierVersion(1L, 2L, 1L, 2L),
      TierVersion(2L, 1L, 2L, 0L)))
    val ev = full.map(r => (r.user_id, r.day * 86400L + 60L,
        r.dc.toDouble / 100.0, "purchase"))
      .toDF("user_id", "es", "value", "event_type")
    val batch = graft.ops.Events.tierVersions(ev)
    val sdf = streamed.toDF()
      .select(col("user_id"), col("version_no"), col("tier"),
        col("valid_from_day"))
    val repair = graft.ops.Events.scdReconcile(sdf, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // the diff names the incident exactly: v2 amended back to day 1 /
    // tier 1, v3 inserted (day 2, tier 2); user 2 untouched
    assert(repair.toSet == Set(
      (1L, 2L, "amend", 1L, 1L), (1L, 3L, "insert", 2L, 2L)), s"$repair")
    // APPLY the repair: drop delete+amend keys, add insert+amend rows →
    // the repaired state equals batch q240's dimension verbatim
    val deleteOrAmend = repair.filter(r => r._3 != "insert")
      .map(r => (r._1, r._2)).toSet
    val applied = streamed
      .filterNot(v => deleteOrAmend.contains((v.user_id, v.version_no)))
      .map(v => (v.user_id, v.version_no, v.tier, v.valid_from_day)) ++
      repair.filter(r => r._3 != "delete").map(r => (r._1, r._2, r._4, r._5))
    val expect = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(applied.toSet == expect, s"applied=$applied expect=$expect")
  }

  test("dailySpendStream → scdTierStream composes; beyond-watermark spend drops observably") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{SpendDay, TierVersion}
    val input = MemoryStream[(Long, Long, Double, String)]
    val q1 = EventStream.dailySpendStream(
        input.toDS().toDF("user_id", "es", "value", "event_type"),
        lateness = "1 hour")
      .writeStream.format("memory").queryName("spendd").outputMode("append").start()
    try {
      // day 0: two purchases for user 1, out of order within the bound,
      // plus a non-purchase row that must not count
      input.addData((1L, 200L, 150.0, "purchase"), (1L, 100L, 50.0, "purchase"),
        (1L, 150L, 999.0, "click")); q1.processAllAvailable()
      // day 1 traffic closes day 0 (watermark 93000-3600 > 86400)
      input.addData((1L, 93000L, 200.0, "purchase")); q1.processAllAvailable()
      // beyond-watermark straggler into closed day 0: dropped, observable
      input.addData((1L, 300L, 500.0, "purchase")); q1.processAllAvailable()
      input.addData((1L, 2 * 86400L + 7200L, 700.0, "purchase"))
      q1.processAllAvailable()
      val feed = spark.table("spendd").collect()
        .map(r => SpendDay(r.getAs[Long]("user_id"), r.getAs[Long]("day"),
          r.getAs[Long]("dc"))).sortBy(_.day)
      // on-time day 0 = 20000c (the $500 straggler excluded), day 1 = 20000c
      assert(feed.map(d => d.day -> d.dc).toSeq == Seq(0L -> 20000L, 1L -> 20000L),
        s"got ${feed.toSeq}")
      val dropped = q1.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark purchase must count as dropped")
      // the emitted feed is legal fold input: replay it through the SCD2
      // maintenance and land on the cumulative the on-time rows imply
      // (20000 + 20000 = tier 1 opens on day 1)
      val f2 = MemoryStream[SpendDay]
      val q2 = EventStream.scdTierStream(f2.toDS())
        .writeStream.format("memory").queryName("spendd_scd")
        .outputMode("append").start()
      try {
        feed.foreach { sd => f2.addData(sd); q2.processAllAvailable() }
        val got = spark.table("spendd_scd").as[TierVersion].collect().toSet
        assert(got == Set(TierVersion(1L, 1L, 0L, 0L), TierVersion(1L, 2L, 1L, 1L)))
      } finally q2.stop()
    } finally q1.stop()
  }

  test("centCellsStream: folded cells serve the exact batch KS table; beyond-watermark row dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    import graft.ops.Events
    val split = Events.driftSplitEs
    // epoch 0: cents {100×3, 200×1}; epoch 1: {200×2, 300×2} — the
    // known-D layout from EventsSpec's q290 fixture, ×100 cents
    val onTime = Seq(
      (split - 86400 + 100L, 1.0, "click"), (split - 86400 + 200L, 1.0, "click"),
      (split - 86400 + 300L, 1.0, "click"), (split - 86400 + 400L, 2.0, "click"),
      (split + 100L, 2.0, "click"), (split + 200L, 2.0, "click"),
      (split + 300L, 3.0, "click"), (split + 400L, 3.0, "click"))
    val input = MemoryStream[(Long, Double, String)]
    val query = EventStream
      .centCellsStream(input.toDS().toDF("es", "value", "event_type"))
      .writeStream.format("memory").queryName("centc").outputMode("append").start()
    try {
      input.addData(onTime.take(4)); query.processAllAvailable()
      input.addData(onTime.drop(4)); query.processAllAvailable()
      // advance the watermark past both days, then a straggler into
      // the closed epoch-0 day — must change nothing
      input.addData((split + 86400 + 7200L, 1.0, "view")); query.processAllAvailable()
      input.addData((split - 86400 + 500L, 1.0, "click")); query.processAllAvailable()
      input.addData((split + 86400 + 9000L, 1.0, "view")); query.processAllAvailable()
      val cells = spark.table("centc")
        .select("event_type", "day", "cent", "cnt").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark straggler must drop")
      val folded = EventStream.ksReportBatch(
        cells.toSeq.toDF("event_type", "day", "cent", "cnt"))
      val batch = Events.ksFromCells(onTime.toDF("es", "value", "event_type")
        .select(col("event_type"),
          Events.driftEpoch(expr("es div 86400")).as("epoch"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cent"))
        .groupBy("event_type", "epoch", "cent")
        .agg(count(lit(1)).as("cnt")))
      assert(folded.collect().toSeq == batch.collect().toSeq)
      // and the number itself: D = |3·4 − 0·4| = 12 of 16 → 7500 bp at cent 100
      val r = batch.where(col("event_type") === "click").collect().head
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((4L, 4L, 7500L, 100L)))
    } finally query.stop()
  }

  test("hdrCellsStream: folded cells serve the exact batch HDR quantiles; late row dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, sum}
    import graft.ops.Events
    val day0 = 86400L * 100
    // values spread across two days and three HDR buckets
    val onTime = Seq(
      (day0 + 100L, 0.05, "click"), (day0 + 200L, 0.31, "click"),
      (day0 + 300L, 2.5, "click"),
      (day0 + 86400 + 100L, 2.55, "click"), (day0 + 86400 + 200L, 40.0, "click"))
    val input = MemoryStream[(Long, Double, String)]
    val query = EventStream
      .hdrCellsStream(input.toDS().toDF("es", "value", "event_type"))
      .writeStream.format("memory").queryName("hdrc").outputMode("append").start()
    try {
      input.addData(onTime.take(3)); query.processAllAvailable()
      input.addData(onTime.drop(3)); query.processAllAvailable()
      // close both days, then a straggler into day 0 — must change nothing
      input.addData((day0 + 3 * 86400, 1.0, "view")); query.processAllAvailable()
      input.addData((day0 + 400L, 0.05, "click")); query.processAllAvailable()
      input.addData((day0 + 3 * 86400 + 100L, 1.0, "view")); query.processAllAvailable()
      val cells = spark.table("hdrc")
        .select("event_type", "day", "id", "cnt").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val dropped = query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the beyond-watermark straggler must drop")
      // the folded stream cells equal the batch sketch over on-time rows
      val batchCells = Events.hdrCells(onTime.toDF("es", "value", "event_type")
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("vc")))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val folded = cells.groupBy(c => (c._1, c._3))
        .view.mapValues(_.map(_._4).sum).toMap
      assert(folded == batchCells)
      // and the served report agrees with the shared selection machinery
      val rep = EventStream.hdrReportBatch(
        cells.toSeq.toDF("event_type", "day", "id", "cnt"))
        .where(col("event_type") === "click").collect().head
      // cents 5, 31, 250, 255, 4000 → lbs 5, 31, 248 (cnt 2: 250 and
      // 255 share bucket [248, 256)), 3968; ranks 3/5/5 → 248, 3968
      assert((rep.getLong(1), rep.getLong(2), rep.getLong(3), rep.getLong(4)) ==
        ((5L, 248L, 3968L, 3968L)))
    } finally query.stop()
  }

  test("dispersionReportBatch over streamed daily cells equals batch q295") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    import graft.ops.Events
    val day0 = 86400L * 200
    // bursty "b": 1, 1, 28 events across three days; steady "p": 4, 5, 6
    val rows =
      (Seq.fill(1)(day0 + 10L) ++ Seq.fill(1)(day0 + 86400 + 10L) ++
        (1L to 28L).map(day0 + 2 * 86400 + _)).map(es => (es, "b")) ++
        ((1L to 4L).map(day0 + _) ++ (1L to 5L).map(day0 + 86400 + _) ++
          (1L to 6L).map(day0 + 2 * 86400 + _)).map(es => (es, "p"))
    val input = MemoryStream[(Long, String)]
    val query = EventStream
      .dailyCountsStream(input.toDS().toDF("es", "event_type"))
      .writeStream.format("memory").queryName("dispd").outputMode("append").start()
    try {
      input.addData(rows); query.processAllAvailable()
      // advance the watermark past all three days
      input.addData((day0 + 4 * 86400, "x")); query.processAllAvailable()
      input.addData((day0 + 4 * 86400 + 100, "x")); query.processAllAvailable()
      val served = EventStream.dispersionReportBatch(
        spark.table("dispd").select("event_type", "day", "cnt"))
        .where(col("event_type").isin("b", "p")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val batch = Events.dispersionFromDaily(rows.toDF("es", "event_type")
          .groupBy(col("event_type"),
            expr("CAST(es div 86400 AS BIGINT)").as("day"))
          .agg(count(lit(1)).as("cnt")))
        .where(col("event_type").isin("b", "p")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(served == batch)
      // and the alarm fires on the bursty series only
      assert(served("b")._3 == 1L && served("p")._3 == 0L)
    } finally query.stop()
  }

  test("alarmDebounceStream: level flips only after k consecutive disagreements, across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{DebEv, DebOut}
    val input = MemoryStream[DebEv]
    val query = EventStream.alarmDebounceStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("deb").outputMode("append").start()
    try {
      // raw 0 1 0 1 1 1 | 0 0 0 1 split across two batches — the run
      // state must carry over the batch boundary
      val raws = Seq(0L, 1L, 0L, 1L, 1L, 1L, 0L, 0L, 0L, 1L)
      input.addData(raws.take(6).zipWithIndex.map { case (r, i) =>
        DebEv("drift", i.toLong, r) })
      query.processAllAvailable()
      input.addData(raws.drop(6).zipWithIndex.map { case (r, i) =>
        DebEv("drift", (i + 6).toLong, r) })
      query.processAllAvailable()
      val got = spark.table("deb").as[DebOut].collect()
        .sortBy(_.seq).map(_.level).toSeq
      // flips to 1 at the 3rd consecutive 1 (seq 5), back to 0 at the
      // 3rd consecutive 0 (seq 8); the lone trailing 1 is suppressed
      assert(got == Seq(0L, 0L, 0L, 0L, 0L, 1L, 1L, 1L, 0L, 0L))
    } finally query.stop()
  }

  test("newUsersStream: in-order parity with batch cohorts; out-of-order keeps first arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val input = MemoryStream[(Long, Long)]
    val query = EventStream
      .newUsersStream(input.toDS()
        .select(col("_1").as("user_id"), (col("_2") * 86400L).as("es")))
      .writeStream.format("memory").queryName("newu").outputMode("append").start()
    try {
      // in-order feed: u1 day 3 (re-seen day 5), u2 day 4
      input.addData((1L, 3L), (2L, 4L)); query.processAllAvailable()
      input.addData((1L, 5L)); query.processAllAvailable()
      // u3 arrives OUT OF ORDER: day 9 first, its true min day 7 second —
      // the stream keeps the first ARRIVAL (documented divergence;
      // batch rebuild is the repair path)
      input.addData((3L, 9L)); query.processAllAvailable()
      input.addData((3L, 7L)); query.processAllAvailable()
      val got = spark.table("newu").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3L, 2L -> 4L, 3L -> 9L))
      // in-order users match the batch min-day cohort verbatim
      val batch = Seq((1L, 3L), (2L, 4L), (1L, 5L)).toDF("user_id", "day")
        .groupBy("user_id").agg(min("day").as("cohort_day"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batch.forall { case (u, d) => got(u) == d })
    } finally query.stop()
  }

  test("graph twins: handoff edges, dyad census and degree octaves match batch across a mid-bucket split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
    import graft.streaming.{EdgeEnd, HandEdge}
    // three hour buckets; the wave split lands MID-bucket-1, so the
    // 4→2 handoff closes over the state boundary; bucket 2 repeats
    // 5→1 (dedup must fire) and completes mutual (1,5); u6 sits alone
    // in bucket 3 (isolated — the octave-0 path of the served report)
    val wave1 = Seq(Ev(1L, 1L, 10L), Ev(2L, 2L, 20L), Ev(1L, 3L, 30L),
      Ev(1L, 4L, 40L), Ev(3L, 5L, 50L), Ev(2L, 6L, 60L),
      Ev(2L, 7L, 3610L), Ev(4L, 8L, 3620L))
    val wave2 = Seq(Ev(2L, 9L, 3700L),
      Ev(5L, 10L, 7210L), Ev(1L, 11L, 7220L), Ev(5L, 12L, 7230L),
      Ev(1L, 13L, 7240L), Ev(6L, 14L, 10810L))
    // batch-truth edge occurrences, from the same lag-per-bucket rule
    val edges1 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 2L), (2L, 4L))
    val edges2 = edges1 ++ Seq((4L, 2L), (5L, 1L), (1L, 5L), (5L, 1L))

    val evIn = MemoryStream[Ev]
    val edgeQ = EventStream.handoffEdgeStream(evIn.toDS())
      .writeStream.format("memory").queryName("hand_edges")
      .outputMode("append").start()
    def gotEdges(): Seq[(Long, Long)] = spark.table("hand_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSeq
    try {
      evIn.addData(wave1: _*); edgeQ.processAllAvailable()
      assert(gotEdges().sorted == edges1.sorted) // multiset parity, wave 1
      evIn.addData(wave2: _*); edgeQ.processAllAvailable()
      assert(gotEdges().sorted == edges2.sorted) // boundary 4→2 included
    } finally edgeQ.stop()

    // stage 2: dyad state over the edge stream, split at the same point
    val dyIn = MemoryStream[HandEdge]
    val dyQ = EventStream.dyadCellsStream(dyIn.toDS())
      .writeStream.format("memory").queryName("dyad_cells")
      .outputMode("append").start()
    def foldedEM(): (Long, Long) = {
      val r = spark.table("dyad_cells")
        .agg(sum("d_dir"), sum("d_mutual")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    try {
      dyIn.addData(edges1.map(e => HandEdge(e._1, e._2)): _*)
      dyQ.processAllAvailable()
      assert(foldedEM() == ((5L, 1L))) // 5 distinct directed, (1,2) mutual
      dyIn.addData(edges2.drop(edges1.size).map(e => HandEdge(e._1, e._2)): _*)
      dyQ.processAllAvailable()
      assert(foldedEM() == ((8L, 3L))) // dup 5→1 NOT recounted
      // served census == the gated q344 tail on the batch edge set
      val nNodes = Seq.tabulate(6)(i => i + 1L).toDF("user_id")
        .agg(count(lit(1)).as("n_nodes"))
      val served = EventStream.dyadReportBatch(
          spark.table("dyad_cells"), broadcast(nNodes))
        .collect().map(_.toSeq).toSeq
      val batch = graft.ops.Events.dyadCensus(
          edges2.toDF("src", "dst").distinct(), nNodes)
        .collect().map(_.toSeq).toSeq
      assert(served == batch)
      // hand-checked: C(6,2)=15 dyads, m=3, asym=8−6=2, null=10,
      // reciprocity 2·3·10⁴ div 8 = 7500
      assert(served.head == Seq(6L, 8L, 3L, 2L, 10L, 7500L))
    } finally dyQ.stop()

    // stage 3: per-user degree map → octave retraction deltas
    val endIn = MemoryStream[EdgeEnd]
    val degQ = EventStream.degreeCellsStream(endIn.toDS())
      .writeStream.format("memory").queryName("deg_cells")
      .outputMode("append").start()
    def foldedCells(): Map[Long, Long] = spark.table("deg_cells")
      .groupBy("octave").agg(sum("d_users").as("n"))
      .where(col("n") =!= 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ends(es: Seq[(Long, Long)]) =
      es.flatMap(e => Seq(EdgeEnd(e._1, e._2), EdgeEnd(e._2, e._1)))
    try {
      endIn.addData(ends(edges1): _*); degQ.processAllAvailable()
      // wave 1 degrees: u1:2 u2:3 u3:2 u4:1 → octave 1:{u4}, 2:{u1,u2,u3}
      assert(foldedCells() == Map(1L -> 1L, 2L -> 3L))
      endIn.addData(ends(edges2.drop(edges1.size)): _*); degQ.processAllAvailable()
      // u1 moves 2→3 edges (octave stays 2 — retraction cancels);
      // u5 enters at degree 1; the repeated 5→1 adds nothing
      assert(foldedCells() == Map(1L -> 2L, 2L -> 3L))
      // served histogram == the gated q345 tail, octave-0 row included
      val nTotal = Seq.tabulate(6)(i => i + 1L).toDF("user_id")
        .agg(count(lit(1)).as("n_total"))
      val served = EventStream.degreeReportBatch(
          spark.table("deg_cells"), nTotal)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(served == Seq((0L, 1L), (1L, 2L), (2L, 3L))) // u6 at octave 0
    } finally degQ.stop()
  }

  test("handoffEdgeStream kills the query on out-of-order or redelivered events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // an event arriving BEHIND its bucket's folded state must kill the
    // query — a silent fold would emit an edge no batch run counts
    val late = MemoryStream[Ev]
    val q1 = EventStream.handoffEdgeStream(late.toDS())
      .writeStream.format("memory").queryName("hand_late")
      .outputMode("append").start()
    try {
      late.addData(Ev(1L, 2L, 500L)); q1.processAllAvailable()
      late.addData(Ev(2L, 1L, 400L)) // same bucket, earlier es
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(ex.getMessage.contains("in-order ingest contract") ||
        Option(ex.getCause).exists(_.getMessage.contains("in-order ingest contract")))
    } finally q1.stop()

    // an at-least-once redelivery of the folded event must also fail
    // (>= would let the byte-identical duplicate emit a spurious edge)
    val dup = MemoryStream[Ev]
    val q2 = EventStream.handoffEdgeStream(dup.toDS())
      .writeStream.format("memory").queryName("hand_dup")
      .outputMode("append").start()
    try {
      dup.addData(Ev(1L, 2L, 500L)); q2.processAllAvailable()
      dup.addData(Ev(1L, 2L, 500L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("in-order ingest contract") ||
        Option(ex.getCause).exists(_.getMessage.contains("in-order ingest contract")))
    } finally q2.stop()
  }
}
