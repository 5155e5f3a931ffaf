package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all specs (lazy singleton — Spark startup is
  * the dominant test cost, so every suite reuses one session), built from
  * the engine's own definition, [[SparkEntry.session]]. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Every file under `dir`, relative path → size: a listing to compare
    * before and after an operation that must write nothing. */
  def fileListing(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> p.toFile.length).toMap
    finally walk.close()
  }

  /** Job-start stage names of everything `body` runs, in start order. */
  def jobsOf(body: => Unit): Seq[String] = {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e.stageInfos.map(_.name).mkString(";") }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.toSeq
  }

  /** Write a tiny star (lineitem + orders [+ part]) to a temp dir shaped
    * like the driver's testdata, so Star/Insights run on controlled rows.
    *
    * Rows: (orderkey, custkey, partkey, shipdate "yyyy-MM-dd",
    * returnflag, linestatus, quantity).
    */
  def writeMiniStar(rows: Seq[(Long, Long, Long, String, String, String, Double)]): String = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mini").toString
    val li = rows.map { case (ok, _, pk, sd, rf, ls, q) => (ok, pk, sd, rf, ls, q) }
      .toDF("l_orderkey", "l_partkey", "sd", "l_returnflag", "l_linestatus", "l_quantity")
      .withColumn("l_shipdate", to_timestamp(col("sd"))).drop("sd")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    rows.map { case (ok, ck, _, _, _, _, _) => (ok, ck) }.distinct
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    rows.map(_._3).distinct.map(pk => (pk, (pk % 50).toInt))
      .toDF("p_partkey", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  /** Write a tiny events.parquet from (event_id, user_id, epoch-second)
    * rows. The `ts` column is a Long of nanoseconds — the same shape the
    * driver's TIMESTAMP(NANOS) parquet presents under the session's
    * nanosAsLong conf, so `Events.events`' `ts div 1e9` path is exercised
    * unchanged. */
  def writeMiniEvents(evs: Seq[(Long, Long, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evs").toString
    evs.map { case (eid, uid, es) =>
      (eid, es * 1000000000L, uid, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** [[writeMiniEvents]] with an explicit event_type per row — for the
    * transition/centrality family ((event_id, user_id, epoch-second,
    * type) rows). */
  def writeMiniEventsTyped(evs: Seq[(Long, Long, Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evt").toString
    evs.map { case (eid, uid, es, t) =>
      (eid, es * 1000000000L, uid, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** [[writeMiniEvents]] with `ts` stored as TIMESTAMP_NTZ (micros,
    * isAdjustedToUTC=false) — the modern feed shape `Events.events`'
    * NTZ branch converts through the (UTC-pinned) session zone. The
    * wall-clock is derived from the epoch under UTC, so `es` must read
    * back exactly the input. */
  def writeMiniEventsNtz(evs: Seq[(Long, Long, Long)]): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val dir = java.nio.file.Files.createTempDirectory("graft_evs_ntz").toString
    evs.map { case (eid, uid, es) => (eid, es, uid, "view", 1.0, "{}") }
      .toDF("event_id", "es0", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("es0"))
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .drop("es0")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** [[writeMiniEvents]] with `ts` stored as an instant (TimestampType)
    * — the third physical shape `Events.events` accepts. */
  def writeMiniEventsInstant(evs: Seq[(Long, Long, Long)]): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val dir = java.nio.file.Files.createTempDirectory("graft_evs_inst").toString
    evs.map { case (eid, uid, es) => (eid, es, uid, "view", 1.0, "{}") }
      .toDF("event_id", "es0", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("es0")))
      .drop("es0")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Write a tiny documents.parquet from (doc_id, text) pairs. */
  def writeMiniDocs(docs: Seq[(Long, String)]): String =
    writeMiniDocsLang(docs.map { case (id, t) => (id, t, "en") })

  /** [[writeMiniDocs]] with an explicit lang per doc — the one writer of
    * the documents fixture schema (source = src{id % 3}, n_chars = text
    * length). */
  def writeMiniDocsLang(docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    docs.map { case (id, t, l) => (id, t, l, s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Write a tiny embeddings.parquet from (vec_id, vector) pairs. */
  def writeMiniEmbeddings(vecs: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_embs").toString
    vecs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
}
