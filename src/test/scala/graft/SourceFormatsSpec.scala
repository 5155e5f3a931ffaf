package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Source-format coverage beyond parquet (A1): the same relation read
  * back from CSV and JSON-lines with explicit schemas is row-identical to
  * the parquet original — the plumbing a lakehouse ingest path needs for
  * raw drops before compaction to columnar. Explicit schemas, never
  * inference: schema inference is a full extra pass over the data at
  * scale and is non-deterministic on dirty input. */
class SourceFormatsSpec extends AnyFunSuite with SparkTestBase {

  // the events `ts` may arrive as nanos-as-long (the legacy nanosAsLong
  // conf is set once, in SparkEntry.session) or as NTZ micros —
  // Events.events branches on the resolved schema; this suite never
  // reads ts, so either shape serves
  private def eventsDf =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("CSV, JSON-lines, and ORC round-trip the events relation losslessly") {
    val src = eventsDf
      .select(col("event_id"), col("user_id"), col("event_type"))
    val schema = src.schema
    val base = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    src.write.mode("overwrite").json(s"$base/json")
    src.write.mode("overwrite").orc(s"$base/orc")

    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$base/csv")
    val fromJson = spark.read.schema(schema).json(s"$base/json")
    val fromOrc = spark.read.schema(schema).orc(s"$base/orc")

    val want = src.orderBy("event_id").collect().toSeq
    assert(fromCsv.orderBy("event_id").collect().toSeq == want)
    assert(fromJson.orderBy("event_id").collect().toSeq == want)
    assert(fromOrc.orderBy("event_id").collect().toSeq == want)
    assert(fromCsv.schema == schema && fromJson.schema == schema && fromOrc.schema == schema)
  }

  test("Events.events reads all three physical ts shapes to the same epochs") {
    val evs = Seq((1L, 10L, 1700000000L), (2L, 10L, 1700003600L), (3L, 11L, 1700007200L))
    def epochs(dir: String): Seq[(Long, Long)] =
      graft.ops.Events.events(spark, dir)
        .select(col("event_id"), col("es"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = evs.map { case (eid, _, es) => (eid, es) }.sorted
    assert(epochs(writeMiniEvents(evs)) == want)        // nanos-as-long
    assert(epochs(writeMiniEventsNtz(evs)) == want)     // TIMESTAMP_NTZ micros
    assert(epochs(writeMiniEventsInstant(evs)) == want) // instant
  }

  test("NTZ feed: UTC-equivalent session zones pass, others fail with the remedy") {
    val dir = writeMiniEventsNtz(Seq((1L, 10L, 1700000000L)))
    val orig = spark.conf.get("spark.sql.session.timeZone")
    try {
      // Etc/UTC normalizes to the UTC offset — epoch conversion is
      // exact, the guard must not reject it (r9 ADVICE)
      spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
      assert(graft.ops.Events.events(spark, dir)
        .select(col("es")).head().getLong(0) == 1700000000L)
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        graft.ops.Events.events(spark, dir)
      }
      assert(e.getMessage.contains("pin spark.sql.session.timeZone=UTC"))
      assert(e.getMessage.contains("America/New_York"))
    } finally spark.conf.set("spark.sql.session.timeZone", orig)
  }

  test("the shared test session runs under the engine's SparkEntry.session settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("ORC pushes filters to the scan like parquet") {
    val base = java.nio.file.Files.createTempDirectory("graft_orcpush").toString
    eventsDf
      .select(col("event_id"), col("user_id")).write.mode("overwrite").orc(base)
    val plan = spark.read.orc(base).where(col("user_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("user_id"),
      "expected the user_id predicate in the ORC scan's PushedFilters")
  }
}
