package perfbench

import graft.SparkEntry
import graft.etl.Star
import graft.ops.Insights
import org.apache.spark.sql.Row
import scala.collection.mutable

/** bi_insights: the reference's analytic surface. One op runs one of the
  * insight queries over the program's test tables in `dir` (read only) and
  * collects its result; each round is a seeded permutation of all of them,
  * and a run is made of whole rounds. The star memo is built (and cached) in set-up and the
  * first warm-up round is the reference round: its results are what run.py
  * checks against DuckDB running the program's SQL oracle on the same
  * parquet, and what every later round must reproduce exactly. */
final class BiInsights(ctx: Ctx, dir: String) extends Workload {
  type Out = (Seq[String], Array[Row])
  private val spark = ctx.spark
  private val names = Insights.queries.keys.toIndexedSeq.sorted
  private val roundSize = names.size
  /** One round, the reference round: in a fresh JVM the first round is the
    * slowest (~18 s on 4 cores, against ~12 s for the next ones). */
  val warmupOps: Int = roundSize
  /** Whole rounds, one per ~12 s of `--seconds` (a round's cost on 4 cores),
    * and at least two: the median of one sample per query moves by the gap
    * between the queries next to it. */
  def opsPerRun(seconds: Int): Int = roundSize * math.max(2, math.round(seconds / 12.0).toInt)

  private val reference = mutable.Map.empty[String, (String, Int)]
  private val opsPerQuery = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val queryOf = mutable.Map.empty[Int, String]
  private var order: IndexedSeq[String] = names
  private def query(i: Int): String = order(Math.floorMod(i, roundSize))
  private var factRows = 0L
  private var starS = 0.0
  private var starMb = 0.0

  def setup(): Unit = {
    val t0 = System.nanoTime()
    factRows = Star.fact(spark, dir).count()
    Star.factWithTahap(spark, dir).count()
    Star.semesterFact(spark, dir).count()
    Star.dimMahasiswa(spark, dir).count()
    starS = (System.nanoTime() - t0) / 1e9
    starMb = ctx.storageMb._1
  }

  override def prepare(i: Int): Unit =
    if (Math.floorMod(i, roundSize) == 0)
      order = new scala.util.Random(ctx.seed * 7919 + Math.floorDiv(i, roundSize)).shuffle(names)

  def run(i: Int): Out = {
    queryOf(i) = query(i)
    val df = ctx.layer("insights.construct")(Insights.queries(query(i))(spark, dir))
    ctx.layer("insights.plan")(df.queryExecution.executedPlan)
    val rows = ctx.layer("insights.exec")(df.collect())
    (df.columns.toSeq, rows)
  }

  def check(i: Int, out: Out): Boolean = {
    val q = query(i)
    val d = Digest(out._1, out._2)
    if (i >= 0) opsPerQuery(q) += 1
    reference.get(q) match {
      case None => reference(q) = (d, out._2.length); true
      case Some((r, _)) => r == d
    }
  }

  override def layerMetrics(ops: Seq[Main.Op]): Seq[Metric] = {
    val t = ctx.tracer
    Seq(
      Metric("star.build_s", starS, "s", "setup_s"),
      Metric("star.cached_mb", starMb, "MB", "cached_mb"),
      Metric("insights.construct_ms_p50", Stats.median(t.ms("insights.construct")), "ms", "op_p50_ms"),
      Metric("insights.plan_ms_p50", Stats.median(t.ms("insights.plan")), "ms", "op_p50_ms"),
      Metric("insights.exec_ms_p50", Stats.median(t.ms("insights.exec")), "ms", "op_p50_ms")) ++
      ops.groupBy(o => queryOf(o.i)).toSeq.sortBy(_._1).map { case (q, os) =>
        Metric(s"insights.$q.ms", Stats.median(os.map(_.ms)), "ms", "op_tail_ms")
      }
  }

  override def info: Seq[Metric] = Seq(
    Metric("input.star_build_s", starS, "s"),
    Metric("input.star_fact_rows", factRows.toDouble, "rows"),
    Metric("input.star_cached_mb", starMb, "MB"))

  /** The reference round's digests, the SQL oracle per query, and how many
    * measured ops ran each query (a wrong reference fails all of them). */
  override def extraJson: Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    Seq(
      "data_dir" -> Json.str(dir),
      "reference" -> names.map { q =>
        val (d, n) = reference(q)
        s"""${Json.str(q)}:{"digest":${Json.str(d)},"rows":$n,"ops":${opsPerQuery(q)},""" +
          s""""sql":${Json.str(oracle(q))}}"""
      }.mkString("{", ",", "}"))
  }
}
