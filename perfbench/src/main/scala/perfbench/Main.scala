package perfbench

import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** A named measurement: `mapsTo` names the end-to-end metric a layer metric
  * is expected to move (empty for end-to-end metrics). */
final case class Metric(name: String, value: Double, unit: String, mapsTo: String = "")

/** What a workload sees of the run: the session, its private work
  * directory, the seed, the tracer and (traced runs only) the listener. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val traced: Boolean) {
  val tracer = new Tracer
  val listener: Option[OpListener] =
    if (traced) {
      val l = new OpListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** One call into a program layer: a span and, while tracing, its own
    * listener tag `<op tag>/<name>`, so the layer's Spark work can be
    * counted apart from the rest of the op. */
  def layer[T](name: String)(body: => T): T =
    if (!tracer.on) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(OpListener.TagKey)
      sc.setLocalProperty(OpListener.TagKey, s"$outer/$name")
      try tracer.span(name)(body)
      finally sc.setLocalProperty(OpListener.TagKey, outer)
    }

  /** Listener counts of one tag and everything nested under it. */
  def counts(tag: String): Counts =
    listener.map(_.sum(t => t == tag || t.startsWith(tag + "/"))).getOrElse(new Counts)

  /** Listener counts of every tag ending in `/<layer>`. */
  def layerCounts(layer: String): Counts =
    listener.map(_.sum(_.endsWith("/" + layer))).getOrElse(new Counts)

  /** Bytes the block manager holds for cached blocks, and its capacity. */
  def storageMb: (Double, Double) = {
    val st = spark.sparkContext.getExecutorMemoryStatus.values
    ((st.map(_._1).sum - st.map(_._2).sum) / 1e6, st.map(_._1).sum / 1e6)
  }
}

/** One closed-loop workload: a single client issues op i + 1 only after op
  * i has returned and been checked. */
trait Workload {
  type Out
  /** Measured ops in a run of `seconds`: a count fixed by the argument (its
    * seconds over the op's nominal cost on 4 cores), never by the clock, so
    * every run does the same work whatever the host's speed. */
  def opsPerRun(seconds: Int): Int
  /** Ops run (and checked) at the end of set-up, untimed, to warm caches and
    * the JIT; they get the indices -warmupOps .. -1. */
  def warmupOps: Int
  /** Builds inputs and artifacts; timed as part of set-up. */
  def setup(): Unit
  /** Untimed per-op preparation: the client generating its request. */
  def prepare(i: Int): Unit = ()
  /** The op itself; its wall time is the op latency. */
  def run(i: Int): Out
  /** True when the op's output is correct; untimed. */
  def check(i: Int, out: Out): Boolean
  /** Traced ops only, untimed: stand-alone calls into single layers. */
  def probe(i: Int): Unit = ()
  /** End-to-end metrics this workload adds to the shared ones; `busyS` is
    * the summed op time. */
  def extraMetrics(ops: Seq[Main.Op], busyS: Double): Seq[Metric] = Nil
  /** Per-layer metrics of a traced run. */
  def layerMetrics(ops: Seq[Main.Op]): Seq[Metric]
  /** Set-up facts: input and index sizes. */
  def info: Seq[Metric] = Nil
  /** Extra JSON fields for run.py (already rendered). */
  def extraJson: Seq[(String, String)] = Nil
}

object Main {
  /** One measured op: index, latency, wall-clock bounds, outcome. */
  final case class Op(i: Int, ms: Double, fromMs: Long, toMs: Long, ok: Boolean)

  private def arg(args: Array[String], name: String): String = {
    val k = args.indexOf(s"--$name")
    require(k >= 0 && k + 1 < args.length, s"missing --$name")
    args(k + 1)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--load-classes"))) return loadClasses()
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val out = arg(args, "out")
    val cpus = arg(args, "cpus").toInt
    val data = arg(args, "data")

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work, seed, traced)
    val w: Workload = workload match {
      case "bi_insights" => new BiInsights(ctx, data)
      case "transcript_ingest" => new TranscriptIngest(ctx)
      case "hybrid_search" => new HybridSearch(ctx, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupT0 = System.nanoTime()
    w.setup()
    val buildS = (System.nanoTime() - setupT0) / 1e9
    (-w.warmupOps until 0).foreach { i =>
      w.prepare(i)
      require(w.check(i, w.run(i)), s"warm-up op $i of $workload returned a wrong result")
    }
    val setupS = sessionS + (System.nanoTime() - setupT0) / 1e9

    val ops = measure(w, ctx, w.opsPerRun(seconds))
    val (cachedMb, storageMb) = ctx.storageMb
    ctx.listener.foreach(_ => org.apache.spark.perfbench.BusDrain(spark.sparkContext))

    val lat = ops.map(_.ms)
    val busyS = lat.sum / 1e3
    val (tailPct, tailMs) = Stats.tail(lat).getOrElse((100.0, lat.max))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(lat), "ms"),
      Metric("op_tail_ms", tailMs, "ms"),
      Metric("ops_per_s", ops.length / busyS, "1/s"),
      Metric("cached_mb", cachedMb, "MB")) ++ w.extraMetrics(ops, busyS)
    val layers =
      if (!traced) Nil
      else {
        ctx.tracer.dump(s"$work/spans.jsonl")
        sparkMetrics(ctx, ops) ++ w.layerMetrics(ops) :+
          // minus an untraced run's op_p50_ms, this is the tracing overhead
          Metric("trace.op_p50_ms", Stats.median(lat), "ms", "op_p50_ms")
      }
    val info = Seq(Metric("setup.session_s", sessionS, "s"),
      Metric("setup.inputs_and_builds_s", buildS, "s"),
      Metric("setup.warmup_s", setupS - sessionS - buildS, "s"),
      Metric("spark.storage_mb", storageMb, "MB"),
      Metric("tail_percentile", tailPct, "%")) ++ w.info

    def metrics(ms: Seq[Metric]): String = ms.map { m =>
      s"""{"name":${Json.str(m.name)},"value":${Json.num(m.value)},""" +
        s""""unit":${Json.str(m.unit)},"maps_to":${Json.str(m.mapsTo)}}"""
    }.mkString("[", ",", "]")
    val fields = Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ops.length.toString,
      "failed" -> ops.count(!_.ok).toString,
      "latencies_ms" -> lat.map(Json.num).mkString("[", ",", "]"),
      "e2e" -> metrics(e2e),
      "layers" -> metrics(layers),
      "info" -> metrics(info)) ++ w.extraJson
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}\n")
        .getBytes("UTF-8"))
    spark.stop()
  }

  /** The closed loop of `n` ops; in a traced run each is followed by its
    * untimed probes. */
  def measure(w: Workload, ctx: Ctx, n: Int): Seq[Op] = {
    val sc = ctx.spark.sparkContext
    (0 until n).map { i =>
      w.prepare(i)
      ctx.tracer.op = i
      ctx.tracer.on = ctx.traced
      sc.setLocalProperty(OpListener.TagKey, s"op:$i")
      val from = System.currentTimeMillis()
      val s = System.nanoTime()
      val out = Try(ctx.tracer.span("op")(w.run(i)))
      val ms = (System.nanoTime() - s) / 1e6
      val to = System.currentTimeMillis()
      ctx.tracer.on = false
      sc.setLocalProperty(OpListener.TagKey, null)
      val ok = out.flatMap(o => Try(w.check(i, o))) match {
        case Success(v) => v
        case Failure(e) =>
          System.err.println(s"op $i failed: $e")
          false
      }
      if (ctx.traced) {
        sc.setLocalProperty(OpListener.TagKey, s"probe:$i")
        ctx.tracer.on = true
        w.probe(i)
        ctx.tracer.on = false
        sc.setLocalProperty(OpListener.TagKey, null)
      }
      Op(i, ms, from, to, ok)
    }
  }

  /** Starts a session and runs a small parquet round trip, so a JVM run
    * with this alone loads the classes every run needs at start (run.py
    * archives them for class-data sharing). */
  def loadClasses(): Unit = {
    val work = java.nio.file.Files.createTempDirectory("perfbench-classes").toString
    val spark = session(2, work)
    spark.range(1000).selectExpr("id % 7 AS k", "id").write.parquet(s"$work/t.parquet")
    spark.read.parquet(s"$work/t.parquet").groupBy("k").count().collect()
    spark.stop()
  }

  /** Listener counts per op, and the op's driver-side time: its wall
    * time minus the part any Spark job covered. */
  def sparkMetrics(ctx: Ctx, ops: Seq[Op]): Seq[Metric] = {
    val per = ops.map(o => o -> ctx.counts(s"op:${o.i}"))
    def mean(f: Counts => Double) = Stats.mean(per.map { case (_, c) => f(c) })
    Seq(
      Metric("spark.jobs_per_op", mean(_.jobs.toDouble), "count", "op_p50_ms"),
      Metric("spark.stages_per_op", mean(_.stages.toDouble), "count", "op_p50_ms"),
      Metric("spark.tasks_per_op", mean(_.tasks.toDouble), "count", "ops_per_s"),
      Metric("spark.task_cpu_ms_per_op", mean(_.cpuNs / 1e6), "ms", "ops_per_s"),
      Metric("spark.driver_ms_per_op", Stats.mean(per.map { case (o, c) =>
        o.ms - c.jobMsWithin(o.fromMs, o.toMs) }), "ms", "op_p50_ms"),
      Metric("spark.shuffle_bytes_per_op", mean(_.shuffleBytes.toDouble), "bytes", "op_p50_ms"),
      Metric("spark.input_records_per_op", mean(_.inputRecords.toDouble), "count", "op_p50_ms"),
      Metric("spark.output_bytes_per_op", mean(_.outputBytes.toDouble), "bytes",
        "stored_bytes_per_input_byte"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
}
