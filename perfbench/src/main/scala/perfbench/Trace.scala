package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call: `parent` is the enclosing span's id (-1 at top level),
  * `op` the op in flight (-1 outside the measured loop). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, fed from the benchmark's own calls into the
  * program's public functions (nothing inside the program is instrumented).
  * Spans are kept in memory and written once, when the run ends. While [[on]]
  * is false a span runs its body and records nothing. Single client thread. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var on = false
  /** The op in flight; -1 outside the measured loop. */
  var op: Long = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  def ms(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** One JSON object per line: name, start/end (ns, monotonic), parent, op. */
  def dump(path: String): Unit = {
    val lines = spans.iterator.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark work counted per op: jobs, stages, tasks, task CPU, shuffle bytes
  * written, input records read, output bytes written, and the wall-clock
  * interval of every job. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobMsWithin(fromMs: Long, toMs: Long): Long = {
    val clipped = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Attributes Spark listener events to the op in flight. The harness sets
  * the local property [[OpListener.TagKey]] before each op; Spark copies
  * local properties into every job the op starts (broadcast and subquery
  * jobs on other threads included), and stages and tasks inherit their
  * job's tag. Events without a tag land under [[OpListener.Untagged]], so
  * the per-tag counts always sum to [[total]]. Registered only in traced
  * runs. */
final class OpListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  private val byTag = mutable.Map.empty[String, Counts]
  val total = new Counts
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTag = mutable.Map.empty[Int, String]

  private def bump(tag: String)(f: Counts => Unit): Unit = {
    f(byTag.getOrElseUpdate(tag, new Counts))
    f(total)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.TagKey)))
      .getOrElse(OpListener.Untagged)
    jobTag(e.jobId) = tag
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageTag(_) = tag)
    bump(tag)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val tag = jobTag.getOrElse(e.jobId, OpListener.Untagged)
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    bump(tag)(_.jobIntervals += ((start, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bump(stageTag.getOrElse(e.stageInfo.stageId, OpListener.Untagged))(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    bump(stageTag.getOrElse(e.stageId, OpListener.Untagged)) { c =>
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def apply(tag: String): Counts = synchronized(byTag.getOrElse(tag, new Counts))

  /** Sum over the tags accepted by `p`. */
  def sum(p: String => Boolean): Counts = synchronized {
    val c = new Counts
    byTag.foreach { case (t, v) => if (p(t)) c += v }
    c
  }
}

object OpListener {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"
}
