package perfbench

import org.apache.spark.sql.functions._

class OpListenerSpec extends SparkSuite {
  test("per-op listener counts sum to the session totals") {
    val ctx = new Ctx(spark, work, 1, traced = true)
    val l = ctx.listener.get
    val sc = spark.sparkContext
    // untagged work before the loop, like set-up
    spark.range(1000).agg(sum("id")).collect()
    (0 until 4).foreach { i =>
      sc.setLocalProperty(OpListener.TagKey, s"op:$i")
      ctx.tracer.on = true
      spark.range(10000 * (i + 1)).repartition(3).groupBy(col("id") % 7).count().collect()
      ctx.layer("nested")(spark.range(100).collect())
      ctx.tracer.on = false
      sc.setLocalProperty(OpListener.TagKey, null)
    }
    org.apache.spark.perfbench.BusDrain(sc)

    val ops = (0 until 4).map(i => ctx.counts(s"op:$i"))
    val untagged = l(OpListener.Untagged)
    def check(f: Counts => Long): Unit =
      assert(ops.map(f).sum + f(untagged) == f(l.total))
    check(_.jobs); check(_.stages); check(_.tasks); check(_.cpuNs)
    check(_.shuffleBytes); check(_.inputRecords); check(_.outputBytes)
    assert(ops.forall(c => c.jobs >= 2 && c.tasks > 0 && c.shuffleBytes > 0))
    assert(untagged.jobs >= 1)
    // every job Spark itself tracked was attributed exactly once
    assert(l.total.jobs == sc.statusTracker.getJobIdsForGroup(null).length)
    assert(ctx.layerCounts("nested").jobs == 4)
  }

  test("driver time: job intervals are merged before they are subtracted") {
    val c = new Counts
    c.jobIntervals ++= Seq((10L, 20L), (15L, 30L), (40L, 50L), (45L, 48L))
    assert(c.jobMsWithin(0, 100) == 30)
    assert(c.jobMsWithin(18, 42) == 14)
  }
}
