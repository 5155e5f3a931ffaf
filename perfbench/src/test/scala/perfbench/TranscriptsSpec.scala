package perfbench

import graft.etl.TextExtract
import org.apache.spark.sql.functions._

class TranscriptsSpec extends SparkSuite {
  test("the generator is deterministic per seed and batch") {
    assert(Transcripts.batch(7, 3) == Transcripts.batch(7, 3))
    assert(Transcripts.batch(7, 3).map(_.text) != Transcripts.batch(8, 3).map(_.text))
    assert(Transcripts.batch(7, 3).map(_.text) != Transcripts.batch(7, 4).map(_.text))
  }

  test("each batch has 41 docs with 4 planted misses and distinct NRPs") {
    for (seed <- 1L to 5L; b <- 0 to 2) {
      val docs = Transcripts.batch(seed, b)
      assert(docs.size == 41 && docs.count(_.planted) == 4)
      assert(docs.map(_.nrp).distinct.size == 41)
    }
  }

  test("expected IPS/IPK follow the reference formulas with round2") {
    val docs = Transcripts.batch(11, 0)
    docs.foreach { d =>
      var bm, sks = 0.0
      d.semesters.foreach { s =>
        val cs = d.courses.filter(c => (c.tahun, c.semester) == ((s.tahun, s.semester)))
        val sbm = cs.map(c => c.sks * Transcripts.gradeWeights(c.nilai)).sum
        val ssks = cs.map(_.sks).sum.toDouble
        bm += sbm; sks += ssks
        assert(s.ips == math.floor(sbm / ssks * 100 + 0.5) / 100)
        assert(s.ipk == math.floor(bm / sks * 100 + 0.5) / 100)
      }
      assert(d.semesters.map(s => (s.tahun, s.semester)) ==
        d.semesters.map(s => (s.tahun, s.semester)).sorted)
    }
  }

  test("TextExtract.quarantine catches exactly the planted docs; courses parse back") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val docs = Transcripts.batch(seed, 0)
      val dir = s"$work/batch$seed"
      Transcripts.write(docs, dir)
      val raw = TextExtract.fromBinaryDir(spark, dir)
      val (good, bad) = TextExtract.quarantine(raw)
      val badNames = bad.select("path").collect().map(r => new java.io.File(
        new java.net.URI(r.getString(0)).getPath).getName).toSet
      assert(badNames == docs.filter(_.planted).map(_.name).toSet)
      val perNrp = TextExtract.transcriptCourses(good)
        .groupBy("nrp").agg(sum(col("bobot_matkul")), sum(col("sks")), count(lit(1)))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3))))
        .toMap
      docs.filterNot(_.planted).foreach { d =>
        val (bm, sks, n) = perNrp(d.nrp)
        assert(n == d.courses.size)
        assert(Transcripts.round2(bm / sks) == d.ipk)
      }
    }
  }
}
