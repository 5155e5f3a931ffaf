package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, with a work directory under target/. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val work: String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "test-work")),
      getClass.getSimpleName).toAbsolutePath.toString
  lazy val spark: SparkSession = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
