package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh `<prefix>…` temp dir, deleted when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a static conf, so it goes in before the session exists; the dir
    // lives as long as the test JVM
    val warehouse = tempDir("graft_wh")
    System.setProperty("spark.sql.warehouse.dir", warehouse.toString)
    GraftSession.local(4)
  }

  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(operators.VectorOps.deleteRecursively(dir))
    dir
  }
}
