package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: small core count, UTC, tiny shuffle
  * fan-out — Verify's session at 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, 4)

  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted when the JVM exits (the exit
    * deletion [[TmpPaths]] registers its scratch with). */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    org.apache.spark.sql.graftshim.Shim.deleteOnExit(d.toFile)
    d
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; don't stop between suites
    super.afterAll()
  }
}
