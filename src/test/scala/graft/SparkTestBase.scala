package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy), and a
  * per-suite scratch root under `java.io.tmpdir` that is deleted, with
  * everything in it, after the suite.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  private var scratch: Path = null
  private def scratchRoot: Path = synchronized {
    if (scratch == null) scratch = Files.createTempDirectory("graft-suite")
    scratch
  }

  /** A fresh directory under this suite's scratch root. */
  def tempDir(prefix: String): String = Files.createTempDirectory(scratchRoot, prefix).toString

  /** A fresh empty file under this suite's scratch root. */
  def tempFile(prefix: String, suffix: String): Path = Files.createTempFile(scratchRoot, prefix, suffix)

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      if (scratch != null) org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
      scratch = null
    }
}

object SparkTestBase {
  /** The session Bench ships ([[Sessions.local]]), on a fixed 4 cores so a
    * suite's partition counts do not follow the host.
    */
  lazy val session: SparkSession = Sessions.local(cpus = 4)
}
