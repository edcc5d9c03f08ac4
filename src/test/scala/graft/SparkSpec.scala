package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (getOrCreate — one JVM-wide session,
  * never stopped mid-run so suites can share it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.create("graft-test", "local[4]", 4)

  /** A fresh fixture directory under [[graft.streaming.EventStreams.harnessRoot]],
    * whose JVM shutdown hook deletes it: specs leave nothing in
    * `java.io.tmpdir`.
    */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.streaming.EventStreams.harnessRoot), prefix)
      .toAbsolutePath.toString
}
