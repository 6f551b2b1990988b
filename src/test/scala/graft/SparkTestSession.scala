package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val get: SparkSession =
    LocalSession(4, "spark.app.name" -> "graft-test")

  /** A fresh directory under `java.io.tmpdir`, deleted with its contents
    * when the test JVM exits (tests run forked, so the hook fires at the
    * end of every run). */
  def scratchDir(prefix: String): String =
    BenchDirs.deleteOnExit(Files.createTempDirectory(prefix).toString)
}
