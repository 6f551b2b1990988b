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

  /** `body` with the shared session's plans interpreted (the two confs
    * `PlanMode` sets for a small step), its own confs restored after. */
  def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val own = keys.map(k => k -> get.conf.get(k))
    try {
      get.conf.set(keys(0), "false")
      get.conf.set(keys(1), "NO_CODEGEN")
      body
    } finally own.foreach { case (k, v) => get.conf.set(k, v) }
  }
}
