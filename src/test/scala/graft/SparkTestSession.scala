package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val get: SparkSession =
    LocalSession(4, "spark.app.name" -> "graft-test")
}
