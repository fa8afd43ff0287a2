package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftSession
import graft.sources.Tables

/** One shared session for the whole forked test JVM. */
object SparkT {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
  def table(name: String): DataFrame = Tables.load(spark, sfDir, name)
}
