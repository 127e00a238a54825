package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole (serially-executed) test JVM,
  * under the production session policy ([[Session.builder]]). */
object TestSpark {
  lazy val spark: SparkSession =
    Session.builder("local[8]", 8).appName("graft-test").getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}
