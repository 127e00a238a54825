package graft

import org.apache.spark.sql.SparkSession

/** Feasibility probe for local-cluster mode (separate executor JVMs):
  * `sbt "Test/runMain graft.ClusterProbe"`. Verifies the container can
  * launch standalone executor processes and run a job that serializes
  * a custom codegen Expression with a JVM reference object across the
  * process boundary. The real parity coverage lives in
  * LocalClusterSpec; this exists to debug launch wiring in isolation.
  */
object ClusterProbe {
  /** JDK-17 module opens the executor JVMs need (spark-submit injects
    * these; a Worker-launched backend inherits only what we pass). */
  val jdk17AddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** The executor-launch wiring local-cluster mode needs in this
    * environment — ONE definition shared by the probe and
    * LocalClusterSpec, so the suite that depends on the wiring cannot
    * drift from the probe that debugs it:
    *  - executors are fresh JVMs and need the application classes
    *    (this build's main + test output dirs ride the test classpath);
    *  - the JDK-17 module opens spark-submit normally injects;
    *  - the Worker-side command builder resolves $SPARK_HOME/jars only
    *    once it knows the Scala version, which a normal spark-submit
    *    gets from load-spark-env.sh — injected via executorEnv. */
  def clusterConfigs: Map[String, String] = {
    // the Worker resolves the executor launch tree from
    // spark.test.home (falling back to env SPARK_HOME)
    System.setProperty("spark.test.home", "/opt/spark")
    Map(
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> jdk17AddOpens,
      "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13",
      "spark.executor.memory" -> "1024m")
  }

  def clusterSession(): SparkSession =
    Session.builder("local-cluster[2,2,2048]", 8)
      .appName("graft-local-cluster").config(clusterConfigs).getOrCreate()

  def main(args: Array[String]): Unit = {
    val spark = clusterSession()
    try {
      // 1. plain distributed job across the 2 executor processes
      val n = spark.range(0, 1000, 1, 8).selectExpr("sum(id)").collect()(0).getLong(0)
      println(s"[clusterprobe] sum=${n} executors=" +
        spark.sparkContext.statusTracker.getExecutorInfos.length)
      // 2. a custom codegen kernel with a reference object (weights
      //    array) must serialize to the executor JVMs
      import org.apache.spark.sql.functions._
      val w = graft.operators.Classify.seededWeights(1 << 12, 42L)
      val df = spark.createDataFrame(Seq((1L, "hello world"), (2L, "foo bar")))
        .toDF("id", "text").repartition(4)
      val scored = df.select(col("id"),
        graft.plans.HashExpressions.hashGramLogit(col("text"), w).as("s"))
        .orderBy("id").collect()
      println(s"[clusterprobe] kernel rows=${scored.length} s0=${scored(0).getDouble(1)}")
      println("[clusterprobe] OK")
    } finally spark.stop()
  }
}
