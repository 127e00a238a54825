package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  private def scalaSources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("graft.Session is the only place a SparkSession builder is made") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val sites = (scalaSources("src/main/scala") ++ scalaSources("src/test/scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.toString).sorted
    assert(sites == Seq("src/main/scala/graft/Session.scala"),
      s"${sites.size} files build their own session: $sites")
  }

  test("the test session runs under the production session policy") {
    val conf = TestSpark.spark.sparkContext.getConf
    Session.settings.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k = ${conf.getOption(k)}, policy $v")
    }
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(TestSpark.spark.sparkContext.master == "local[8]")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }
}
