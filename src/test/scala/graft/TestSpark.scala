package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** One shared session for the whole (serially-executed) test JVM,
  * under the production session policy ([[Session.builder]]). */
object TestSpark {
  lazy val spark: SparkSession =
    Session.builder("local[8]", 8).appName("graft-test").getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  private lazy val tempDirs = {
    val dirs = new ConcurrentLinkedQueue[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))
    dirs
  }

  /** A fresh folder `<prefix><random>` under the checkout's `target/`,
    * deleted with its contents when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val target = Files.createDirectories(Paths.get("target").toAbsolutePath)
    val dir = Files.createTempDirectory(target, prefix)
    tempDirs.add(dir.toFile)
    dir.toString
  }
}
