package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; sbt forks a
  * single test JVM). Data: the sf0.001 driver-generated tables. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh, not yet created directory path named after `name`, under
    * this JVM's one spec scratch root (deleted when the test JVM exits). */
  def scratch(name: String): String = new java.io.File(SparkSpecBase.scratchRoot,
    s"${name}_${SparkSpecBase.scratchSeq.incrementAndGet()}").getPath

  /** Formatted physical plan text of a query's DataFrame. */
  def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val scratchRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_spec_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root))
    root
  }
  private val scratchSeq = new java.util.concurrent.atomic.AtomicInteger()
}
