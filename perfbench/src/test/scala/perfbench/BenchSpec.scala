package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session and scratch dirs for the benchmark's self-tests. */
trait BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  def tmpDir(tag: String): Path = {
    val d = Files.createTempDirectory(s"perfbench-$tag")
    dirs += d
    d
  }

  override def afterAll(): Unit = {
    dirs.foreach(Main.deleteTree)
    super.afterAll()
  }

  /** sha256 over every file's relative path and bytes, in path order. */
  def treeDigest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).sorted().forEach { p =>
      md.update(root.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
