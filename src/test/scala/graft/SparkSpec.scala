package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (guide: one lazy SparkSession). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with all it holds after the suite. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } finally super.afterAll()
}
