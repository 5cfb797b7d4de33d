package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SourceSinks

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its contents when the suite
    * ends.
    */
  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  // The session is shared across suites; only the suite's temp dirs go.
  override def afterAll(): Unit = synchronized {
    tempDirs.foreach(d => SourceSinks.deleteRecursively(d.toFile))
    tempDirs.clear()
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.builder("local[4]").appName("graft-test").getOrCreate()
}
