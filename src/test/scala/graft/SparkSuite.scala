package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM — `Test / fork`),
  * built by the same [[Session]] factory as the mains, pinned to a
  * small width. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf: String = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh `java.io.tmpdir` directory named `prefix…`, deleted with
    * everything under it after the suite's last test. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => SparkSuite.deleteTree(d))
    finally super.afterAll()

  /** Run `body` under the RocksDB state store provider (required by
    * `transformWithState` operators — the watchdog and the curated
    * admission dedup plane), restoring the previous provider after. */
  def withRocksDBStateStore[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSuite {
  /** Best-effort recursive delete: what cannot be removed is left
    * behind rather than failing the suite it cleans up after. */
  def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach { p =>
          try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
        }
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  lazy val session: SparkSession = Session(cores = Some(4), logLevel = "WARN")
}
