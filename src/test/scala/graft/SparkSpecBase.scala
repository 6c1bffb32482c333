package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  /** A fresh temp dir, deleted with everything in it when the test JVM
    * exits.
    */
  def tmpDir(prefix: String): String = SparkSpecBase.tmpDir(prefix)

  /** Recursive file-tree copy — the root-cloning setup shared by the
    * truncation-attack tests (clone an index root, delete one part file,
    * assert the integrity gates catch it).
    */
  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else {
      java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Clone every entry of index root `src` into a fresh tmp dir. */
  def cloneRoot(src: String, prefix: String): String = {
    val dst = tmpDir(prefix)
    new java.io.File(src).listFiles()
      .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    dst
  }
}

object SparkSpecBase {

  /** The dirs [[tmpDir]] created, deleted by one shutdown hook. */
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  private lazy val deleteAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => created.forEach { dir =>
      if (java.nio.file.Files.exists(dir))
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => scala.util.Try(java.nio.file.Files.delete(p)))
    }, "graft-test-tmp-cleanup"))

  def tmpDir(prefix: String): String = {
    deleteAtExit
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    created.add(dir)
    dir.toString
  }
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
