package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** A suite with a SparkSession of its own, built through
  * [[LocalSession]] before the first test and stopped after the last.
  * A suite that needs another width or extra settings overrides
  * [[session]] and nothing else.
  */
trait SparkSuite extends AnyFunSuite with TempDirs {
  protected var spark: SparkSession = _

  protected def session: SparkSession.Builder = LocalSession(4)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = session.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}

/** Temporary directories that live as long as their suite: every
  * [[tempDir]] is removed, with everything under it, after the last
  * test (in a [[SparkSuite]], once the session has stopped). The one
  * place a test makes a temporary directory; `TempDirGuardSpec`
  * keeps it so.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the JVM's temporary directory. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => TempDirs.deleteTree(d))
}

object TempDirs {
  /** Deletes `root` and everything under it; a missing `root` is
    * nothing to delete.
    */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
