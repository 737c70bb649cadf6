package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every temporary directory a test makes comes from
  * [[TempDirs.tempDir]], which removes it after the suite: a
  * `createTempDirectory` written anywhere else in `src/test` leaves
  * its directory behind after every run. Comments do not count.
  */
class TempDirGuardSpec extends AnyFunSuite {
  private val needle = "createTemp" + "Directory"
  private val home = Paths.get("src/test/scala/graft/SparkSuite.scala")

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("tests make temporary directories only through tempDir") {
    val root = Paths.get("src/test")
    assert(Files.isDirectory(root), root)
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala.toVector
        .filter(p => p.toString.endsWith(".scala") && p != home &&
          code(p).contains(needle))
        .map(_.toString).sorted
      finally files.close()
    assert(offenders.isEmpty,
      s"make test directories with tempDir: ${offenders.mkString(", ")}")
  }
}
