package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkSession in `src/main` and `src/test` comes from
  * [[LocalSession]]: a builder written anywhere else would let a suite
  * or an entry point drift from the shared settings. Comments do not
  * count.
  */
class LocalSessionGuardSpec extends AnyFunSuite {
  private val needle = "SparkSession" + ".builder"
  private val home = Paths.get("src/main/scala/graft/LocalSession.scala")

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("sessions are built only through LocalSession") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), r))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.toVector finally files.close()
    }.filter(p => p.toString.endsWith(".scala") && p != home &&
        code(p).contains(needle))
      .map(_.toString).sorted
    assert(offenders.isEmpty,
      s"build sessions through graft.LocalSession: ${offenders.mkString(", ")}")
  }
}
