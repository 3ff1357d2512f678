package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the one-of-each surfaces: only [[Sessions]]
  * builds a SparkSession and only [[Trace]] extends SparkListener, so a
  * new entry point cannot run under an unverified config or grow its
  * own tally.
  */
class SurfaceSpec extends AnyFunSuite {

  private def offenders(root: String, needle: String, allowed: String): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(dir)
    try s.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != allowed)
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted
    finally s.close()
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    // spelled in two pieces so this file does not match itself
    val needle = "SparkSession" + ".builder("
    assert(offenders("src", needle, "Sessions.scala").isEmpty)
  }

  test("only Trace extends SparkListener in the main sources") {
    assert(offenders("src/main", "extends SparkListener", "Trace.scala").isEmpty)
  }
}
