package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

class HarnessSpec extends AnyFunSuite {
  test("Harness.median: rep 1 dropped, odd count takes the middle, even the mean of the middle two") {
    // rep 1 (cold codegen) is the largest, so keeping it would move every median
    assert(Harness.median(Seq(100.0, 3.0, 1.0, 2.0)) === 2.0)
    assert(Harness.median(Seq(100.0, 4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Harness.median(Seq(100.0, 5.0)) === 5.0)
    assert(Harness.median(Seq(0.0, 7.0, 1.0)) === 4.0)
  }

  test("only Harness builds a SparkSession under src/") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val harness = Paths.get("src/main/scala/graft/tools/Harness.scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.equals(harness))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(offenders.isEmpty,
      s"build the session with graft.tools.Harness.session instead: ${offenders.mkString(", ")}")
    assert(builder.findFirstIn(Files.readString(harness)).isDefined)
  }
}
