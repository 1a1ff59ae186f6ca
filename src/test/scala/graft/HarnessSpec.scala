package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
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

  /** The .scala files under `dir` (relative to the repository root)
    * other than `allowed` whose text matches `pattern`. */
  private def mentioning(dir: String, pattern: Regex, allowed: Set[Path]): List[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p))
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .toList
  }

  test("only Harness builds a SparkSession under src/") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val harness = Paths.get("src/main/scala/graft/tools/Harness.scala")
    val offenders = mentioning("src", builder, Set(harness))
    assert(offenders.isEmpty,
      s"build the session with graft.tools.Harness.session instead: ${offenders.mkString(", ")}")
    assert(builder.findFirstIn(Files.readString(harness)).isDefined)
  }

  test("only FoldProcessor and the three bespoke processors hold streaming state by hand") {
    val dir = "src/main/scala/graft/streaming"
    val bespoke = Seq("FoldProcessor", "SessionProcessor", "LshIndexProcessor",
      "StarEdgeProcessor").map(n => Paths.get(s"$dir/$n.scala")).toSet
    val offenders = mentioning(dir, "StatefulProcessor|getValueState".r, bespoke)
    assert(offenders.isEmpty, "a ValueState-only processor is a fold passed to " +
      s"FoldProcessor.run, not a new StatefulProcessor: ${offenders.mkString(", ")}")
    assert(Files.readString(Paths.get(s"$dir/FoldProcessor.scala")).contains("getValueState"))
  }
}
