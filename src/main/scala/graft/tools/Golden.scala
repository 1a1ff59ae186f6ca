package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Golden-output digests (SURVEY §5.2.5): a sha-256 per declared query over
  * its sf0.001 result, frozen into src/test/resources/golden/digests.txt.
  * GoldenSpec recomputes and diffs — catches accidental semantic drift
  * between sessions. Regenerate deliberately with:
  *   sbt 'runMain graft.tools.Golden'  (then review the git diff!)
  */
object Golden {
  val goldenPath = "src/test/resources/golden/digests.txt"

  /** Canonical digest: rows in the query's own order, fields joined with
    * (0x1F,0x1E) separators, UTF-8 sha-256 hex. */
  def digest(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    df.collect().foreach { row =>
      val line = (0 until row.length).map { i =>
        val v = row.get(i)
        if (v == null) "\u0000" else v.toString
      }.mkString("\u001f") + "\u001e"
      md.update(line.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def computeAll(spark: SparkSession): Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> digest(fn(spark, Harness.sf0001))
    }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.fixtureCores)
    val lines = computeAll(spark).map { case (n, d) => s"$n $d" }
    Files.createDirectories(Paths.get(goldenPath).getParent)
    Files.writeString(Paths.get(goldenPath), lines.mkString("", "\n", "\n"))
    println(s"[golden] wrote ${lines.size} digests to $goldenPath")
    spark.stop()
  }
}
