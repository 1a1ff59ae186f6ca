package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.Verify.q

/** Ad-hoc single-query runner for iteration: writes one query's result
  * parquet + its oracle SQL, so tools/check.py can verify it in isolation.
  *   sbt 'runMain graft.tools.Smoke <sfDir> <outDir> <query...>'
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val oracles = SparkEntry.oracleSql
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      println(f"[smoke] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val json = names.filter(oracles.contains)
      .map(n => s"${q(n)}: ${q(oracles(n))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
