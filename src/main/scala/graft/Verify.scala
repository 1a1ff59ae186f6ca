package graft
import java.nio.file.{Files, Paths}
import graft.tools.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Trailing query
  * names restrict both to that subset (the single-query iteration loop):
  *   sbt 'runMain graft.Verify <sfDir> <outDir> [query...]'
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in oracle SQL would otherwise make a json.load of
    * oracle_sql.json fail. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    def wanted(name: String) = names.isEmpty || names(name)
    val queries = SparkEntry.queries
    names.foreach(queries(_)) // an unknown name fails before the session starts
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
