package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** The one session and timing harness: every main and the test session
  * build their SparkSession here, so the committed goldens and plan table
  * and the timings all come from the same confs. */
object Harness {
  /** The fixture and core count the goldens, the plan table and the test
    * session are pinned to. */
  val sf0001 = "/root/testdata/sf0.001"
  val fixtureCores = 4
  val sf001 = "/root/testdata/sf0.01"
  /** Bench-scale fixture: the timing mains' default. */
  val sf01 = "/root/testdata/sf0.1"

  /** Core count and fixture of the timing and correctness mains. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf01)

  /** `local[cores]` with `cores` shuffle partitions, UTC, AQE on, no UI, a
    * fresh temp warehouse (deleted when the JVM exits), WARN logging.
    * events.ts is parquet timestamp[ns]: it is read as raw nanos
    * (Tables.events converts to µs TimestampType with integer arithmetic). */
  def session(cores: Int = envCores): SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // Execute a query END-TO-END: write to the noop sink, not count().
  // count() lets Catalyst elide final Sorts and project nothing, which
  // flattered sort/projection-heavy queries (round-2 verdict); the noop
  // sink materializes every output row through the full plan and
  // discards it — the standard Spark benchmarking sink.
  // by-name df: queries that do real work at CONSTRUCTION time
  // (sink_partitioned's write, globalRank's count jobs) must fail inside
  // the try — a failed query is loudly visible, never a run abort.
  // NonFatal only (r3 advice): an OutOfMemoryError / codegen LinkageError
  // means the session may be corrupted — timing the remaining queries
  // against it would write misleading numbers, so fatal errors abort.
  def exec(tag: String, name: String, df: => DataFrame): Unit =
    try df.write.mode("overwrite").format("noop").save() catch {
      case NonFatal(e) => System.err.println(s"[$tag] $name FAILED: $e")
    }

  /** Warm the session (scheduler, codegen, parquet footer reads) so the
    * first measured query doesn't absorb startup cost. */
  def warmUp(spark: SparkSession, sfDir: String, tag: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("agg_pricing_summary")
      .foreach(f => exec(tag, "warmup", f(spark, sfDir)))
  }

  /** Wall seconds of one evaluation of `body`. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` timed evaluations of `body`. Each rep builds a fresh frame, so
    * the blocks prior reps persisted are garbage that only adds GC and
    * eviction pressure: every persisted RDD is dropped after each rep. */
  def reps(spark: SparkSession, n: Int)(body: => Unit): Seq[Double] =
    (1 to n).map { _ =>
      val t = time(body)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      t
    }

  /** Median of reps 2..N: rep 1 carries cold codegen and is dropped; an
    * even count of warm reps takes the mean of the two middle values. */
  def median(ts: Seq[Double]): Double = {
    val warm = ts.drop(1).sorted
    if (warm.size % 2 == 1) warm(warm.size / 2)
    else (warm(warm.size / 2 - 1) + warm(warm.size / 2)) / 2.0
  }
}
