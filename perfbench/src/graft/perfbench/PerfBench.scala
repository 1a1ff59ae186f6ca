package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.PerfBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import Workload.median

/** Times the traced run's layer probes, counting the jobs each one ran. */
final class Probe(spark: SparkSession, spans: Spans) {
  final case class Timed(s: Double, jobs: Int)
  def time(name: String)(f: => Unit): Timed = {
    PerfBenchBus.drain(spark.sparkContext)
    Events.take()
    val t0 = System.nanoTime()
    spans.around(s"probe $name", -1)(f)
    val s = (System.nanoTime() - t0) / 1e9
    PerfBenchBus.drain(spark.sparkContext)
    Timed(s, Events.take().count(_.isInstanceOf[Events.JobStart]))
  }
}

object Probe {
  def bytes(dir: String): Long = {
    val files = Files.walk(Paths.get(dir))
    try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally files.close()
  }
}

/** One op as it ran: wall and process CPU seconds, work units, outcome, and
  * the trace totals when tracing was on. */
final case class Rec(name: String, group: String, pass: Int, wall: Double,
    cpu: Double, work: Double, ok: Boolean, trace: Option[OpTrace])

/** The benchmark's JVM side: one session, one caller issuing ops in a
  * closed loop. Warm-up cycles first, then a fixed number of timed cycles
  * set by --seconds. The traced run rounds that number up to whole groups
  * of four cycles, half of them with the listeners recording, then runs
  * the workload's layer probes and, given --catalog, the catalog probe.
  *
  * Arguments (all required but --catalog): --workload --seed --seconds
  * --trace --data --work --t0-ms --gen-cpu-s --cores --result --spans
  * --digests --record
  * --catalog */
object PerfBench {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs = os.getProcessCpuTime
  private val spans = new Spans
  private var opIds = 0
  private var sessionMs = 0L
  private var catalogRecs = Seq.empty[Rec]

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val trace = o("trace") == "1"
    val cores = o("cores")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o("workload")}")
      // fixed, not the core count, so plans and catalog digests do not
      // depend on the machine
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      // the status store keeps at most this many jobs, stages, tasks and
      // SQL executions (defaults 1000, 1000, 100000, 1000), so the heap it
      // holds is small and the same at every cycle boundary
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      // Spark derives the page size from heap and cores (64 MB here); a
      // page still held at a cycle boundary doubled the heap left after a
      // full GC. Fixed, it is also the same on every machine
      .config("spark.buffer.pageSize", "4m")
      // room for every generated class of a cycle: with the default 100
      // entries a corpus pass evicts its own classes and recompiles 84-117
      // of them on every pass, a count that varies from pass to pass
      .config("spark.sql.codegen.cache.maxEntries", "4000")
    if (trace) b.config("spark.extraListeners", classOf[JobEvents].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanEvents].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchEvents].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sessionMs = System.currentTimeMillis()
    try run(spark, o, trace) finally spark.stop()
  }

  private def run(spark: SparkSession, o: Map[String, String], trace: Boolean): Unit = {
    val data = o("data")
    val wl: Workload = o("workload") match {
      case "corpus_dedup" => new CorpusDedup(spark, data)
      case "migrate_ticks" => new MigrateTicks(spark, data, o("work"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val workloadMs = System.currentTimeMillis()
    val warm = ArrayBuffer[Rec]()
    val warm0 = System.nanoTime()
    for (pass <- 0 until wl.warmup) spans.around(s"warmup $pass", -1) {
      countClasses(pass)(wl.cycle(pass).foreach(op =>
        warm += exec(spark, op, pass, traced = false, check = false)))
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    val t0Ms = o("t0-ms").toLong
    val setupWallS = (System.currentTimeMillis() - t0Ms) / 1e3
    // CPU seconds of set-up: input generation plus this process so far
    val setupS = o("gen-cpu-s").toDouble + cpuNs / 1e9
    val cycles = math.max(1, math.round(o("seconds").toDouble / wl.cycleSeconds).toInt)
    // the traced run interleaves untraced and traced cycles as U T T U ...
    // in groups of four, so a drift that is linear in time weighs on both
    // throughputs alike
    val recs =
      if (!trace) phase(spark, wl, wl.warmup, cycles, _ => false)
      else phase(spark, wl, wl.warmup, cycles + (4 - cycles % 4) % 4, i => (i + i / 2) % 2 == 1)
    val (traced, timed) = recs.partition(_.trace.isDefined)
    val all = warm ++ recs
    val walls = timed.map(_.wall).sorted
    val n = walls.size
    // the highest percentile with at least ten samples beyond it; below
    // twenty samples that percentile is under the median, so the maximum
    val tailIdx = if (n >= 20) n - 11 else n - 1
    val throughput = timed.map(_.work).sum / walls.sum
    def perCycle(rs: Seq[Rec]) = rs.groupBy(_.pass).toSeq.sortBy(_._1)
      .map { case (pass, c) => f"${c.map(_.wall).sum}%.3f/${c.map(_.cpu).sum}%.2f/${classes(pass)}" }
      .mkString("\"", " ", "\"")
    val detail = ArrayBuffer[(String, String)](
      "work_unit" -> s""""${wl.units}"""",
      "ops_timed" -> n.toString,
      "op_tail_percentile" -> f"${100.0 * (tailIdx + 1) / n}%.1f",
      "op_tail_samples_beyond" -> (n - tailIdx - 1).toString,
      // set-up: inputs and JVM launch, session build, workload set-up, warm-up
      "setup_parts_s" -> Seq(ManagementFactory.getRuntimeMXBean.getStartTime - t0Ms,
        sessionMs - ManagementFactory.getRuntimeMXBean.getStartTime, workloadMs - sessionMs)
        .map(ms => f"${ms / 1e3}%.3f").mkString("[", ",", f",$warmS%.3f]"),
      "setup_wall_s" -> setupWallS.toString,
      // wall seconds / CPU seconds / Janino classes compiled, per cycle:
      // levelled when they stop falling
      "warmup_cycles" -> perCycle(warm.toSeq),
      "timed_cycles" -> perCycle(timed),
      "heap_retained_mb" -> retainedMb.map(m => f"$m%.1f").mkString("\"", " ", "\""),
      // wall-time figures, printed but not among the benchmark's metrics:
      // on a shared host they spread more from run to run than any bound
      "throughput" -> s""""$throughput ${wl.units}/s"""",
      "op_p50_s" -> s""""${median(walls)} s"""",
      "op_tail_s" -> s""""${walls(tailIdx)} s"""")
    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("cpu_s", timed.map(_.cpu).sum, "s"),
        ("op_cpu_p50_s", median(timed.map(_.cpu)), "s"),
        ("heap_peak_mb", retainedMb.max, "MB"))
      else {
        val cacheRdds = spark.sparkContext.getPersistentRDDs.size
        val cacheMb = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1e6
        Events.on = true
        val probes = wl.probes(new Probe(spark, spans))
        Events.on = false
        catalogRecs = o.get("catalog").toSeq.flatMap(dir => catalog(spark, dir, o))
        val tracedTput = traced.map(_.work).sum / traced.map(_.wall).sum
        detail += "untraced_throughput" -> throughput.toString
        detail += "traced_throughput" -> tracedTput.toString
        perLayer(traced, catalogRecs.filter(_.trace.isDefined), probes, cacheRdds,
          cacheMb, throughput / tracedTput - 1)
      }
    val ops = all ++ catalogRecs
    val failed = ops.count(!_.ok)
    for (r <- ops if !r.ok) System.err.println(s"[perfbench] FAILED ${r.name} (pass ${r.pass})")
    detail += "fail_ratio" -> (failed.toDouble / ops.size).toString
    Files.writeString(Paths.get(o("spans")), spans.json)
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
    val d = detail.map { case (k, v) => s""""$k":$v""" }
    Files.writeString(Paths.get(o("result")),
      s"""{"correct":${failed == 0},"attempted":${ops.size},""" +
        s""""failed":$failed,"metrics":{${m.mkString(",")}},"detail":{${d.mkString(",")}}}""" + "\n")
  }

  /** The catalog layers' probe: one pass over the catalog list, checked,
    * with the listeners recording. It runs after the workload's own cycles
    * have warmed the JVM; there is no warm-up pass of its own, to keep the
    * traced run short. With --record 1 the digests are written to the
    * --digests file. */
  private def catalog(spark: SparkSession, dir: String, o: Map[String, String]): Seq[Rec] = {
    val path = Paths.get(o("digests"))
    val record = o("record") == "1"
    val recorded = if (record) Map.empty[String, String]
      else Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split(" "); k -> v }.toMap
    val c = new Catalog(spark, dir, o("seed").toLong, recorded)
    Events.on = true
    val recs = spans.around("catalog", -1)(
      c.pass(0).map(exec(spark, _, 0, traced = true, check = true)))
    Events.on = false
    if (record) Files.writeString(path,
      c.seen.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v\n" }.mkString)
    recs
  }

  /** Janino classes compiled in each cycle. */
  private val classes = scala.collection.mutable.Map[Int, Long]()
  private def countClasses(pass: Int)(f: => Unit): Unit = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    classes(pass) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Heap in use after a full GC at each cycle boundary of the timed
    * phase: what the program holds on to (caches, broadcast blocks, leaks).
    * The listener bus is drained first, and the GC is repeated after
    * Spark's cleaner thread has had a moment to drop what the first one
    * freed, so the figure does not depend on how far those threads had got.
    * With a fixed-size heap the pools' peak use is the heap size itself,
    * since eden fills up before every young collection. */
  private val retainedMb = ArrayBuffer[Double]()
  private def fullGc(spark: SparkSession): Unit = {
    PerfBenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    retainedMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** The timed phase: `cycles` cycles, numbered from `first`, recording
    * trace events in the cycles `traced` picks by their index in the phase.
    * Each cycle starts after a full GC, so garbage of one cycle is not
    * collected in the next. */
  private def phase(spark: SparkSession, wl: Workload, first: Int, cycles: Int,
      traced: Int => Boolean): Seq[Rec] = {
    val recs = ArrayBuffer[Rec]()
    for (i <- 0 until cycles) {
      val pass = first + i
      fullGc(spark)
      Events.on = traced(i)
      spans.around(s"cycle $pass", -1)(countClasses(pass)(wl.cycle(pass).foreach(op =>
        recs += exec(spark, op, pass, traced(i), check = true))))
      Events.on = false
    }
    fullGc(spark)
    recs.toSeq
  }

  /** Times one op; then, outside its timing, drains its trace events and
    * runs its output check. Warm-up ops skip the check: the same ops are
    * checked when timed. */
  private def exec(spark: SparkSession, op: Op, pass: Int, traced: Boolean,
      check: Boolean): Rec = {
    opIds += 1
    val id = opIds
    spans.around(op.name, id) {
      val m0 = System.currentTimeMillis()
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val work = try Some(op.run()) catch {
        case NonFatal(e) => System.err.println(s"[perfbench] ${op.name}: $e"); None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      val m1 = System.currentTimeMillis()
      val tr = if (!traced) None else {
        PerfBenchBus.drain(spark.sparkContext)
        Some(OpTrace.of(Events.take(), m0, m1, id, spans.current, spans))
      }
      val ok = work.isDefined && (!check || (try { spans.around("check", id)(op.check()); true } catch {
        case NonFatal(e) => System.err.println(s"[perfbench] ${op.name} check: $e"); false
      }))
      if (traced) { PerfBenchBus.drain(spark.sparkContext); Events.take() }
      Rec(op.name, op.group, pass, wall, cpu, work.getOrElse(0.0), ok, tr)
    }
  }

  private def perLayer(recs: Seq[Rec], catalog: Seq[Rec], probes: Map[String, Double],
      cacheRdds: Int, cacheMb: Double, overhead: Double): Seq[(String, Double, String)] = {
    val ts = recs.flatMap(_.trace)
    val n = ts.size.toDouble
    def perOp(f: OpTrace => Double) = ts.map(f).sum / n
    val stages = ts.map(_.stages).sum
    // the catalog probe's checked pass, per category
    val byGroup = catalog.groupBy(_.group)
    val categories = Catalog.categories.map(_._1).flatMap { c =>
      val rs = byGroup.getOrElse(c, Nil)
      Seq((s"queries.${c}_s", rs.map(_.wall).sum, "s"),
        (s"queries.${c}_jobs", rs.flatMap(_.trace).map(_.jobs).sum.toDouble, "count"))
    }
    val batches = catalog.flatMap(_.trace)
    val probeNames = Seq("functions.minhash_sigs_s" -> "s", "queries.star_edges_s" -> "s",
      "queries.embed_pairs_s" -> "s", "queries.pair_yield" -> "ratio",
      "operators.cc_s" -> "s", "operators.cc_jobs" -> "count",
      "pipeline.survivors_s" -> "s", "pipeline.conform_dq_s" -> "s",
      "pipeline.dedup_s" -> "s", "pipeline.upsert_s" -> "s", "pipeline.land_s" -> "s",
      "pipeline.quarantine_ratio" -> "ratio", "pipeline.write_amp" -> "ratio")
    Seq(
      ("plan.analysis_s", perOp(_.analysisMs) / 1e3, "s"),
      ("plan.optimization_s", perOp(_.optimizationMs) / 1e3, "s"),
      ("plan.planning_s", perOp(_.planningMs) / 1e3, "s"),
      ("codegen.compile_s", CodeGenerator.compileTime / 1e9, "s"),
      ("codegen.classes", CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, "count"),
      ("sched.jobs", perOp(_.jobs), "count"),
      ("sched.stages", perOp(_.stages), "count"),
      ("sched.tasks", perOp(_.tasks), "count"),
      ("sched.tasks_per_stage", ts.map(_.tasks).sum.toDouble / math.max(stages, 1), "count"),
      ("sched.driver_gap_s", perOp(t => t.wallMs - t.jobCoverMs) / 1e3, "s"),
      ("exec.run_s", perOp(_.runMs) / 1e3, "s"),
      ("exec.cpu_s", perOp(_.cpuNs) / 1e9, "s"),
      ("exec.gc_s", perOp(_.gcMs) / 1e3, "s"),
      ("exec.busy_ratio", ts.map(_.taskCoverMs).sum.toDouble / ts.map(_.wallMs).sum, "ratio"),
      ("shuffle.write_mb", perOp(_.shuffleW) / 1e6, "MB"),
      ("shuffle.read_mb", perOp(_.shuffleR) / 1e6, "MB"),
      ("shuffle.fetch_wait_s", perOp(_.fetchMs) / 1e3, "s"),
      ("spill.disk_mb", perOp(_.spill) / 1e6, "MB"),
      ("io.input_mb", perOp(_.in) / 1e6, "MB"),
      ("io.output_mb", perOp(_.out) / 1e6, "MB"),
      ("cache.rdds_end", cacheRdds.toDouble, "count"),
      ("cache.mb_end", cacheMb, "MB"),
      ("streaming.batches", batches.map(_.batches).sum.toDouble, "count"),
      ("streaming.plan_s", batches.map(_.batchPlanMs).sum / 1e3, "s"),
      ("streaming.add_batch_s", batches.map(_.addBatchMs).sum / 1e3, "s"),
      ("streaming.commit_s", batches.map(_.commitMs).sum / 1e3, "s"),
      ("trace.overhead", overhead, "ratio")) ++ categories ++
      probeNames.map { case (k, u) => (k, probes.getOrElse(k, 0.0), u) }
  }
}
