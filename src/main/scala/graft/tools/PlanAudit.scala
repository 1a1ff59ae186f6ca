package graft.tools

import scala.reflect.ClassTag
import scala.util.Try
import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, ZipWith}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Catalog-wide physical-plan audit: one row per declared query with
  * plan-shape counters, frozen into `src/test/resources/plan_audit.tsv`.
  * PlanGuardSpec rebuilds the table from the plans it guards and fails on
  * any drift, so a plan change is a reviewed diff of this table.
  * Regenerate deliberately with:
  *
  *   sbt 'runMain graft.tools.PlanAudit'  (then review the git diff!)
  *
  * Every counter is a count over one structural traversal (`allNodes`) of
  * the executed (pre-AQE-final) plan. Node columns count one node class
  * each; `single_part` counts shuffle exchanges to SinglePartition,
  * `scans_with_filter` file scans with non-empty PushedFilters, and
  * `hof_sites` aggregate/transform/zip_with expressions (interpreted
  * CodegenFallback density). A query whose planning throws gets empty
  * counters and its exception class under `error`. */
object PlanAudit {
  val tablePath = "src/test/resources/plan_audit.tsv"

  /** AdaptiveSparkPlanExec does not expose its inner plan as a child, so
    * recurse into it explicitly — pre-execution that is the initial
    * physical plan (AQE may only improve on it at runtime). Subquery plans
    * hang off expressions, not children, and are traversed too. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(allNodes)
  }

  private def node[T <: SparkPlan](implicit t: ClassTag[T]): SparkPlan => Int =
    p => if (t.runtimeClass.isInstance(p)) 1 else 0

  val columns: Seq[(String, SparkPlan => Int)] = Seq(
    "shuffle_exchange" -> node[ShuffleExchangeExec],
    "broadcast_exchange" -> node[BroadcastExchangeExec],
    "single_part" -> {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => 1
      case _ => 0
    },
    "bhj" -> node[BroadcastHashJoinExec],
    "smj" -> node[SortMergeJoinExec],
    "shj" -> node[ShuffledHashJoinExec],
    "bnlj" -> node[BroadcastNestedLoopJoinExec],
    "cartesian" -> node[CartesianProductExec],
    "hash_agg" -> node[HashAggregateExec],
    "object_agg" -> node[ObjectHashAggregateExec],
    "sort_agg" -> node[SortAggregateExec],
    "expand" -> node[ExpandExec],
    "window" -> node[WindowExec],
    "window_group_limit" -> node[WindowGroupLimitExec],
    "take_ordered" -> node[TakeOrderedAndProjectExec],
    "generate" -> node[GenerateExec],
    "hof_sites" -> (_.expressions.map(_.collect {
      case _: ArrayAggregate | _: ArrayTransform | _: ZipWith => ()
    }.size).sum),
    "scans" -> node[FileSourceScanExec],
    "scans_with_filter" -> {
      case s: FileSourceScanExec if s.metadata.get("PushedFilters").exists(_ != "[]") => 1
      case _ => 0
    },
    "rdd_scans" -> node[RDDScanExec],
    "local_scans" -> node[LocalTableScanExec],
    "in_memory_scans" -> node[InMemoryTableScanExec])

  val header: String = ("query" +: columns.map(_._1) :+ "error").mkString("\t")

  /** One table row: the counters of a planned query, or empty counters and
    * the exception class of a query whose planning threw. */
  def row(name: String, plan: Try[SparkPlan]): String = {
    val cells = plan.map { p =>
      val nodes = allNodes(p)
      columns.map { case (_, f) => nodes.map(f).sum.toString } :+ ""
    }.recover { case e => Seq.fill(columns.size)("") :+ e.getClass.getSimpleName }.get
    (name +: cells).mkString("\t")
  }

  /** Every declared query in name order, planned (executedPlan forced) on
    * an empty cache: Spark swaps a persisted frame into any later plan
    * that contains it, so without the clear the table would depend on
    * what an earlier caller left cached. */
  def plans(spark: SparkSession, sf: String): Iterator[(String, Try[QueryExecution])] = {
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).iterator.map { case (name, fn) =>
      name -> Try { val qe = fn(spark, sf).queryExecution; qe.executedPlan; qe }
    }
  }

  def render(rows: Iterator[String]): String = (Iterator(header) ++ rows).mkString("", "\n", "\n")

  def tsv(spark: SparkSession, sf: String): String =
    render(plans(spark, sf).map { case (name, qe) => row(name, qe.map(_.executedPlan)) })

  def main(args: Array[String]): Unit = {
    // the test session's core count and fixture, so the committed table
    // is the one PlanGuardSpec rebuilds
    val spark = Harness.session(Harness.fixtureCores)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tablePath), tsv(spark, Harness.sf0001))
    println(s"[planaudit] wrote $tablePath")
    spark.stop()
  }
}
