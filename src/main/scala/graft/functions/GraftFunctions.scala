package graft.functions

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.graft.ExprColumn.{expression => ex}

/** The native kernels as typed Column builders. Each builds its Column
  * straight from the Catalyst expression, so a query that uses one needs
  * no function registry and analyzes on any session. */
object GraftFunctions {
  def cosineSim(a: Column, b: Column): Column = ExprColumn(CosineSim(ex(a), ex(b)))
  def dotProd(a: Column, b: Column): Column = ExprColumn(DotProd(ex(a), ex(b)))
  def sqDist(a: Column, b: Column): Column = ExprColumn(SqDist(ex(a), ex(b)))
  def phashBits(bt: Column, tl: Column): Column = ExprColumn(PhashBits(ex(bt), ex(tl)))
  def triMoments(qs: Column): Column = ExprColumn(TriMoments(ex(qs)))
  def bitandCount(a: Column, b: Column): Column = ExprColumn(BitAndCount(ex(a), ex(b)))
  def simhash60(hs: Column): Column = ExprColumn(Simhash60(ex(hs)))
  def affineMin(hs: Column, a: Column, b: Column, p: Column): Column =
    ExprColumn(AffineMin(ex(hs), ex(a), ex(b), ex(p)))
  def hash60(s: Column): Column = ExprColumn(Hash60(ex(s)))
  def planeSig(v: Column, planes: Column): Column = ExprColumn(PlaneSig(ex(v), ex(planes)))
  def quant8Stats(v: Column): Column = ExprColumn(Quant8Stats(ex(v)))
  def quantpdStats(v: Column, mns: Column, scales: Column): Column =
    ExprColumn(QuantPerDimStats(ex(v), ex(mns), ex(scales)))
  def l1Dist(a: Column, b: Column): Column = ExprColumn(L1Dist(ex(a), ex(b)))

  /** The SQL-text surface: one (name, info, builder) row per kernel, the
    * shape SparkSessionExtensions.injectFunction takes. */
  private[graft] val kernels
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    sql[CosineSim]("cosine_sim", "(a, b) - cosine similarity of two float vectors")(
      x => CosineSim(x(0), x(1))),
    sql[DotProd]("dot_prod", "(a, b) - dot product of two float/double vectors")(
      x => DotProd(x(0), x(1))),
    sql[SqDist]("sq_dist", "(a, b) - squared L2 distance of two float/double vectors")(
      x => SqDist(x(0), x(1))),
    sql[PhashBits]("phash_bits", "(bt, tl) - 64 pHash threshold bits of an 8x8 block")(
      x => PhashBits(x(0), x(1))),
    sql[TriMoments]("tri_moments", "(qs) - linear and upper-triangle product moments")(
      x => TriMoments(x(0))),
    sql[BitAndCount]("bitand_count", "(a, b) - sum of bit_count(a[i] & b[i])")(
      x => BitAndCount(x(0), x(1))),
    sql[Simhash60]("simhash60", "(hs) - packed 60-bit SimHash of token hashes")(
      x => Simhash60(x(0))),
    sql[AffineMin]("affine_min", "(hs, a, b, p) - min of ((h % p) * a + b) % p")(
      x => AffineMin(x(0), x(1), x(2), x(3))),
    sql[Hash60]("hash60", "(s) - top 60 bits of sha256(s)")(
      x => Hash60(x(0))),
    sql[PlaneSig]("plane_sig", "(v, planes) - sign bits of v against foldable planes")(
      x => PlaneSig(x(0), x(1))),
    sql[Quant8Stats]("quant8_stats", "(v) - int8 quantization statistics")(
      x => Quant8Stats(x(0))),
    sql[QuantPerDimStats]("quantpd_stats", "(v, mns, scales) - per-dim quantization statistics")(
      x => QuantPerDimStats(x(0), x(1), x(2))),
    sql[L1Dist]("l1_dist", "(a, b) - sum of |a[i] - b[i]| over two int arrays")(
      x => L1Dist(x(0), x(1))))

  private def sql[E <: Expression: ClassTag](name: String, usage: String)(
      build: Seq[Expression] => E) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, null, name, s"_FUNC_$usage.", ""),
      build)

  /** Names every kernel on `spark`'s function registry for SQL text
    * (spark.sql, selectExpr); DataFrame code uses the builders above. */
  def registerAll(spark: SparkSession): Unit =
    kernels.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}

/** SparkSessionExtensions hook, the SQL-text surface at session creation:
  * .config("spark.sql.extensions", "graft.functions.GraftExtensions") */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.kernels.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.CollapseNestedUpper)
  }
}
