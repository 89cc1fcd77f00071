package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native cosine similarity over two array<double> columns.
  *
  * The `zip_with`/`aggregate` higher-order formulation is interpreted
  * (HOFs never enter whole-stage codegen and allocate per-lambda); this
  * Expression generates a single fused Java loop, keeping ANN scoring and
  * embedding dedup inside codegen — the (b) extension tier from the graft
  * design: a custom Catalyst Expression where built-ins can't express the
  * op efficiently.
  *
  * Summation order (left-to-right per accumulator) matches both the HOF
  * version and a sequential oracle, so results are bit-identical.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers bind array<double> inputs (AbstractDataType/ExpectsInputTypes
  // are private[sql], so declarative input typing is unavailable here)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  /** Null SLOTS inside a vector (containsNull schemas) would read as 0.0
    * from ArrayData and produce a plausible-but-wrong similarity — the
    * whole row's similarity becomes NULL instead (null-vector rows are
    * dropped by every caller, so a null-slot vector degrades the same
    * way, not silently). The check is emitted only when the schema says
    * nulls can occur, so containsNull=false corpora pay nothing. */
  private def mayHaveNullSlots: Boolean =
    Seq(left, right).exists(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(_, cn) => cn
      case _ => true
    })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // a silent min-length truncation would return plausible-but-wrong
    // similarities on a mixed-dimensionality corpus (e.g. two ingestion
    // batches with different embedding models) — fail loudly instead
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"graft_cosine: dimension mismatch ${x.numElements()} vs " +
          s"${y.numElements()}")
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val checkNulls = mayHaveNullSlots
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val d = ctx.freshName("d")
      val nullCheck =
        if (mayHaveNullSlots)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
                ${ev.isNull} = true; break;
              }"""
        else ""
      s"""
        if ($a.numElements() != $b.numElements())
          throw new IllegalArgumentException(
            "graft_cosine: dimension mismatch " + $a.numElements() +
            " vs " + $b.numElements());
        int $n = $a.numElements();
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $nullCheck
          double $xi = $a.getDouble($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        if (!${ev.isNull}) {
          double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
          ${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Column API for the native expression. */
object GraftFunctions {
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}

/** graft's session extensions, installed by [[graft.core.GraftSession]]
  * (or cluster-wide via spark.sql.extensions): `graft_cosine` for SQL
  * text, and the window top-k → partial/final rewrite with its planning
  * strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
