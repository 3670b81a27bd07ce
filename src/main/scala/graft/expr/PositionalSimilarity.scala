package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernel shared by interpreted eval and generated code. */
object SimilarityKernel {
  /** Positional character similarity (reference cleaning_rules.py:234-237):
    * lowercase both sides, count equal code points at equal positions over
    * the common prefix, divide by max(len, 1). Code-point based so
    * supplementary characters count like Python's len/zip. */
  def positional(a: UTF8String, b: UTF8String): Double = {
    val sa = a.toLowerCase.toString
    val sb = b.toLowerCase.toString
    val la = sa.codePointCount(0, sa.length)
    val lb = sb.codePointCount(0, sb.length)
    if (la == 0 || lb == 0) return 0.0
    var ia = 0; var ib = 0; var matches = 0
    while (ia < sa.length && ib < sb.length) {
      val ca = sa.codePointAt(ia)
      val cb = sb.codePointAt(ib)
      if (ca == cb) matches += 1
      ia += Character.charCount(ca)
      ib += Character.charCount(cb)
    }
    matches.toDouble / math.max(la, lb)
  }
}

/** Native Catalyst expression for R-8's similarity measure — stays inside
  * whole-stage codegen (the generated code is a single static call on
  * unboxed UTF8Strings), unlike the zip_with/filter composition which runs
  * interpreted per candidate pair in the fuzzy cross join.
  */
case class PositionalSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] && right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"positional_similarity expects (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "positional_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernel.positional(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expr.SimilarityKernel.positional($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionalSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Function surface: Column API, imperative registration, and a
  * SparkSessionExtensions hook so `spark.sql("SELECT
  * positional_similarity(a, b)")` works in sessions built with
  * `.withExtensions(new GraftExtensions)` (or
  * spark.sql.extensions=graft.expr.GraftExtensions). */
object GraftFunctions {

  /** Portable value-based round: floor(x·10^s + 0.5)/10^s — pure IEEE
    * double arithmetic, so Spark and a DuckDB oracle computing the same
    * operand get the identical frozen value on EVERY input, including
    * exact ties (which go half-toward-+inf). This is the r8 tie-audit
    * form (docs/NOTES.md) for semantic rounds whose operand is a ratio
    * of exact integers/decimals with a corpus-dependent denominator —
    * where engine `round()` diverges (Spark rounds the shortest decimal
    * REPR, DuckDB the VALUE). Use engine round() only with a
    * fixed-denominator / dyadic / transcendental proof attached. */
  def portableRound(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.functions.{abs, floor, isnan, lit, when}
    val f = lit(math.pow(10, scale.toDouble))
    val y = c * f + lit(0.5)
    // Stay in the DOUBLE domain end to end: Spark's floor(double) returns
    // LONG (wrapping past +-2^63 and mapping NaN to 0) while DuckDB's
    // floor stays DOUBLE. Past 2^53 a double is already integral, so
    // floor is the identity there — pass y through (DuckDB's floor(y)
    // == y at those magnitudes too), and propagate NaN explicitly.
    when(isnan(y) || abs(y) >= lit(9007199254740992.0), y)
      .otherwise(floor(y).cast("double")) / f
  }

  def positionalSimilarity(a: Column, b: Column): Column =
    shim.column(PositionalSimilarity(shim.expression(a), shim.expression(b)))

  def wordShingles(text: Column, k: Int): Column =
    shim.column(WordShingles(shim.expression(text), k))

  def wordTokens(text: Column): Column =
    shim.column(WordTokens(shim.expression(text)))

  val wordTokensDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_tokens"),
    new ExpressionInfo(classOf[WordTokens].getName, "word_tokens"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "word_tokens expects 1 argument")
      WordTokens(children.head)
    })

  def textMetrics(text: Column): Column =
    shim.column(TextMetrics(shim.expression(text)))

  def langIdSplit(text: Column): Column =
    shim.column(LangIdSplit(shim.expression(text)))

  def vectorDot(a: Column, b: Column): Column =
    shim.column(VectorDot(shim.expression(a), shim.expression(b)))

  def vectorNorm(a: Column): Column =
    shim.column(VectorNorm(shim.expression(a)))

  def vectorSqDist(a: Column, b: Column): Column =
    shim.column(VectorSqDist(shim.expression(a), shim.expression(b)))

  def vectorOuterMicros(a: Column): Column =
    shim.column(VectorOuterMicros(shim.expression(a)))

  def wordChunks(text: Column, chunkSize: Int, overlap: Int): Column =
    shim.column(WordChunks(shim.expression(text), chunkSize, overlap))

  val textMetricsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("text_metrics"),
    new ExpressionInfo(classOf[TextMetrics].getName, "text_metrics"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "text_metrics expects 1 argument")
      TextMetrics(children.head)
    })

  val wordShinglesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "word_shingles expects (text, k)")
      val k = children(1) match {
        case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
        case _ => throw new IllegalArgumentException(
          "word_shingles: k must be a literal integer")
      }
      WordShingles(children.head, k)
    })

  val positionalSimilarityDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("positional_similarity"),
    new ExpressionInfo(classOf[PositionalSimilarity].getName, "positional_similarity"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "positional_similarity expects 2 arguments")
      PositionalSimilarity(children.head, children(1))
    })

  val textFingerprintDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("text_fingerprint"),
    new ExpressionInfo(classOf[TextFingerprint].getName, "text_fingerprint"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "text_fingerprint expects 1 argument")
      TextFingerprint(children.head)
    })

  val vectorDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "vector_dot expects 2 arguments")
      VectorDot(children.head, children(1))
    })

  val vectorNormDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_norm"),
    new ExpressionInfo(classOf[VectorNorm].getName, "vector_norm"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "vector_norm expects 1 argument")
      VectorNorm(children.head)
    })

  val vectorSqDistDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_sqdist"),
    new ExpressionInfo(classOf[VectorSqDist].getName, "vector_sqdist"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "vector_sqdist expects 2 arguments")
      VectorSqDist(children.head, children(1))
    })

  /** Every registered native function — ONE list consumed by both
    * registration paths, so a new descriptor cannot reach one and not
    * the other. */
  val allDescriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(positionalSimilarityDescriptor, textFingerprintDescriptor,
      wordShinglesDescriptor, textMetricsDescriptor, wordTokensDescriptor,
      vectorDotDescriptor, vectorNormDescriptor, vectorSqDistDescriptor)

  /** Imperative registration into an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    allDescriptors.foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.allDescriptors.foreach(extensions.injectFunction)
}
