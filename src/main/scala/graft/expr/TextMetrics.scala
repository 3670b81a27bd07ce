package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernel for the text-analysis metric battery — ONE tokenization
  * pass per document instead of one per metric.
  *
  * The Column compositions in [[graft.operators.TextOps]] are the
  * executable spec (each metric is SQL-replayed by the oracles); Spark
  * evaluates their `filter`/`aggregate` higher-order functions interpreted
  * and re-splits the text once per metric (q15 walked every document 8+
  * times). This kernel computes all six metrics in one walk and must stay
  * value-identical — TextMetricsParitySpec pins every field to the Column
  * forms on edge cases and generated corpora. Language ID (`lang` here and
  * [[langIdSplit]]'s three fields) has no Column form in the engine: its
  * spec is the marker-hit CASE chain in TextMetricsParitySpec, which the
  * oracles replay in SQL. Parity notes:
  *  - lowering goes through UTF8String.toLowerCase (what `lower()` does),
  *    not java.lang.String.toLowerCase (locale-sensitive);
  *  - lengths count code points (what `length()` returns);
  *  - ratios divide in double exactly where the Column forms do.
  */
object TextMetricsKernel {
  private val PUNCT = java.util.regex.Pattern.compile("[\\p{Punct}]")

  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.operators.TextOps.stopwords.foreach(s.add)
    s
  }
  private lazy val langCodes: Array[UTF8String] =
    graft.operators.TextOps.langMarkers.map(m => UTF8String.fromString(m._1)).toArray
  /** Marker word -> indices (in langMarkers order) of every language
    * listing it: "la" is both es and fr. */
  private lazy val markerLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    graft.operators.TextOps.langMarkers.zipWithIndex
      .flatMap { case ((_, words), l) => words.map(_ -> l) }
      .groupBy(_._1).foreach { case (w, ls) => m.put(w, ls.map(_._2).toArray) }
    m
  }
  private val UND = UTF8String.fromString("und")

  /** Adds one hit to each language that lists `tok` as a marker. */
  private def addMarkerHits(tok: String, hits: Array[Int]): Unit = {
    val ls = markerLangs.get(tok)
    if (ls != null) {
      var j = 0
      while (j < ls.length) { hits(ls(j)) += 1; j += 1 }
    }
  }

  /** THE language-ID rule: the first language (langMarkers order) whose
    * hits are >= every later language's hits, i.e. the first index of the
    * max; zero hits in total -> "und". */
  private def langOf(hits: Array[Int]): UTF8String = {
    var total = 0
    var best = 0
    var i = 0
    while (i < hits.length) {
      total += hits(i)
      if (hits(i) > hits(best)) best = i
      i += 1
    }
    if (total == 0) UND else langCodes(best)
  }

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val toks = ShingleKernel.splitTokens(s)
    val nTokens = toks.length
    // punct ratio: punct code points / total code points (0 for empty)
    val nChars = s.codePointCount(0, s.length)
    var pc = 0
    val m = PUNCT.matcher(s)
    while (m.find()) pc += 1
    val punctRatio = if (nChars == 0) 0.0 else pc.toDouble / nChars
    // mean token length in code points over the case-preserved tokens
    var sumLen = 0L
    var i = 0
    while (i < nTokens) {
      sumLen += toks(i).codePointCount(0, toks(i).length); i += 1
    }
    val meanLen = if (nTokens == 0) 0.0 else sumLen.toDouble / nTokens.toDouble
    // stopword ratio + language markers over the LOWERED token stream
    // (lower() then re-tokenize, exactly like the Column forms)
    val toksLower = ShingleKernel.splitTokens(text.toLowerCase.toString)
    var stops = 0
    val hits = new Array[Int](langCodes.length)
    i = 0
    while (i < toksLower.length) {
      val t = toksLower(i)
      if (stopSet.contains(t)) stops += 1
      addMarkerHits(t, hits)
      i += 1
    }
    val stopRatio =
      if (toksLower.length == 0) 0.0 else stops.toDouble / toksLower.length
    val quality = 100 -
      ((if (nTokens < 10) 25 else 0) +
        (if (punctRatio > 0.10) 25 else 0) +
        (if (stopRatio < 0.02 || stopRatio > 0.60) 25 else 0) +
        (if (meanLen < 2.0 || meanLen > 12.0) 25 else 0))
    new GenericInternalRow(Array[Any](
      nTokens, punctRatio, stopRatio, meanLen, quality, langOf(hits)))
  }

  /** Split-half language ID in one walk over the lowered tokens: marker
    * hits of the first ceil(n/2) tokens (head) and of the rest (tail);
    * the whole document's hits are their sum. Returns
    * struct(lang_full, lang_head, lang_tail). */
  def langIdSplit(text: UTF8String): InternalRow = {
    val toks = ShingleKernel.splitTokens(text.toLowerCase.toString)
    val half = (toks.length + 1) / 2
    val head = new Array[Int](langCodes.length)
    val tail = new Array[Int](langCodes.length)
    var i = 0
    while (i < toks.length) {
      addMarkerHits(toks(i), if (i < half) head else tail)
      i += 1
    }
    val full = new Array[Int](langCodes.length)
    i = 0
    while (i < full.length) { full(i) = head(i) + tail(i); i += 1 }
    new GenericInternalRow(Array[Any](langOf(full), langOf(head), langOf(tail)))
  }

  /** Overlapping token-window chunks, one pass — the native twin of
    * [[graft.operators.TextOps.chunks]]'s HOF form. */
  def wordChunks(text: UTF8String, chunkSize: Int, overlap: Int): ArrayData = {
    val toks = ShingleKernel.splitTokens(text.toString)
    val n = toks.length
    val step = chunkSize - overlap
    val extra = math.max(n - chunkSize, 0)
    val nChunks = 1 + math.ceil(extra.toDouble / step).toInt
    val out = new Array[Any](nChunks)
    var w = 0
    while (w < nChunks) {
      val start = w * step
      val end = math.min(start + chunkSize, n)
      val sb = new java.lang.StringBuilder
      var j = start
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(w) = UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Native one-pass text metrics: struct(n_tokens, punct_ratio,
  * stopword_ratio, mean_token_len, quality_score, lang). */
case class TextMetrics(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_metrics expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("quality_score", IntegerType, nullable = false),
    StructField("lang", StringType, nullable = false)))
  override def prettyName: String = "text_metrics"

  override protected def nullSafeEval(t: Any): Any =
    TextMetricsKernel.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextMetricsKernel.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TextMetrics =
    copy(child = newChild)
}

/** Native split-half language ID: struct(lang_full, lang_head,
  * lang_tail) over the lowered whitespace tokens, halves split at
  * ceil(n/2) tokens. */
case class LangIdSplit(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_id_split expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StructType(Seq(
    StructField("lang_full", StringType, nullable = false),
    StructField("lang_head", StringType, nullable = false),
    StructField("lang_tail", StringType, nullable = false)))
  override def prettyName: String = "lang_id_split"

  override protected def nullSafeEval(t: Any): Any =
    TextMetricsKernel.langIdSplit(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextMetricsKernel.langIdSplit($c)")

  override protected def withNewChildInternal(newChild: Expression): LangIdSplit =
    copy(child = newChild)
}

/** Native token-window chunking (chunkSize/overlap are plan-time
  * constants, like [[WordShingles]]'s k). */
case class WordChunks(child: Expression, chunkSize: Int, overlap: Int)
  extends UnaryExpression {
  require(overlap < chunkSize, "overlap must be < chunkSize")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_chunks expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  override protected def nullSafeEval(t: Any): Any =
    TextMetricsKernel.wordChunks(t.asInstanceOf[UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.TextMetricsKernel.wordChunks($c, $chunkSize, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}
