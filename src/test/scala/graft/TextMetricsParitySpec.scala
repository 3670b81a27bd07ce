package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.TextOps

/** The one-pass TextMetrics kernel must reproduce every Column-form
  * metric value-for-value (the oracles replay the Column semantics in
  * SQL), the native split-half language ID must reproduce the marker-hit
  * CASE chain, and the native WordChunks must reproduce the HOF chunker. */
class TextMetricsParitySpec extends SparkSpec {
  import spark.implicits._

  /** The original Column language ID, kept as the executable spec: one
    * `size(filter(..))` hit count per language, folded into a
    * first-max-wins CASE chain (the oracles' SQL CASE), "und" on zero
    * hits. */
  private def caseChainLangId(text: Column): Column = {
    val toks = TextOps.tokens(lower(text))
    val hits = TextOps.langMarkers.map { case (code, markers) =>
      code -> size(filter(toks, t => t.isin(markers: _*)))
    }
    val chain = hits.zipWithIndex.foldLeft(when(lit(false), "und")) {
      case (acc, ((code, h), i)) =>
        val laterGeq = hits.drop(i + 1).map(_._2)
          .foldLeft(lit(true))((ok, later) => ok && h >= later)
        acc.when(laterGeq, code)
    }
    val total = hits.map(_._2).reduce(_ + _)
    when(total === 0, "und").otherwise(chain)
  }

  /** The original split-half form: the lowered token list sliced at
    * ceil(n/2), each half re-joined and language-IDed on its own. */
  private def caseChainHalves(text: Column): (Column, Column) = {
    val toks = TextOps.tokens(lower(text))
    val half = ceil(size(toks).cast("double") / 2.0).cast("int")
    (caseChainLangId(concat_ws(" ", slice(toks, lit(1), half))),
      caseChainLangId(concat_ws(" ", slice(toks, half + lit(1), size(toks)))))
  }

  /** The original HOF chunker, kept as the executable spec. */
  private def hofChunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    val step = chunkSize - overlap
    val toks = TextOps.tokens(text)
    val n = size(toks)
    val extra = greatest(n - chunkSize, lit(0))
    val nChunks = lit(1) + ceil(extra.cast("double") / step).cast("int")
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * step + 1, lit(chunkSize)), " "))
  }

  private val edgeTexts = Seq(
    null, "", " ", "\t\n", "word", "the quick brown fox", "a b", "  x  ",
    "the the the the the the the the the the the",   // stopword-heavy
    "el que la de los niños y posters",              // es markers
    "!!! ??? ... ;;; :::", "a!b.c?d", "über café 漢字 การ",
    "der die und das ist gut", "le la les des est bon",
    "的 是 了 在 我", "num3ric 123 456x 7.8",
    (1 to 300).map(i => s"tok$i").mkString(" "))     // long doc, many chunks

  /** One token, odd and even token counts, upper-case markers, and
    * cross-language ties ("the el": en = es; "la": es = fr). */
  private val langTexts = Seq(
    "the", "LA", "la", "le", "the el", "el the", "la le", "le la",
    "the el la", "The And El La", "THE AND OF el la de que",
    "zz qq the", "the qq zz ww", "el el the the le le", "的 是 the",
    "der die the el", "x the y el z le w", "la la la les les les")

  private def genTexts: Seq[String] = {
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf(TextOps.stopwords), Gen.oneOf("el", "la", "der", "le", "的"),
      Gen.const("..!"), Gen.asciiPrintableStr.map(_.take(4)))
    val text = Gen.listOf(word).map(_.mkString(" "))
    Gen.listOfN(300, text).pureApply(Gen.Parameters.default, Seed(11L))
  }

  private def assertMetricsParity(inputs: Seq[String]): Unit = {
    val m = TextOps.textMetrics(col("text"))
    val rows = inputs.toDF("text").select(
        m.getField("n_tokens"), TextOps.tokenCount(col("text")),
        m.getField("punct_ratio"), TextOps.punctRatio(col("text")),
        m.getField("stopword_ratio"), TextOps.stopwordRatio(col("text")),
        m.getField("mean_token_len"), TextOps.meanTokenLength(col("text")),
        m.getField("quality_score"), TextOps.qualityScore(col("text")),
        m.getField("lang"), caseChainLangId(col("text")))
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      val label = Option(in).map(_.take(50)).toString
      assert(r.get(0) == r.get(1), s"n_tokens $label: ${r.get(0)} vs ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"punct_ratio $label: ${r.get(2)} vs ${r.get(3)}")
      assert(r.get(4) == r.get(5), s"stopword_ratio $label: ${r.get(4)} vs ${r.get(5)}")
      assert(r.get(6) == r.get(7), s"mean_token_len $label: ${r.get(6)} vs ${r.get(7)}")
      assert(r.get(8) == r.get(9), s"quality $label: ${r.get(8)} vs ${r.get(9)}")
      assert(r.get(10) == r.get(11), s"lang $label: ${r.get(10)} vs ${r.get(11)}")
    }
  }

  private def assertLangParity(inputs: Seq[String]): Unit = {
    val native = TextOps.langIdSplit(col("text"))
    val spec = caseChainLangId(col("text"))
    val (specHead, specTail) = caseChainHalves(col("text"))
    val rows = inputs.toDF("text").select(
        native.getField("lang_full"), spec,
        native.getField("lang_head"), specHead,
        native.getField("lang_tail"), specTail,
        TextOps.langId(col("text")), spec)
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      val label = Option(in).map(_.take(50)).toString
      Seq("lang_full", "lang_head", "lang_tail", "langId").zipWithIndex
        .foreach { case (f, i) =>
          assert(r.get(2 * i) == r.get(2 * i + 1),
            s"$f $label: ${r.get(2 * i)} vs ${r.get(2 * i + 1)}")
        }
    }
  }

  /** Runs `body` with the given session confs, restoring the old values
    * (the session is shared by every suite). */
  private def withConfs(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertChunksParity(inputs: Seq[String], cs: Int, ov: Int): Unit = {
    val rows = inputs.toDF("text").select(
        TextOps.chunks(col("text"), cs, ov).as("native"),
        hofChunks(coalesce(col("text"), lit("")), cs, ov).as("hof"))
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"chunks mismatch cs=$cs ov=$ov for ${Option(in).map(_.take(50))}")
    }
  }

  test("native metrics == Column metrics on edge cases") {
    assertMetricsParity(edgeTexts)
  }

  test("native metrics == Column metrics on generated corpora") {
    assertMetricsParity(genTexts)
  }

  // CODEGEN_ONLY runs doGenCode; NO_CODEGEN without whole-stage codegen
  // runs nullSafeEval. Excluding ConvertToLocalRelation keeps the
  // optimizer from evaluating the projection over the local rows itself.
  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"native split-half lang ID == Column CASE chain ($mode)") {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.optimizer.excludedRules" ->
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
        assertLangParity(edgeTexts ++ langTexts ++ genTexts)
      }
    }

  test("native chunks == HOF chunks on edge cases and generated corpora") {
    for ((cs, ov) <- Seq((40, 10), (5, 2), (2, 1), (3, 0)))
      assertChunksParity(edgeTexts, cs, ov)
    assertChunksParity(genTexts, 5, 2)
  }

  test("text_metrics is SQL-callable") {
    val r = spark.sql(
      "SELECT m.* FROM (SELECT text_metrics('the quick brown fox jumps over the lazy dog now') AS m)")
      .collect().head
    assert(r.getAs[Int]("n_tokens") == 10)
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[Int]("quality_score") == 100)
  }
}
