package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Pack, Sessionize, Split, TextOps}

/** Specs for the round-7 session-7 operators: HITS, Kneser-Ney bigram
  * LM, Heaps'-law fit, the dedup ladder, best-quality representative
  * selection, truncation loss, and SFT chat-template assembly. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- HITS

  test("hits: directed star — center is the hub, leaves the authorities") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val r = Graph.hits(star, maxIter = 4).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // center: max hub, zero authority (nothing points at it)
    assert(r(0L)._1 == 1000000L && r(0L)._2 == 0L)
    // leaves: zero hub, exactly-equal max authority (integer arithmetic)
    assert(Seq(1L, 2L, 3L).map(r(_)) == Seq.fill(3)((0L, 1000000L)))
  }

  test("hits: normalization keeps every score in [0, 1e6]; deterministic") {
    val pairs = (1 to 150).map(i => (i.toLong, (i % 40 + 200).toLong))
      .toDF("id_a", "id_b")
    val a = Graph.hits(pairs, maxIter = 6).orderBy("id").collect().toSeq
    val b = Graph.hits(pairs, maxIter = 6).orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 1000000L &&
      r.getLong(2) >= 0 && r.getLong(2) <= 1000000L))
    assert(a.exists(_.getLong(1) == 1000000L)) // some max hub exists
    assert(a.exists(_.getLong(2) == 1000000L))
  }

  // ----------------------------------------------------- Kneser-Ney LM

  test("kneser-ney: hand-computed continuation-count backoff") {
    // corpus: doc 1 "a b a b" (bigrams ab, ba, ab), doc 2 "a c"
    // c2: (a,b)=2 (b,a)=1 (a,c)=1; c1(a)=3 n1f(a)=2; c1(b)=1 n1f(b)=1
    // n1b: b=1 a=1 c=1; nbi=3
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.kneserNeyLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val pAB = math.max(2.0 - 0.75, 0.0) / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0)
    val pBA = math.max(1.0 - 0.75, 0.0) / 1.0 + (0.75 * 1.0 / 1.0) * (1.0 / 3.0)
    val pAC = math.max(1.0 - 0.75, 0.0) / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // term discipline: round(tf * ln p, 6) per DISTINCT (doc, w1, w2);
    // the MEAN is the raw double division (no trailing round — it
    // diverges cross-engine at shortest-repr ties)
    val t1 = r6(2 * math.log(pAB)) + r6(1 * math.log(pBA))
    val exp1 = t1 / 3.0
    val exp2 = r6(1 * math.log(pAC)) / 1.0
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(out(0).getAs[Double]("kn_logprob_mean") - exp1) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("kn_logprob_mean") - exp2) < 1e-9)
    assert(out.forall(_.getAs[Boolean]("keep")))
  }

  test("kneser-ney: context-bound token scores below a free token") {
    // "york" only ever follows "new" (context-bound); "said" follows many
    // words with the same total count — KN's continuation backoff must
    // give the unseen-context bigram with "said" a higher probability
    // than with "york". Build docs then compare P via the score of two
    // single-bigram probe docs appended to the same corpus.
    val base = (1 to 30).map(i => (i.toLong,
      s"new york w$i said v$i said u$i said new york"))
    val probes = Seq((1001L, "w1 said"), (1002L, "w1 york"))
    val docs = (base ++ probes).toDF("doc_id", "text")
    val out = TextOps.kneserNeyLogProb(docs, "doc_id", "text")
      .filter(col("doc_id") >= 1000L).orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("kn_logprob_mean") >
      out(1).getAs[Double]("kn_logprob_mean"))
  }

  // ------------------------------------------------------- Heaps' law

  test("heaps: all-new-token corpus fits beta = 1 exactly") {
    val docs = (1 to 20).map(i =>
      (i.toLong, (1 to 5).map(j => s"tok_${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = TextOps.heapsFit(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_tokens") == 100L)
    assert(r.getAs[Long]("vocab") == 100L)
    assert(math.abs(r.getAs[Double]("beta") - 1.0) < 1e-4)
    assert(r.getAs[Double]("r2") > 0.9999)
  }

  test("heaps: single-token corpus takes the degenerate-fit guard") {
    val docs = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val r = TextOps.heapsFit(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("vocab") == 1L)
    assert(r.getAs[Double]("beta") == 0.0 && r.getAs[Double]("r2") == 1.0)
  }

  test("heaps: natural-ish text fits beta strictly below 1") {
    val docs = (1 to 50).map { i =>
      (i.toLong, s"the of and a to in doc$i word${i % 13} word${i % 7} the of")
    }.toDF("doc_id", "text")
    val r = TextOps.heapsFit(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Double]("beta") > 0.0 && r.getAs[Double]("beta") < 0.9)
  }

  // ------------------------------------------------------ dedup ladder

  test("dedup ladder: each rung removes exactly its planted duplicates") {
    val docs = Seq(
      (1L, "x y z"), (2L, "x y z"),      // exact dup of 1
      (3L, "X, y z!"),                   // normalized dup of 1
      (4L, "x y z w"))                   // near dup of 1 (via pairs)
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.dedupLadder(docs, "doc_id", "text", pairs)
      .orderBy("rung").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("1_exact", 4L, 1L, 3L),
      ("2_normalized", 3L, 1L, 2L),
      ("3_near", 2L, 1L, 1L)))
  }

  test("dedup ladder: a pair whose endpoint died earlier removes nothing") {
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (4L, "x y z w"))
      .toDF("doc_id", "text")
    // 2 is removed at the exact rung, so the (2,4) edge must not fire
    val pairs = Seq((2L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.dedupLadder(docs, "doc_id", "text", pairs)
      .orderBy("rung").collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(out.toSeq == Seq(("1_exact", 1L), ("2_normalized", 0L),
      ("3_near", 0L)))
  }

  // ----------------------------------------- best-quality representative

  test("keepBestPerFamily: argmax on (quality desc, id asc); singletons rep themselves") {
    val docs = Seq((1L, 50), (2L, 75), (3L, 75), (9L, 10))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Split.keepBestPerFamily(docs, "doc_id", "quality", pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    // family 1 = {1,2,3}: quality tie 75 between 2 and 3 -> min id 2 wins
    assert(out.toSeq == Seq((1L, 1L, false), (2L, 1L, true),
      (3L, 1L, false), (9L, 9L, true)))
  }

  test("keepBestPerFamily: null-quality members never beat a scored one; string ids survive") {
    // r8 review regression: min(struct(-q, id)) sorted a NULL -q FIRST,
    // silently electing the unscored member; the is-null flag fixes it.
    val docs = Seq((1L, Some(50)), (2L, None), (3L, Some(40)))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Split.keepBestPerFamily(docs, "doc_id", "quality", pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    assert(out.toSeq == Seq((1L, true), (2L, false), (3L, false)))
    // an all-null family still resolves deterministically to its min id
    val allNull = Seq((7L, None: Option[Int]), (8L, None))
      .toDF("doc_id", "quality")
    val out2 = Split.keepBestPerFamily(allNull, "doc_id", "quality",
        Seq((7L, 8L)).toDF("id_a", "id_b"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(3)))
    assert(out2.toSeq == Seq((7L, true), (8L, false)))
  }

  // -------------------------------------------------- truncation loss

  test("truncationLoss: exact kept-token arithmetic") {
    val docs = Seq((1L, "a b c"), (2L, "a b c d e")).toDF("doc_id", "text")
    val out = Pack.truncationLoss(docs, "text", Seq(4)).collect()(0)
    assert(out.getAs[Long]("n_docs") == 2L)
    assert(out.getAs[Long]("docs_truncated") == 1L)
    assert(out.getAs[Long]("total_tokens") == 8L)
    assert(out.getAs[Long]("kept_tokens") == 7L)
    assert(out.getAs[Double]("waste_pct") == 12.5)
  }

  // -------------------------------------------------- selection curve

  test("selectionCurve: tau = 0 keeps everything; kept counts are monotone in tau") {
    val docs = Seq((1L, "the of and a to in is it that for good words here"),
      (2L, "x"), (3L, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.selectionCurve(docs, "text",
        Seq(0, 50, 100)).orderBy("threshold").collect()
    assert(out(0).getAs[Long]("docs_kept") == 3L) // tau 0 keeps all
    val kept = out.map(_.getAs[Long]("docs_kept"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b })
    val toks = out.map(_.getAs[Long]("tokens_kept"))
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
  }

  // ------------------------------------------------------ vocab drift

  test("vocabDrift: a new-snapshot-only token tops the ranking; stable tokens sit near zero") {
    val a = Seq((1L, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val b = Seq((2L, "alpha beta gamma alpha beta spam spam spam"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.vocabDrift(a, b, "text",
        minCount = 1, topK = 10).collect()
    assert(out(0).getAs[String]("token") == "spam")
    assert(out(0).getAs[Long]("c_a") == 0L && out(0).getAs[Long]("c_b") == 3L)
    val stable = out.find(_.getAs[String]("token") == "alpha").get
    assert(math.abs(stable.getAs[Double]("logratio")) < 0.5)
    assert(out(0).getAs[Double]("logratio") >
      stable.getAs[Double]("logratio"))
  }

  // ---------------------------------------------------- split leakage

  test("splitLeakage: a quoted 8-gram across the split is counted; disjoint docs are not") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 tail1 tail2"), // train
      (2L, "quote w1 w2 w3 w4 w5 w6 w7 w8 end"),   // eval, quotes doc 1
      (3L, "clean doc nothing shared here at all x"))  // eval, disjoint
      .toDF("doc_id", "text")
    val asg = Seq((1L, "train"), (2L, "eval"), (3L, "eval"))
      .toDF("doc_id", "split")
    val out = graft.operators.Decontaminate.splitLeakage(docs, "doc_id",
      "text", asg, "split", k = 8).collect()(0)
    assert(out.getAs[Long]("n_train_docs") == 1L)
    assert(out.getAs[Long]("n_eval_docs") == 2L)
    assert(out.getAs[Long]("n_shared_ngrams") == 1L) // exactly w1..w8
    assert(out.getAs[Long]("n_leaking_eval_docs") == 1L) // doc 2 only
  }

  // ------------------------------------------------------ OOV coverage

  test("oovCoverage: out-of-vocab mass counted exactly; full-vocab docs lossless") {
    // vocab size 2 -> top tokens by freq are "aa" (5) and "bb" (4)
    val docs = Seq(
      (1L, "g1", "aa bb aa bb"),      // lossless
      (2L, "g1", "aa bb cc"),         // 1 OOV
      (3L, "g2", "aa aa bb cc dd"))   // 2 OOV
      .toDF("doc_id", "grp", "text")
    val out = graft.operators.TextOps.oovCoverage(docs, "doc_id", "grp",
        "text", vocabSize = 2).orderBy("grp").collect()
    assert(out(0).getAs[Long]("total_tokens") == 7L)
    assert(out(0).getAs[Long]("oov_tokens") == 1L)
    assert(out(0).getAs[Long]("n_lossless_docs") == 1L)
    assert(out(1).getAs[Long]("oov_tokens") == 2L)
    assert(out(1).getAs[Long]("n_lossless_docs") == 0L)
  }

  // -------------------------------------------------- frequent lines

  test("dropFrequentLines: boilerplate df > maxDf dropped everywhere, unique lines kept in order") {
    val footer = "all rights reserved"
    val docs = Seq(
      (1L, s"alpha one\n$footer\nbeta one"),
      (2L, s"alpha two\n$footer"),
      (3L, s"$footer\ngamma three"),
      (4L, "delta four"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropFrequentLines(docs, "doc_id",
        "text", maxDf = 2).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_lines") == 3L &&
      out(0).getAs[Long]("n_dropped") == 1L &&
      out(0).getAs[String]("text_clean") == "alpha one\nbeta one")
    assert(out(1).getAs[String]("text_clean") == "alpha two")
    assert(out(2).getAs[String]("text_clean") == "gamma three")
    assert(out(3).getAs[Long]("n_dropped") == 0L &&
      out(3).getAs[String]("text_clean") == "delta four")
  }

  test("dropFrequentLines: repeats WITHIN one doc count as df 1") {
    val docs = Seq((1L, "same\nsame\nsame"), (2L, "other")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropFrequentLines(docs, "doc_id",
        "text", maxDf = 1).orderBy("doc_id").collect()
    // "same" appears in ONE document -> df 1 <= maxDf -> all copies kept
    assert(out(0).getAs[Long]("n_dropped") == 0L &&
      out(0).getAs[String]("text_clean") == "same\nsame\nsame")
  }

  // -------------------------------------------------------- datasheet

  test("corpusDatasheet: exact duplication mass and language argmax") {
    val docs = Seq(
      (1L, "alpha text here", "en", "s1"),
      (2L, "alpha text here", "en", "s1"), // exact dup
      (3L, "beta text here", "de", "s1"),
      (4L, "gamma text here", "fr", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.operators.TextOps.corpusDatasheet(docs, "source",
        "text", "lang").orderBy("source").collect()
    assert(out(0).getAs[Long]("n_exact_dup_docs") == 1L)
    assert(out(0).getAs[String]("top_lang") == "en")
    assert(math.abs(out(0).getAs[Double]("top_lang_share") - 2.0 / 3) < 1e-6)
    assert(out(1).getAs[Long]("n_exact_dup_docs") == 0L &&
      out(1).getAs[String]("top_lang") == "fr")
  }

  // ------------------------------------------------------ recall curve

  test("ivf recall: full probe hits brute force exactly; recall never decreases with nprobe") {
    // 24 deterministic 4-d vectors, queries = first 3
    val vecs = (0 until 24).map { i =>
      (i.toLong, Array(((i * 37) % 97).toFloat, ((i * 53) % 89).toFloat,
        ((i * 71) % 83).toFloat, ((i * 13) % 79).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val idx = graft.operators.Knn.ivfIndex(vecs, nlist = 6)
    val brute = graft.operators.Knn.bruteForceTopK(vecs, queries, k = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 3, 6).map { p =>
      val got = graft.operators.Knn.ivfSearch(idx, queries, k = 4, nprobe = p)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.last == brute.size) // full probe == brute force
  }

  // ---------------------------------------------------------- k-folds

  test("groupAwareFolds: near-dup families stay atomic; folds cover [0, k)") {
    val docs = (1L to 40L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Split.groupAwareFolds(docs, "doc_id", pairs, k = 4, seed = 7)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) == out(2L) && out(2L) == out(3L)) // family atomic
    assert(out(10L) == out(11L))
    assert(out.values.forall(f => f >= 0 && f < 4))
    assert(out.values.toSet.size > 1) // not all in one fold
  }

  test("stratifiedFolds: every stratum's fold sizes differ by at most one") {
    // skewed strata: 17 'a', 5 'b', 3 'c' over k = 4
    val rows = ((1L to 17L).map(i => (i, "a")) ++ (18L to 22L).map(i => (i, "b")) ++
      (23L to 25L).map(i => (i, "c"))).toDF("id", "s")
    val out = Split.stratifiedFolds(rows, "id", "s", k = 4, seed = 5)
      .collect().map(r => (r.getString(1), r.getInt(2)))
    val sizes = out.groupBy(identity).view.mapValues(_.length).toMap
    for (stratum <- Seq("a", "b", "c")) {
      val perFold = (0 until 4).map(f => sizes.getOrElse((stratum, f), 0))
      assert(perFold.max - perFold.min <= 1, s"stratum $stratum: $perFold")
    }
    assert(out.length == 25)
    intercept[IllegalArgumentException] {
      Split.stratifiedFolds(rows, "id", "s", k = 1)
    }
  }

  // ------------------------------------------- contamination k-sweep

  test("contamination k-sensitivity: an 8-token quote flags at k <= 8, not at k = 13") {
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13 b14"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "x1 x2 b1 b2 b3 b4 b5 b6 b7 b8 y1 y2"), // 8 shared tokens
      (2L, "clean doc with nothing shared at all"))
      .toDF("doc_id", "text")
    def flagged(k: Int): Set[Long] =
      graft.operators.Decontaminate.overlaps(train, bench, "doc_id", "text", k)
        .collect().map(_.getLong(0)).toSet
    assert(flagged(4) == Set(1L))
    assert(flagged(8) == Set(1L))
    assert(flagged(13) == Set.empty[Long])
  }

  // ------------------------------------------------------ LSH planner

  test("lshPlanner: hand value at (16, 4, s=0.5); monotone in sim") {
    val out = graft.operators.Dedup.lshPlanner(spark,
        Seq((16, 4)), Seq(0.3, 0.5, 0.7))
      .orderBy("sim").collect()
    val exp = BigDecimal(1.0 - math.pow(1.0 - math.pow(0.5, 4.0), 4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1).getAs[Double]("p_candidate") == exp)
    val ps = out.map(_.getAs[Double]("p_candidate"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a < b })
  }

  // ------------------------------------------------------ token ledger

  test("tokenLedger: token sums per stage, quality gate first") {
    val docs = Seq(
      (1L, "the of and a to in it is that for good prose here now"), // passes
      (2L, "x"),                                                     // quality-fail
      (3L, "the of and a to in it is that for good prose here now"), // exact dup of 1
      (4L, "the of and a to in it is that for good prose here too")) // near dup of 1
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.tokenLedger(docs, "doc_id", "text", pairs, minQuality = 50)
      .orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out(0) == ("0_raw", 4L, 43L))       // 14+1+14+14
    assert(out(1) == ("1_quality", 3L, 42L))   // doc 2 gated
    assert(out(2) == ("2_exact", 2L, 28L))     // doc 3 deduped
    assert(out(3) == ("3_near", 1L, 14L))      // doc 4 folded into 1
  }

  // --------------------------------------------------- hash uniformity

  test("hashUniformity: grid complete, mass conserved, healthy chi2; degenerate input explodes") {
    val ids = (1L to 2000L).map(Tuple1(_)).toDF("k")
    val r = graft.operators.Sketch.hashUniformity(ids, "k", m = 64, seed = 3)
      .collect()(0)
    assert(r.getAs[Long]("n") == 2000L && r.getAs[Long]("n_buckets") == 64L)
    // healthy: chi2 within a loose band of m - 1 = 63
    assert(r.getAs[Double]("chi2") > 20 && r.getAs[Double]("chi2") < 150)
    val const = (1L to 2000L).map(_ => Tuple1("same")).toDF("k")
    val bad = graft.operators.Sketch.hashUniformity(const, "k", m = 64, seed = 3)
      .collect()(0)
    assert(bad.getAs[Double]("chi2") > 50000) // everything in one bucket
  }

  // -------------------------------------------------- quality ablation

  test("qualityAblation: each planted victim lands on its rule; sole-failure attribution") {
    val docs = Seq(
      (1L, "the of and a to in it is that for good words here now"), // clean
      (2L, "tiny one"),                                              // short (+bands)
      (3L, "the cat!!! sat... on, the mat; and it was good??? yes!!! the end."))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.qualityAblation(docs, "text")
      .orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out(0)._1 == "1_short_doc" && out(0)._2 == 1L)
    assert(out(1)._1 == "2_high_punct" && out(1)._2 == 1L && out(1)._3 == 1L)
  }

  // ------------------------------------------------------- Theil-Sen

  test("theilSen: one wild outlier cannot move the median slope") {
    val pts = ((0 to 8).map(x => ("a", x, 2 * x)) :+ (("a", 9, 1000)))
      .toDF("g", "x", "y")
    val r = graft.operators.Robust.theilSen(pts, "g", "x", "y").collect()(0)
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 0.0) // my(9) - 2*mx(4.5)
    assert(r.getAs[Long]("n_points") == 10L)
  }

  // ---------------------------------------------------- trimmed means

  test("trimmedStats: outlier excluded from the trimmed mean, clamped in the winsorized") {
    val vals = ((1 to 10).map(v => ("g", v)) :+ (("g", 1000)))
      .toDF("g", "v")
    val r = graft.operators.Robust.trimmedStats(vals, "g", "v").collect()(0)
    // raw mean would be ~95.9; both robust forms stay near the bulk
    assert(r.getAs[Double]("trimmed_mean") < 10.0)
    assert(r.getAs[Double]("winsorized_mean") < 12.0)
    assert(r.getAs[Long]("n") == 11L)
  }

  test("trimmedStats: NULL trimmed mean when no value is inside the cuts or all are NULL") {
    val vals = Seq(("a", Some(1.0)), ("a", Some(10.0)), ("b", None), ("b", None))
      .toDF("g", "v")
    val r = graft.operators.Robust.trimmedStats(vals, "g", "v")
      .orderBy("g").collect()
    // {1.0, 10.0}: cuts 1.9 and 9.1 leave no value inside
    assert(math.abs(r(0).getAs[Double]("lo_cut") - 1.9) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("hi_cut") - 9.1) < 1e-9)
    assert(r(0).isNullAt(r(0).fieldIndex("trimmed_mean")))
    assert(r(0).getAs[Double]("winsorized_mean") == 5.5)
    // all-NULL group: no cuts, no means; n still counts its rows
    Seq("lo_cut", "hi_cut", "trimmed_mean", "winsorized_mean")
      .foreach(f => assert(r(1).isNullAt(r(1).fieldIndex(f)), f))
    assert(r(1).getAs[Long]("n") == 2L)
  }

  // -------------------------------------------------- provenance union

  test("provenanceUnion: dropped members' sources fold into the representative's record") {
    val docs = Seq((1L, "web"), (2L, "books"), (3L, "web"), (9L, "code"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.provenanceUnion(docs, "doc_id",
        "source", pairs).orderBy("rep_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 3L, 2, "books,web"), (9L, 1L, 1, "code")))
  }

  // --------------------------------------------------- dedup savings

  test("dedup savings: bytes-weighted ranking beats copy-count ranking") {
    // family A: 3 copies of a short text; family B: 2 copies of a long
    // one — B wastes more bytes despite fewer copies
    val short_ = "tiny"
    val long_ = "a very much longer document body with many bytes in it"
    val docs = Seq((1L, short_), (2L, short_), (3L, short_),
      (4L, long_), (5L, long_), (9L, "unique"))
      .toDF("doc_id", "text")
    val fams = docs.groupBy(md5(col("text")).as("digest"))
      .agg(count(lit(1)).as("n_copies"),
        min(octet_length(col("text")).cast("long")).as("doc_bytes"),
        min(col("doc_id")).as("first_id"))
      .filter(col("n_copies") > 1)
      .withColumn("wasted_bytes", (col("n_copies") - 1) * col("doc_bytes"))
      .orderBy(col("wasted_bytes").desc)
      .collect()
    assert(fams.length == 2)
    assert(fams(0).getAs[Long]("first_id") == 4L)  // long family first
    assert(fams(0).getAs[Long]("wasted_bytes") == long_.length.toLong)
    assert(fams(1).getAs[Long]("wasted_bytes") == 2L * short_.length)
  }

  // ---------------------------------------------------- code switching

  test("codeSwitchAudit: mixed halves flag; monolingual and und-tail docs do not") {
    val docs = Seq(
      (1L, "the and of to is the and of to is el la de que los el la de que los"),
      (2L, "the and of to is the and of to is the and of to is"),
      (3L, "the and of to is zz qq ww ee rr")) // tail und -> not a switch
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.codeSwitchAudit(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("is_switch"))
    assert(out(0).getAs[String]("lang_head") == "en" &&
      out(0).getAs[String]("lang_tail") == "es")
    assert(!out(1).getAs[Boolean]("is_switch"))
    assert(!out(2).getAs[Boolean]("is_switch") &&
      out(2).getAs[String]("lang_tail") == "und")
  }

  // --------------------------------------------------- lexicon screen

  test("lexiconScreen: density flags dense hits, not long docs with one hit") {
    val lex = Seq("bad", "worse")
    val dense = "bad worse bad worse bad stuff here"          // 5/7 ~714 per 1k
    val sparse = ("ok " * 200) + "bad"                        // 1/201 ~5 per 1k
    val docs = Seq((1L, dense), (2L, sparse), (3L, "clean doc entirely"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.lexiconScreen(docs, "doc_id", "text",
        lex, maxPer1k = 20.0).orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("flagged"))
    assert(!out(1).getAs[Boolean]("flagged") &&
      out(1).getAs[Long]("n_hits") == 1L)
    assert(!out(2).getAs[Boolean]("flagged") &&
      out(2).getAs[Long]("n_hits") == 0L)
  }

  // ------------------------------------- normalized decontamination

  test("overlapsNormalized catches a re-cased/re-punctuated leak that exact 8-grams miss") {
    val benchText = "which planet is closest to the sun in our solar system today"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val leaked = benchText.toUpperCase.replace(" ", ", ")
    val train = Seq((1L, leaked), (2L, "totally unrelated training text here"))
      .toDF("doc_id", "text")
    val exact = graft.operators.Decontaminate.overlaps(train, bench,
      "doc_id", "text", k = 8).collect()
    assert(exact.isEmpty) // the exact check is blind to the reformatting
    val norm = graft.operators.Decontaminate.overlapsNormalized(train, bench,
      "doc_id", "text", k = 8).collect()
    assert(norm.map(_.getLong(0)).toSet == Set(1L))
  }

  // ------------------------------------------------------ list purity

  test("ivf list purity: label-aligned clusters score share 1.0 per list") {
    // two tight clusters far apart, labels follow clusters; seeds = the
    // first 2 vectors by id (ids 0 and 1, one per cluster) -> pure lists
    val vecs = (0 until 16).map { i =>
      val inA = i % 2 == 0 // interleave so both clusters seed
      val v = if (inA) Array(100f + i, 1f, 0f, 0f)
              else Array(0f, 1f, 100f + i, 0f)
      (i.toLong, v, if (inA) 1 else 2)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val idx = graft.operators.Knn.ivfIndex(df, nlist = 2)
    val lists = idx.lists.select(col("__cent_id"), col("neighbor_id"))
      .join(df.select(col("vec_id"), col("label")),
        col("neighbor_id") === col("vec_id"))
    val purity = lists.groupBy(col("__cent_id"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("__cent_id"))
      .agg(max(col("c")).as("top"), sum(col("c")).as("n"))
      .collect()
    assert(purity.length == 2)
    purity.foreach(r => assert(r.getLong(1) == r.getLong(2))) // pure lists
  }

  // ------------------------------------------------------ SFT assembly

  test("sftAssemble: hand-computed spans, loss mask, and digest") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:10")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 13:00:00") // new session
    val ev = Seq((7L, t0, "view", 1L), (7L, t1, "purchase", 2L),
      (7L, t2, "error", 3L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val out = Sessionize.sftAssemble(ev, "user_id", "ts", "event_type",
        "event_id", Seq("view", "click", "signup"))
      .orderBy("session_seq", "turn_idx").collect()
    val turn1 = "<|user|>view#1<|end|>"
    val turn2 = "<|assistant|>purchase#2<|end|>"
    val turn3 = "<|assistant|>error#3<|end|>"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out.length == 3)
    // session 1: two turns with contiguous spans
    assert(out(0).getAs[Long]("t_start") == 0L &&
      out(0).getAs[Long]("t_end") == turn1.length.toLong)
    assert(out(1).getAs[Long]("t_start") == turn1.length.toLong &&
      out(1).getAs[Long]("t_end") == (turn1 + turn2).length.toLong)
    assert(!out(0).getAs[Boolean]("loss") && out(1).getAs[Boolean]("loss"))
    assert(out(0).getAs[String]("assembled_digest") == md5hex(turn1 + turn2))
    // session 2 restarts offsets
    assert(out(2).getAs[Long]("session_seq") == 2L &&
      out(2).getAs[Long]("t_start") == 0L)
    assert(out(2).getAs[String]("assembled_digest") == md5hex(turn3))
  }

  // ----------------------------------------------------- chunkTokens

  test("chunkTokens: window arithmetic, overlap, short last chunk, empty doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c d"),                                // n == chunkSize
      (3L, "x y z q w"),                              // n = 5: short tail
      (4L, ""),                                       // empty: no chunks
      (5L, null.asInstanceOf[String])                 // null == empty
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "text", chunkSize = 4, stride = 3,
        idCols = Seq("doc_id"))
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: nc = 1 + ceil((10-4)/3) = 3; windows overlap by 1 token
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10")))
    // doc 2: exactly one full chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 4L, "a b c d")))
    // doc 3: second chunk is the short tail (2 tokens), never dropped
    assert(out.filter(_._1 == 3L).toSeq == Seq(
      (3L, 0L, 4L, "x y z q"), (3L, 1L, 2L, "q w")))
    // empty and null docs produce zero chunks, not an empty chunk
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    // stride == chunkSize: disjoint cover, every token exactly once
    val flat = TextOps.chunkTokens(docs.filter(col("doc_id") === 1),
        "text", chunkSize = 4, stride = 4, idCols = Seq("doc_id"))
      .orderBy("chunk_idx").collect().map(_.getString(3))
    assert(flat.toSeq == Seq("t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"))
  }
}
