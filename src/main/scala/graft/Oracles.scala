package graft

/** DuckDB-dialect ANSI SQL oracles, one per entry in [[Queries.all]].
  *
  * Each statement must be value-identical (and column-name-identical) to the
  * Spark query when run by DuckDB over the same parquet tables. Notes on
  * dialect parity baked into these strings:
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    always-global regexp_replace;
  *  - DuckDB has no initcap — title-casing is emulated per word;
  *  - integer-typed outputs are CAST(... AS INT)/(... AS BIGINT) to match
  *    Spark's column types exactly;
  *  - aggregates follow the same exact-DECIMAL conventions as Queries.
  */
object Oracles {

  /** Reusable positional-character-similarity SQL (reference
    * cleaning_rules.py:234-237) over DuckDB list lambdas. */
  private def simSql(a: String, b: String): String =
    s"""(CASE WHEN length($a)=0 OR length($b)=0 THEN 0.0 ELSE
       | CAST(length(list_filter(range(1, least(length($a), length($b))+1),
       |   i -> substr(lower($a),i,1) = substr(lower($b),i,1))) AS DOUBLE)
       | / greatest(length($a), length($b)) END)""".stripMargin

  // --- text-analysis snippets (mirror graft.operators.TextOps exactly) ---

  /** Whitespace tokens with empties dropped. NULL text coalesces to ''
    * (empty token list), matching Spark's TextOps.tokens — without it a
    * NULL doc silently vanishes from DuckDB's signature chains while the
    * Spark side gives it a signature. */
  private def toksSql(t: String): String =
    s"list_filter(string_split_regex(coalesce($t, ''), '\\s+'), x -> x <> '')"

  private def tokenCountSql(t: String): String = s"len(${toksSql(t)})"

  private def punctRatioSql(t: String): String =
    s"""(CASE WHEN length($t) = 0 THEN 0.0 ELSE
       | CAST(length($t) - length(regexp_replace($t, '[[:punct:]]', '', 'g')) AS DOUBLE)
       | / length($t) END)""".stripMargin

  private val stopwordsSql =
    "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are']"

  private def stopwordRatioSql(t: String): String =
    s"""(CASE WHEN len(${toksSql(s"lower($t)")}) = 0 THEN 0.0 ELSE
       | CAST(len(list_filter(${toksSql(s"lower($t)")}, x -> list_contains($stopwordsSql, x))) AS DOUBLE)
       | / len(${toksSql(s"lower($t)")}) END)""".stripMargin

  private def meanTokenLenSql(t: String): String =
    s"""(CASE WHEN len(${toksSql(t)}) = 0 THEN 0.0 ELSE
       | CAST(list_sum(list_transform(${toksSql(t)}, x -> length(x))) AS DOUBLE)
       | / len(${toksSql(t)}) END)""".stripMargin

  /** TextOps.qualityScore: 100 minus 25 per failed heuristic. */
  private def qualitySql(t: String): String =
    s"""(100 - ((CASE WHEN ${tokenCountSql(t)} < 10 THEN 25 ELSE 0 END)
       | + (CASE WHEN ${punctRatioSql(t)} > 0.10 THEN 25 ELSE 0 END)
       | + (CASE WHEN ${stopwordRatioSql(t)} < 0.02 OR ${stopwordRatioSql(t)} > 0.60 THEN 25 ELSE 0 END)
       | + (CASE WHEN ${meanTokenLenSql(t)} < 2.0 OR ${meanTokenLenSql(t)} > 12.0 THEN 25 ELSE 0 END)))""".stripMargin

  /** TextOps.fingerprint: sequential rolling-hash fold (list_reduce is the
    * explicit left fold — keeps double/int op order identical to Spark's
    * `aggregate`). */
  private def fingerprintSql(t: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       | list_transform(${toksSql(t)}, x -> CAST(ascii(x)*31 + length(x) AS BIGINT))),
       | (h, v) -> (h*131 + v) % 1000000007)""".stripMargin

  /** Sequential left-fold sum of a double list (IEEE-order-identical to
    * Spark's `aggregate(..., 0.0, _+_)`). */
  private def foldSumSql(list: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $list), (a, b) -> a + b)"

  private def dotSql(a: String, b: String): String =
    foldSumSql(s"list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE))")

  private def normSql(a: String): String =
    s"sqrt(${foldSumSql(s"list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE))")})"

  /** Exact brute-force cosine top-5 for queries vec_id < 10 — the oracle
    * for q21 AND for q59 (an IVF search probing every list must reproduce
    * brute force bit-for-bit, so the one SQL statement green-hashes both
    * the brute-force operator and the whole ivfIndex/ivfSearch machinery). */
  private def bruteForceTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |scored AS (
       | SELECT query_id, neighbor_id,
       |  ${dotSql("qv", "cv")} AS dot_p,
       |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
       | FROM c, q WHERE neighbor_id <> query_id),
       |sims AS (
       | SELECT query_id, neighbor_id,
       |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
       | FROM scored),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
       | FROM sims)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", round(sim, 6) AS cosine_sim
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** The nDCG@5 discount weights 1/log2(r+1), r = 1..5 — computed ONCE
    * here and inlined as shortest-repr double literals into both the
    * Spark expression (Queries.q235Ndcg) and the SQL below, so neither
    * engine evaluates a transcendental and the sums are bitwise
    * cross-engine. */
  val ndcgWeights: Seq[Double] =
    (1 to 5).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Rank.bm25Search for the fixed ('spark','vector','query') query,
    * top 20 — the q76 oracle, and (as a verbatim subquery) the lexical
    * list inside q234's RRF fusion, so the two can never drift. */
  private def q76Sql: String =
    s"""WITH tok AS (
       | SELECT doc_id, unnest(${toksSql("lower(text)")}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (
       | SELECT count(*) AS n_docs,
       |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |df AS (
       | SELECT token, count(*) AS df FROM tf
       | WHERE token IN ('spark', 'vector', 'query') GROUP BY 1),
       |posting AS (
       | SELECT tf.doc_id, tf.token, tf.tf, dl.dl, s.n_docs, s.avgdl, df.df
       | FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
       |  CROSS JOIN stats s
       | WHERE tf.token IN ('spark', 'vector', 'query')),
       |st AS (
       | SELECT doc_id, token, dl,
       |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS st
       | FROM posting),
       |pivoted AS (
       | SELECT doc_id, dl,
       |  max(CASE WHEN token = 'spark' THEN st END) AS s0,
       |  max(CASE WHEN token = 'vector' THEN st END) AS s1,
       |  max(CASE WHEN token = 'query' THEN st END) AS s2
       | FROM st GROUP BY 1, 2),
       |top AS (
       | SELECT doc_id, dl,
       |  round(coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0), 6)
       |   AS score
       | FROM pivoted ORDER BY score DESC, doc_id ASC LIMIT 20)
       |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       | doc_id, dl, score
       |FROM top ORDER BY rank""".stripMargin

  /** Dedup.portableHash64 in DuckDB: first 15 hex digits of
    * md5("seed:" || v) parsed as a 60-bit integer. */
  private def ph(expr: String, seed: Int) =
    s"CAST('0x' || substr(md5('$seed:' || $expr), 1, 15) AS BIGINT)"

  /** The q213 documents-profile chain (unpivot + q91 estimator) as
    * suffixed CTEs over an optionally filtered corpus, ending in
    * p_<tag>(col_name, n_rows, n_null, occupied, max_reg,
    * est_distinct). One emitter so q213 and q221's two snapshots can
    * never drift from each other. */
  private def docProfileChain(tag: String, where: String): String = {
    val m = 1 << 12
    val w49 = 1L << 49
    s"""u_$tag AS (
       | SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value FROM documents $where
       | UNION ALL SELECT 'text', text FROM documents $where
       | UNION ALL SELECT 'lang', lang FROM documents $where
       | UNION ALL SELECT 'source', source FROM documents $where
       | UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents $where),
       |b_$tag AS (
       | SELECT col_name, count(*) AS n_rows,
       |  count(CASE WHEN value IS NULL THEN 1 END) AS n_null
       | FROM u_$tag GROUP BY 1),
       |w_$tag AS (
       | SELECT col_name, ${ph("value", 7)} % $m AS bucket,
       |  ${ph("value", 8)} % ${1L << 48} AS wv
       | FROM u_$tag WHERE value IS NOT NULL),
       |r_$tag AS (
       | SELECT col_name, bucket,
       |  max(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS reg
       | FROM w_$tag GROUP BY 1, 2),
       |a_$tag AS (
       | SELECT col_name, count(*) AS occupied, max(reg) AS max_reg,
       |  coalesce(sum((CAST(1 AS BIGINT) << (49 - reg))), 0)
       |   + ($m - count(*)) * CAST($w49 AS HUGEINT) AS s_total
       | FROM r_$tag GROUP BY 1),
       |e_$tag AS (
       | SELECT col_name, occupied, max_reg,
       |  ${graft.operators.Sketch.hllAlphaM2(12)}
       |   / (CAST(s_total AS DOUBLE) / $w49.0) AS raw
       | FROM a_$tag),
       |est_$tag AS (
       | SELECT col_name, occupied, max_reg,
       |  round(CASE WHEN raw <= ${2.5 * m} AND $m - occupied > 0
       |    THEN $m.0 * ln($m.0 / ($m - occupied)) ELSE raw END, 6)
       |   AS est_distinct
       | FROM e_$tag),
       |p_$tag AS (
       | SELECT b_$tag.col_name, n_rows, n_null,
       |  coalesce(occupied, 0) AS occupied,
       |  coalesce(max_reg, 0) AS max_reg,
       |  coalesce(est_distinct, 0.0) AS est_distinct
       | FROM b_$tag LEFT JOIN est_$tag ON b_$tag.col_name = est_$tag.col_name)"""
  }

  /** Planted-near-dup corpus rows in SQL — mirrors Queries.plantedTailDocs
    * (drop the first 2 tokens, shift the id). Table and predicate are
    * separate parameters so the generated WHERE clause is well-formed for
    * filtered and unfiltered corpora alike. */
  private def plantedSql(table: String, pred: String, modulus: Int,
                         idOffset: Long) =
    s"""SELECT doc_id + $idOffset AS doc_id,
       |    array_to_string(list_slice(tk, 3, len(tk)), ' ') AS text
       |  FROM (SELECT doc_id, ${toksSql("text")} AS tk
       |        FROM $table WHERE ($pred) AND doc_id % $modulus = 0)""".stripMargin

  /** CTE chain computing winnowing fingerprints (Winnow.fingerprints
    * with k=8, w=4, seed 17) for a corpus CTE: `{pfx}fp` is
    * (doc_id, fp) — distinct sliding-window minima of md5-chain hashes
    * over 8-char grams of the canonical token stream. One generator for
    * every winnowing oracle (q161/q166). */
  private def winnowFpCtes(corpusCte: String, pfx: String): String =
    s"""${pfx}d AS (
       | SELECT doc_id,
       |  array_to_string(${toksSql("lower(text)")}, ' ') AS s
       | FROM $corpusCte),
       |${pfx}d2 AS (
       | SELECT doc_id, s, greatest(len(s) - 7, 1) AS n
       | FROM ${pfx}d WHERE len(s) > 0),
       |${pfx}f0 AS (
       | SELECT doc_id,
       |  list_distinct(list_transform(range(1, greatest(n - 3, 1) + 1),
       |   j -> list_min(list_transform(range(j, least(j + 3, n) + 1),
       |     i -> ${ph("substr(s, CAST(i AS INT), 8)", 17)})))) AS fps
       | FROM ${pfx}d2),
       |${pfx}fp AS (SELECT doc_id, unnest(fps) AS fp FROM ${pfx}f0)""".stripMargin

  /** CTE chain computing k=3 shingles (`{pfx}shg`) and portable LSH rows
    * (`{pfx}bk`: doc_id, band, bucket) for a corpus CTE — mirrors
    * Dedup.minhashBuckets(portable = true): `numHashes` md5-derived
    * min-hashes (seeds 0..n-1), `bands` buckets (seeds 1000+b over the
    * comma-joined signature slice). One generator for every MinHash
    * oracle (q61/q65/q66). */
  private def minhashCtes(corpusCte: String, pfx: String,
                          numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val mins = (0 until numHashes)
      .map(i => s"min(${ph("s", i)}) AS h$i").mkString(",\n    ")
    val bucketSelects = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"  SELECT doc_id, $b AS band, ${ph(slice, 1000 + b)} AS bucket FROM ${pfx}sig"
    }.mkString("\n  UNION ALL\n")
    s"""${pfx}tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM $corpusCte),
       |${pfx}shg AS (
       |  SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |    ELSE list_transform(range(1, len(tk) - 1),
       |           i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS sh
       |  FROM ${pfx}tok),
       |${pfx}ex AS (SELECT doc_id, unnest(sh) AS s FROM ${pfx}shg),
       |${pfx}sig AS (SELECT doc_id, $mins
       |  FROM ${pfx}ex GROUP BY doc_id),
       |${pfx}bk AS (
       |$bucketSelects)""".stripMargin
  }

  /** The q99/q127 unigram-LM chain: per-doc mean token log-probability
    * under corpus frequencies, terms rounded to 6 and summed through
    * DECIMAL(25,6) — ends at `d(doc_id, n_tokens, logprob_mean)`. */
  private val q99Chain: String =
    s"""tok AS (
       | SELECT doc_id, unnest(${toksSql("lower(text)")}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |freq AS (SELECT token, CAST(sum(tf) AS BIGINT) AS freq FROM tf GROUP BY 1),
       |n AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM freq),
       |term AS (
       | SELECT doc_id, tf,
       |  CAST(round(tf * ln(CAST(freq AS DOUBLE) / n), 6) AS DECIMAL(25,6)) AS t
       | FROM tf JOIN freq USING (token) CROSS JOIN n),
       |d AS (
       | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(t) AS DOUBLE)
       |    / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) AS logprob_mean
       | FROM term GROUP BY 1)""".stripMargin

  /** The q124/q125 DSIR chain: hashed unigram+bigram features into 4096
    * md5 buckets, add-one-smoothed en-target vs whole-corpus bucket
    * distributions, per-doc mean log ratio — mirrors
    * Split.dsirLogWeights(portable = true) term by term. */
  private val dsirChain: String =
    s"""tok AS (
       | SELECT doc_id, lang, ${toksSql("lower(text)")} AS tk FROM documents),
       |feat AS (
       | SELECT doc_id, lang, unnest(list_concat(tk,
       |   list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])))
       |  AS f
       | FROM tok),
       |fb AS (SELECT doc_id, lang, ${ph("f", 5)} % 4096 AS b FROM feat),
       |qc AS (SELECT b, count(*) AS cq FROM fb GROUP BY b),
       |pc AS (SELECT b, count(*) AS cp FROM fb WHERE lang = 'en' GROUP BY b),
       |qt AS (SELECT CAST(sum(cq) AS BIGINT) AS tq FROM qc),
       |pt AS (SELECT CAST(sum(cp) AS BIGINT) AS tp FROM pc),
       |lr AS (
       | SELECT qc.b,
       |  ln((coalesce(cp, 0) + 1.0) / (tp + 4096)) -
       |  ln((cq + 1.0) / (tq + 4096)) AS lr
       | FROM qc LEFT JOIN pc USING (b) CROSS JOIN qt CROSS JOIN pt),
       |dc AS (SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2),
       |term AS (
       | SELECT doc_id, c, CAST(round(c * lr, 6) AS DECIMAL(25,6)) AS t
       | FROM dc JOIN lr USING (b)),
       |wts AS (
       | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_features,
       |  CAST(sum(t) AS DOUBLE)
       |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS log_weight_mean
       | FROM term GROUP BY doc_id)""".stripMargin

  /** Set-semantics Jaccard of two shingle lists (q17 precedent). */
  private def jaccardSql(a: String, b: String) =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0
       |         ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |              / len(list_distinct(list_concat($a, $b))) END""".stripMargin

  /** The q61/q65 corpus (quarter of documents + planted tails) and its
    * verified near-dup pair chain at 16 hashes / 4 bands. */
  private val q61Chain: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  ${plantedSql("documents", "doc_id % 4 = 0", 20, 1000000L)}),
       |${minhashCtes("corpus", "", 16, 4)},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM bk l JOIN bk r
       |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |ver AS (
       |  SELECT id_a, id_b,
       |    ${jaccardSql("a.sh", "b2.sh")} AS sim
       |  FROM cand
       |  JOIN shg a ON cand.id_a = a.doc_id
       |  JOIN shg b2 ON cand.id_b = b2.doc_id),
       |pairs AS (SELECT id_a, id_b, sim FROM ver WHERE sim >= 0.5)""".stripMargin

  /** q61: the FULL MinHash+LSH pipeline replayed in SQL. Mirrors
    * Dedup.minhashBuckets/minhashNearDups(portable = true) with the same
    * 16-hash/4-band family the query passes. */
  private val q61Sql: String =
    s"""WITH $q61Chain
       |SELECT id_a, id_b, floor(sim * 1e4 + 0.5) / 1e4 AS jaccard_sim
       |FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** q93 AND q98: vocab + token-id encoding to exploded scalar cells.
    * q93 runs the exploded encoder directly; q98 packs to the array-form
    * production sink then re-explodes — both must hash to this replay. */
  private val q93Sql: String =
    s"""WITH vocab AS (
       | SELECT token, row_number() OVER (ORDER BY freq DESC, token ASC)
       |   AS token_id
       | FROM (
       |  SELECT token, count(*) AS freq
       |  FROM (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents)
       |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 40)),
       |tok AS (
       | SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents
       | WHERE doc_id < 20),
       |pos AS (
       | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS INT) AS pos,
       |  unnest(tk) AS token
       | FROM tok)
       |SELECT doc_id, pos, CAST(coalesce(token_id, 0) AS INT) AS token_id
       |FROM pos LEFT JOIN vocab USING (token)
       |ORDER BY doc_id, pos""".stripMargin

  /** q65: the whole dropNearDuplicates composition — the q61 pair chain,
    * then recursive min-label connected components over the verified
    * pairs, then the keep-min-id anti-join. Mirrors
    * Dedup.dropNearDuplicates(portable = true) end to end. */
  private val q65Sql: String =
    s"""WITH RECURSIVE $q61Chain,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |losers AS (SELECT id FROM labels WHERE id <> cluster_id)
       |SELECT doc_id FROM corpus
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** q66: incremental near-dedup replay — separate bucket chains for the
    * existing corpus and the incoming batch, cross-corpus candidate join
    * only, shingle verification per side. Mirrors
    * Dedup.minhashNearDupsAgainst(portable = true). */
  private val q66Sql: String =
    s"""WITH existing AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0),
       |incoming AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 8 = 4
       |  UNION ALL
       |  ${plantedSql("documents", "doc_id % 8 = 0", 40, 3000000L)}),
       |${minhashCtes("existing", "e_", 16, 4)},
       |${minhashCtes("incoming", "i_", 16, 4)},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS incoming_id, r.doc_id AS existing_id
       |  FROM i_bk l JOIN e_bk r
       |    ON l.band = r.band AND l.bucket = r.bucket),
       |ver AS (
       |  SELECT incoming_id, existing_id,
       |    ${jaccardSql("a.sh", "b2.sh")} AS sim
       |  FROM cand
       |  JOIN i_shg a ON cand.incoming_id = a.doc_id
       |  JOIN e_shg b2 ON cand.existing_id = b2.doc_id)
       |SELECT incoming_id, existing_id, floor(sim * 1e4 + 0.5) / 1e4 AS jaccard_sim
       |FROM ver WHERE sim >= 0.5
       |ORDER BY incoming_id, existing_id""".stripMargin

  /** q62: the FULL SimHash pipeline replayed in SQL — portable token hash,
    * 64 per-bit sign sums, signature assembly, pigeonhole chunk buckets
    * (maxDist 3 -> 4 chunks x 16 bits), candidate self-join, Hamming
    * verify. Mirrors Dedup.simhashSigs/simhashNearDups(portable = true)
    * step for step, including the zero-token -> signature-0 guard
    * (explode_outer emits one NULL token row; its sign contribution is 0). */
  private val q62Sql: String = {
    val sums = (0 until 64).map(b =>
      s"sum(CASE WHEN t IS NULL THEN 0 WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n    ")
    val sigExpr = (0 until 64).map(b =>
      s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val chunkSelects = (0 until 4).map(c =>
      s"  SELECT doc_id, sig, $c AS chunk, (sig >> ${c * 16}) & 65535 AS ckey FROM sg")
      .mkString("\n  UNION ALL\n")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_slice(tk, 3, len(tk)), ' ') AS text
       |  FROM (SELECT doc_id, ${toksSql("text")} AS tk
       |        FROM documents WHERE doc_id % 25 = 0)),
       |tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM corpus),
       |ex AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN tk IS NULL OR len(tk) = 0 THEN [NULL] ELSE tk END) AS t
       |  FROM tok),
       |hs AS (SELECT doc_id, t, ${ph("t", 0)} AS h FROM ex),
       |bits AS (SELECT doc_id, $sums
       |  FROM hs GROUP BY doc_id),
       |sg AS (SELECT doc_id, $sigExpr AS sig FROM bits),
       |bk AS (
       |$chunkSelects),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |    l.sig AS siga, r.sig AS sigb
       |  FROM bk l JOIN bk r
       |    ON l.chunk = r.chunk AND l.ckey = r.ckey AND l.doc_id < r.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(siga, sigb)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(siga, sigb)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q63: portable SRP cosine near-dups replayed in SQL — the planted
    * float noise (REAL arithmetic: double-add-then-round == IEEE float
    * add, and DuckDB REAL/REAL is float division, the q30 precedent), the
    * 8 hyperplane projections as left folds over the portable hash family,
    * the same-bucket self-join, and fold-form cosine scoring. Mirrors
    * Knn.srpBucketPortable/cosineNearDupsPortable step for step. */
  /** The q63 CTE chain (planted corpus -> SRP buckets -> fold-form cosine
    * sims) WITHOUT the final select, so q63 and q80 share one replay. */
  private val q63Chain: String = {
    val numPlanes = 8
    def comp(p: Int) =
      s"(CAST(${ph("CAST(i - 1 AS VARCHAR)", p)} % 2000001 - 1000000 AS DOUBLE) / 1000000.0)"
    val bucket = (0 until numPlanes).map { p =>
      val proj = foldSumSql(
        s"list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * ${comp(p)})")
      s"(CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n      + ")
    // power-of-two divisor: the quotient is exact in REAL and DOUBLE, so
    // engine-internal promotion differences cannot shift a single bit
    val noise =
      s"CAST(${ph("CAST(vec_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)", 2000)} % 2001 - 1000 AS REAL) / CAST(16384 AS REAL)"
    s"""base AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 8 = 0),
       |planted AS (
       |  -- inner aliases differ from the source columns: DuckDB's lateral
       |  -- column aliases would otherwise shadow vec_id inside the noise
       |  -- lambda and key it on the SHIFTED id
       |  SELECT pid AS vec_id, pemb AS embedding FROM (
       |    SELECT vec_id + 1000000 AS pid,
       |      list_transform(range(1, len(embedding)+1),
       |        i -> CAST(embedding[i] + $noise AS REAL)) AS pemb
       |    FROM base WHERE vec_id % 40 = 0)),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |b AS (
       |  SELECT vec_id AS id, embedding AS e FROM corpus),
       |bn AS (
       |  SELECT id, e,
       |    $bucket AS bkt,
       |    ${normSql("e")} AS nrm
       |  FROM b),
       |pairs AS (
       |  SELECT l.id AS id_a, r.id AS id_b,
       |    ${dotSql("l.e", "r.e")} AS dp, l.nrm * r.nrm AS np
       |  FROM bn l JOIN bn r ON l.bkt = r.bkt AND l.id < r.id),
       |sims AS (
       |  SELECT id_a, id_b, CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS sim
       |  FROM pairs)""".stripMargin
  }

  private val q63Sql: String =
    s"""WITH $q63Chain
       |SELECT id_a, id_b, round(sim, 6) AS cosine_sim FROM sims
       |WHERE sim >= 0.9 ORDER BY id_a, id_b""".stripMargin

  /** q80: the q63 pair chain + recursive min-label CC + keep-min anti-join
    * — the full SemanticDedup.semanticDedupPortable composition. */
  private val q80Sql: String =
    s"""WITH RECURSIVE $q63Chain,
       |dup AS (SELECT id_a, id_b FROM sims WHERE sim >= 0.9),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM dup
       |  UNION
       |  SELECT id_b, id_a FROM dup),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |losers AS (SELECT id FROM labels WHERE id <> cluster_id)
       |SELECT vec_id FROM corpus
       |WHERE vec_id NOT IN (SELECT id FROM losers)
       |ORDER BY vec_id""".stripMargin

  /** The q12 risk-scoring CTE chain, shared with q05. */
  private val riskCtes =
    """lastord AS (
      | SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
      |  count(CASE WHEN o_orderstatus='O' THEN 1 END) AS open_n
      | FROM orders GROUP BY o_custkey),
      |j AS (
      | SELECT c_custkey,
      |  CAST(date_diff('day', last_d, DATE '1999-01-01') AS INT) AS inactive_days,
      |  least(greatest(round(c_acctbal), 0.0), 10000.0) / 100.0 AS completion_rate,
      |  CASE WHEN open_n > 0 THEN 'Pending' WHEN open_n = 0 THEN 'Completed' END AS payment_status
      | FROM customer LEFT JOIN lastord ON c_custkey = o_custkey),
      |scored AS (
      | SELECT j.*,
      |  least((CASE WHEN coalesce(inactive_days, 0) > 30 THEN 20 ELSE 0 END)
      |      + (CASE WHEN coalesce(completion_rate, 0.0) < 30 THEN 25 ELSE 0 END)
      |      + (CASE WHEN lower(coalesce(payment_status, '')) <> 'completed' THEN 15 ELSE 0 END),
      |    100) AS risk_score
      | FROM j)""".stripMargin

  /** q09's SQL, also reused as the q33 subquery. */
  private val q09Sql =
    """WITH base AS (
      | SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
      |  CAST(c_custkey AS VARCHAR) AS ck,
      |  lower(substr(c_mktsegment,1,1)) AS g,
      |  CAST(regexp_replace('₹' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) || ' INR',
      |    '[^0-9.\-]', '', 'g') AS DOUBLE) AS feev
      | FROM customer)
      |SELECT c_custkey,
      | CASE WHEN length(ck) < 3 THEN 'STU' || lpad(ck, 3, '0') ELSE 'STU' || ck END AS student_id,
      | array_to_string(list_transform(
      |   string_split_regex(trim(regexp_replace(regexp_replace(c_name,'[0-9]','','g'),'\s+',' ','g')), ' '),
      |   w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS name_clean,
      | lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g')) || '@school.edu' AS email_clean,
      | CAST(NULL AS VARCHAR) AS email_bad,
      | '+91-' || CAST(9800000000 + c_custkey AS VARCHAR) AS phone_clean,
      | CASE WHEN g = 'm' THEN 'Male' WHEN g = 'f' THEN 'Female' ELSE 'Other' END AS gender_clean,
      | g IN ('m', 'f') AS gender_valid,
      | round(least(greatest(c_acctbal, 0.0), 100.0), 2) AS score_clean,
      | c_acctbal >= 0 AND c_acctbal <= 100 AS score_valid,
      | abs(feev) AS fee_clean,
      | feev >= 0 AS fee_valid,
      | CAST(greatest(0, 100 - 10 * (1
      |   + (CASE WHEN g IN ('m','f') THEN 0 ELSE 1 END)
      |   + (CASE WHEN c_acctbal >= 0 AND c_acctbal <= 100 THEN 0 ELSE 1 END)
      |   + (CASE WHEN feev >= 0 THEN 0 ELSE 1 END))) AS INT) AS quality_score
      |FROM base ORDER BY c_custkey""".stripMargin

  /** q13's SQL, also reused as the q34 subquery. */
  private val q13Sql =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT doc_id,
      | row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1 AS is_duplicate
      |FROM corpus ORDER BY doc_id""".stripMargin

  /** q30: the multimodal stub chain (Multimodal.StubDecoder -> resize 16x16
    * -> features) replayed in SQL. The stub is deterministic arithmetic:
    * Arrays.hashCode over the UTF-8 payload (int32 wraparound emulated),
    * dims from the hash, and only the 768 pixel positions the 16x16
    * nearest-neighbor resize actually samples are generated. Embedding is
    * serialized as integer basis points (Java %.4f formats ties HALF_UP, C
    * printf half-even — round() agrees across engines). */
  private val q30Sql: String = {
    def wrap(x: String) =
      s"((($x) + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648"
    val hashFold =
      "list_reduce(list_prepend(CAST(1 AS BIGINT), " +
        "list_transform(range(1, length(text)+1), " +
        "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        s"(acc, b) -> ${wrap("acc * 31 + b")})"
    val histCounts = (0 until 16)
      .map(j => s"count(CASE WHEN v % 16 = $j THEN 1 END) AS c$j").mkString(",\n    ")
    val embBp = (0 until 16)
      .map(j => s"CAST(CAST(round(CAST(CAST(c$j AS REAL) / CAST(768 AS REAL) AS DOUBLE) * 10000) AS INT) AS VARCHAR)")
      .mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id AS media_id, text,
       |    length(text) + CASE WHEN strlen(text) <> length(text)
       |      THEN error('q30 oracle assumes ASCII text: Spark hashes UTF-8 BYTES (character semantics here) — non-ASCII fixtures would silently diverge')
       |      ELSE 0 END AS len,
       |    $hashFold AS h
       |  FROM documents),
       |dims AS (
       |  SELECT *, 16 + abs(h % 48) AS wdt,
       |    16 + abs(CAST(trunc(h / 64.0) AS BIGINT) % 48) AS hgt
       |  FROM docs),
       |px AS (
       |  SELECT media_id, len, text,
       |    ((((k // 48) * hgt // 16) * wdt + ((k // 3) % 16) * wdt // 16) * 3 + (k % 3)) AS idx
       |  FROM dims, (SELECT unnest(range(768)) AS k)),
       |vals AS (
       |  SELECT media_id,
       |    (ascii(substr(text, CAST(idx % len AS INT) + 1, 1)) + idx * 31) % 256 AS v
       |  FROM px),
       |feats AS (
       |  SELECT media_id,
       |    sum(v) / 768.0 AS mean0,
       |    sqrt(greatest(sum(CAST(v AS DOUBLE) * v) / 768.0
       |      - (sum(v) / 768.0) * (sum(v) / 768.0), 0.0)) AS std0,
       |    $histCounts
       |  FROM vals GROUP BY media_id)
       |SELECT media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       |  round(mean0, 4) AS mean_intensity,
       |  round(std0, 4) AS std_intensity,
       |  concat_ws(',', $embBp) AS embedding_bp
       |FROM feats""".stripMargin
  }

  private val base: Map[String, String] = EduOracles.all ++ Map(

    "q30_multimodal_features" -> q30Sql,

    // q57: incoming (odd ids + re-sent even-id copies) anti-joined on
    // content digest against the already-ingested even-id corpus
    "q57_dedup_incremental" ->
      """WITH existing AS (
        | SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id % 2 = 0),
        |incoming AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        | UNION ALL
        | SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id FROM incoming
        |WHERE md5(text) NOT IN (SELECT d FROM existing)
        |ORDER BY doc_id""".stripMargin,

    // q56: every-2nd 256-byte chunk of the "video" payloads (doc_id%3=2 per
    // Multimodal.syntheticMedia); frame size = what remains in the chunk.
    // Spark chunks the UTF-8 payload BYTES; length() here is characters, so
    // the parity holds only for ASCII fixtures — guarded loudly below.
    "q56_multimodal_frames" ->
      """SELECT media_id, CAST(k AS INT) AS frame_index,
        | CAST(least(256, len - k * 256) AS INT) AS frame_bytes
        |FROM (
        | SELECT doc_id AS media_id,
        |  length(text) + CASE WHEN strlen(text) <> length(text)
        |    THEN error('q56 oracle assumes ASCII text (byte vs character chunking)')
        |    ELSE 0 END AS len,
        |  unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS k
        | FROM documents WHERE doc_id % 3 = 2)
        |WHERE k % 2 = 0
        |ORDER BY media_id, frame_index""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_customer_360" ->
      """WITH o AS (
        | SELECT o_custkey, count(*) AS n,
        |  count(CASE WHEN o_orderstatus='O' THEN 1 END) AS open_n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spent
        | FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_name, c_mktsegment,
        | coalesce(n, 0) AS total_orders,
        | coalesce(open_n, 0) AS open_orders,
        | CAST(coalesce(spent, 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q03_part_performance" ->
      """SELECT p_brand,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_suppliers,
        | count(*) AS n_lines,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q04_daily_dashboard" ->
      """SELECT full_date, n_events, n_users, n_errors, total_value,
        | dayname(full_date) AS day_name,
        | dayname(full_date) IN ('Saturday','Sunday') AS is_weekend
        |FROM (
        | SELECT CAST(ts AS DATE) AS full_date, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  count(CASE WHEN event_type='error' THEN 1 END) AS n_errors,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        | FROM events GROUP BY CAST(ts AS DATE))
        |ORDER BY full_date DESC""".stripMargin,

    "q06_top_customers" ->
      """WITH spent AS (
        | SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        | FROM orders GROUP BY o_custkey),
        |r AS (
        | SELECT c_mktsegment, c_custkey, sp,
        |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY sp DESC, c_custkey ASC) AS rnk
        | FROM customer JOIN spent ON c_custkey = o_custkey)
        |SELECT c_mktsegment, CAST(rnk AS INT) AS "rank", c_custkey,
        | CAST(sp AS DOUBLE) AS total_spent
        |FROM r WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    "q07_date_dim" ->
      """SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_key,
        | CAST(d AS DATE) AS full_date,
        | CAST(year(d) AS INT) AS year, CAST(quarter(d) AS INT) AS quarter,
        | CAST(month(d) AS INT) AS month, CAST(day(d) AS INT) AS day,
        | CAST(weekofyear(d) AS INT) AS week_of_year,
        | dayname(d) AS day_name, monthname(d) AS month_name,
        | dayname(d) IN ('Saturday','Sunday') AS is_weekend
        |FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)
        |ORDER BY date_key""".stripMargin,

    "q08_upsert" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderstatus, o_orderdate,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |existing AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |batch AS (
        | SELECT o_orderkey, o_orderstatus, o_orderdate,
        |  CAST(round(p * CAST(1.1 AS DECIMAL(2,1)), 2) AS DECIMAL(18,2)) AS p
        | FROM o WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'),
        |merged AS (
        | SELECT * FROM existing WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        | UNION ALL SELECT * FROM batch)
        |SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(p) AS DOUBLE) AS total_price
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q09_cleaning" -> q09Sql,

    "q10_parse_dates" ->
      """SELECT o_orderkey,
        | CASE WHEN d <= DATE '1999-01-01' THEN d END AS d_dmy,
        | CAST(NULL AS DATE) AS d_unparsed,
        | CASE WHEN d <= DATE '1999-01-01' THEN d END AS d_long,
        | CASE WHEN d + INTERVAL '12:34:56' <= TIMESTAMP '1999-01-01 00:00:00'
        |      THEN d + INTERVAL '12:34:56' END AS ts_iso
        |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q11_fuzzy_nation" ->
      s"""WITH probe AS (
         | SELECT n_nationkey,
         |  CASE WHEN n_nationkey % 3 = 0 THEN substr(n_name, 1, length(n_name)-1)
         |       WHEN n_nationkey % 3 = 1 THEN substr(n_name, 1, 1) || n_name
         |       ELSE n_name END AS dirty_name
         | FROM nation),
         |corr AS (
         | SELECT n_nationkey, dirty_name,
         |  CASE WHEN dirty_name = 'CANAD' THEN 'CANADA' ELSE dirty_name END AS c
         | FROM probe),
         |ex AS (
         | SELECT corr.*, m.n_name AS exact_m
         | FROM corr LEFT JOIN nation m ON corr.c = m.n_name),
         |fz AS (
         | SELECT ex.n_nationkey, ex.dirty_name, ex.c, m.n_name AS cand,
         |  ${simSql("ex.c", "m.n_name")} AS sim
         | FROM ex, nation m WHERE ex.exact_m IS NULL),
         |best AS (
         | SELECT *, row_number() OVER (PARTITION BY n_nationkey ORDER BY sim DESC, cand ASC) AS rn
         | FROM fz)
         |SELECT n_nationkey, dirty_name, clean_name, clean_name_method FROM (
         | SELECT n_nationkey, dirty_name, exact_m AS clean_name,
         |  CASE WHEN c <> dirty_name THEN 'corrected' ELSE 'exact' END AS clean_name_method
         | FROM ex WHERE exact_m IS NOT NULL
         | UNION ALL
         | SELECT n_nationkey, dirty_name,
         |  CASE WHEN sim >= 0.5 THEN cand ELSE c END,
         |  CASE WHEN sim >= 0.5 THEN 'fuzzy' ELSE 'unmatched' END
         | FROM best WHERE rn = 1)
         |ORDER BY n_nationkey""".stripMargin,

    "q12_enrich_risk" ->
      s"""WITH $riskCtes
         |SELECT c_custkey, inactive_days, completion_rate, payment_status,
         | CAST(risk_score AS INT) AS risk_score,
         | CASE WHEN risk_score >= 75 THEN 'Critical' WHEN risk_score >= 50 THEN 'High'
         |      WHEN risk_score >= 25 THEN 'Medium' ELSE 'Low' END AS risk_category
         |FROM scored ORDER BY c_custkey""".stripMargin,

    "q05_ai_insights" ->
      s"""WITH $riskCtes
         |SELECT * FROM (
         | SELECT 'high_risk_customers' AS metric, count(*) AS value FROM scored WHERE risk_score > 40
         | UNION ALL
         | SELECT 'negative_sentiment_docs', count(*) FROM documents WHERE contains(lower(text), 'not')
         | UNION ALL
         | SELECT 'low_quality_docs', count(*) FROM documents WHERE ${qualitySql("text")} < 60)
         |ORDER BY metric""".stripMargin,

    "q13_dedup_exact" -> q13Sql,

    "q14_dedup_lastwins" ->
      """SELECT user_id, event_id, event_type,
        | CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q15_text_stats" ->
      s"""SELECT doc_id,
         | CAST(${tokenCountSql("text")} AS INT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish,
         | ${punctRatioSql("text")} AS punct_ratio,
         | ${stopwordRatioSql("text")} AS stopword_ratio,
         | ${meanTokenLenSql("text")} AS mean_token_len,
         | CAST(${qualitySql("text")} AS INT) AS quality_score,
         | ${fingerprintSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q16_langid" ->
      s"""WITH h AS (
         | SELECT doc_id, lang,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['the','and','of','to','is'], x))) AS h_en,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['el','la','de','que','los'], x))) AS h_es,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['le','la','les','des','est'], x))) AS h_fr,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['der','die','und','das','ist'], x))) AS h_de,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['的','是','了','在','我'], x))) AS h_zh
         | FROM documents)
         |SELECT doc_id,
         | CASE WHEN h_en + h_es + h_fr + h_de + h_zh = 0 THEN 'und'
         |      WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
         |      WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
         |      WHEN h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
         |      WHEN h_de >= h_zh THEN 'de'
         |      ELSE 'zh' END AS lang_pred,
         | lang
         |FROM h ORDER BY doc_id""".stripMargin,

    // lang-ID confusion matrix: the q16 prediction CASE reused, cross-
    // tabulated with per-gold-label totals; share = n/tot rounded
    "q144_lang_confusion" ->
      s"""WITH h AS (
         | SELECT doc_id, lang,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['the','and','of','to','is'], x))) AS h_en,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['el','la','de','que','los'], x))) AS h_es,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['le','la','les','des','est'], x))) AS h_fr,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['der','die','und','das','ist'], x))) AS h_de,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['的','是','了','在','我'], x))) AS h_zh
         | FROM documents),
         |p AS (
         | SELECT lang,
         |  CASE WHEN h_en + h_es + h_fr + h_de + h_zh = 0 THEN 'und'
         |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
         |       WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
         |       WHEN h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
         |       WHEN h_de >= h_zh THEN 'de'
         |       ELSE 'zh' END AS lang_pred
         | FROM h),
         |t AS (SELECT lang, count(*) AS tot FROM p GROUP BY 1)
         |SELECT p.lang, lang_pred, count(*) AS n_docs,
         | CAST(count(*) AS DOUBLE) / any_value(tot) AS share
         |FROM p JOIN t ON p.lang = t.lang
         |GROUP BY p.lang, lang_pred
         |ORDER BY p.lang, lang_pred""".stripMargin,

    "q17_jaccard" ->
      s"""WITH d AS (
         | SELECT doc_id, ${toksSql("text")} AS toks FROM documents WHERE doc_id < 60),
         |pairs AS (
         | SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         |  CASE WHEN len(list_distinct(list_concat(l.toks, r.toks))) = 0 THEN 0.0
         |       ELSE CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
         |            / len(list_distinct(list_concat(l.toks, r.toks))) END AS sim
         | FROM d l, d r WHERE l.doc_id < r.doc_id)
         |SELECT id_a, id_b, sim AS jaccard_sim
         |FROM pairs WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q18_sessionize" ->
      """WITH flagged AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | min(ts) AS session_start, max(ts) AS session_end,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // event-sequence corpus: q18's session chain + an (ts, event_id)-
    // ordered string_agg per session; duration via the same whole-second
    // date_diff the gap rule uses
    "q142_session_sequences" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | count(*) AS n_events,
        | string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq,
        | date_diff('second', min(ts), max(ts)) AS duration_sec
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "q19_tumbling" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
        | count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY window_start ORDER BY window_start""".stripMargin,

    "q20_stream_metrics" ->
      """SELECT user_id, count(*) AS n_events,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) / count(*) AS error_rate,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) / count(*) > 0.2 AS is_anomalous
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q21_knn_brute" -> bruteForceTopKSql,

    "q31_fuzzy_dups" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |pairs AS (
        | SELECT l.c_custkey AS id_a, r.c_custkey AS id_b, 'email' AS match_reason
        | FROM contacts l, contacts r
        | WHERE l.email = r.email AND l.c_custkey < r.c_custkey
        | UNION
        | SELECT l.c_custkey, r.c_custkey, 'name_phone'
        | FROM contacts l, contacts r
        | WHERE l.name = r.name AND l.phone = r.phone AND l.c_custkey < r.c_custkey)
        |SELECT id_a, id_b, match_reason FROM pairs
        |ORDER BY id_a, id_b, match_reason""".stripMargin,

    "q32_fk_violations" ->
      """SELECT l_partkey, count(*) AS n_orphan_lines
        |FROM lineitem
        |WHERE l_partkey IS NOT NULL
        |  AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 0)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "q33_quality_summary" ->
      s"""SELECT count(CASE WHEN quality_score < 100 THEN 1 END) AS flagged_records,
         | count(*) AS total_records
         |FROM ($q09Sql)""".stripMargin,

    "q34_dedup_report" ->
      s"""SELECT CAST(sum(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS BIGINT) AS duplicates,
         | count(*) AS total,
         | CAST(sum(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS duplicate_rate
         |FROM ($q13Sql)""".stripMargin,

    "q35_salted_agg" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q37_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q38_semi_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey IN (
        |   SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |     AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |  AND c_custkey NOT IN (
        |   SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |     AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q39_sql_surface" ->
      """SELECT n_name, count(*) AS n_lines,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name
        |HAVING count(*) > 100
        |ORDER BY n_name""".stripMargin,

    "q40_sliding_window" ->
      """SELECT window_start, count(*) AS n_events,
        | count(DISTINCT user_id) AS active_users
        |FROM (
        | SELECT time_bucket(INTERVAL '5 minutes', ts) - (k * INTERVAL '5 minutes') AS window_start,
        |  user_id
        | FROM events, (SELECT unnest([0, 1, 2]) AS k))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,

    "q42_curation" ->
      s"""WITH h AS (
         | SELECT doc_id, text,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['the','and','of','to','is'], x))) AS h_en,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['el','la','de','que','los'], x))) AS h_es,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['le','la','les','des','est'], x))) AS h_fr,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['der','die','und','das','ist'], x))) AS h_de,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['的','是','了','在','我'], x))) AS h_zh
         | FROM documents),
         |filtered AS (
         | SELECT doc_id,
         |  regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{10,12}\\b', '<PHONE>', 'g') AS rt
         | FROM h
         | WHERE h_en + h_es + h_fr + h_de + h_zh > 0
         |   AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh
         |   AND ${qualitySql("text")} >= 50),
         |toked AS (
         | SELECT doc_id, ${toksSql("rt")} AS toks FROM filtered),
         |chunked AS (
         | SELECT doc_id,
         |  unnest(list_transform(
         |    range(0, 1 + CAST(ceil(greatest(len(toks) - 40, 0) / 30.0) AS BIGINT)),
         |    i -> {'cid': i,
         |          'ctext': array_to_string(list_slice(toks, i*30 + 1, i*30 + 40), ' ')})) AS u
         | FROM toked)
         |SELECT doc_id, CAST(u.cid AS INT) AS chunk_id, u.ctext AS chunk_text,
         | CAST(len(${toksSql("u.ctext")}) AS INT) AS n_tokens
         |FROM chunked ORDER BY doc_id, chunk_id""".stripMargin,

    "q43_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "q44_percentiles" ->
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95,
        | min(value) AS vmin,
        | max(value) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q46_asof_join" ->
      """WITH versions AS (
        | SELECT c_custkey, CAST(vd AS TIMESTAMP) AS version_ts,
        |  CAST((c_custkey % 10) * 100 + year(CAST(vd AS TIMESTAMP)) % 100 AS INT) AS tier
        | FROM customer,
        |  (SELECT unnest(['1996-01-01','1998-01-01','2000-01-01']) AS vd))
        |SELECT o_orderkey, o_custkey, o_orderdate, v.tier
        |FROM orders
        |ASOF LEFT JOIN versions v
        |  ON o_custkey = v.c_custkey AND o_orderdate >= v.version_ts
        |ORDER BY o_orderkey""".stripMargin,

    "q47_scd2" ->
      """WITH versions AS (
        | SELECT c_custkey, CAST(vd AS TIMESTAMP) AS version_ts,
        |  CAST((c_custkey % 10) * 100 + year(CAST(vd AS TIMESTAMP)) % 100 AS INT) AS tier
        | FROM customer,
        |  (SELECT unnest(['1996-01-01','1998-01-01','2000-01-01']) AS vd))
        |SELECT c_custkey, tier,
        | version_ts AS valid_from,
        | lead(version_ts) OVER (PARTITION BY c_custkey ORDER BY version_ts) AS valid_to,
        | lead(version_ts) OVER (PARTITION BY c_custkey ORDER BY version_ts) IS NULL AS is_current
        |FROM versions ORDER BY c_custkey, valid_from""".stripMargin,

    "q49_token_freq" ->
      s"""SELECT token, count(*) AS freq
         |FROM (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents)
         |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin,

    "q50_set_ops" ->
      """SELECT o_custkey, segment FROM (
        | SELECT o_custkey, 'both_years' AS segment FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        | UNION ALL
        | SELECT o_custkey, 'only_1995' FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996))
        |ORDER BY segment, o_custkey""".stripMargin,

    "q51_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q48_range_join" ->
      """WITH windows AS (
        | SELECT CAST(d AS INT) AS win_day,
        |  CAST('2024-01-' || lpad(CAST(d AS VARCHAR), 2, '0') || ' 10:00:00' AS TIMESTAMP) AS win_start,
        |  CAST('2024-01-' || lpad(CAST(d AS VARCHAR), 2, '0') || ' 14:00:00' AS TIMESTAMP) AS win_end
        | FROM generate_series(1, 30) t(d))
        |SELECT win_day, count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events JOIN windows
        |  ON ts >= win_start AND ts < win_end
        |GROUP BY win_day ORDER BY win_day""".stripMargin,

    "q41_split_sample" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(((doc_id * 2654435761) % 4294967296) % 100 AS INT) AS bkt
        | FROM documents),
        |splits AS (
        | SELECT lang,
        |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS split,
        |  count(*) AS n_docs
        | FROM b GROUP BY 1, 2),
        |sampled AS (
        | SELECT lang, count(*) AS n_sampled FROM b
        | WHERE bkt < (CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 100 ELSE 10 END)
        | GROUP BY lang)
        |SELECT s.lang, s.split, s.n_docs, sampled.n_sampled
        |FROM splits s LEFT JOIN sampled ON s.lang = sampled.lang
        |ORDER BY s.lang, s.split""".stripMargin,

    // full-probe IVF == brute force, by construction — same oracle as q21
    "q59_knn_ivf_fullprobe" -> bruteForceTopKSql,

    // full probe over a SAVED-then-RELOADED index == brute force: the
    // persisted centroids + lists must be complete and value-preserving
    "q112_knn_ivf_reload" -> bruteForceTopKSql,

    // incremental near-dedup via the persisted bucket TABLE must equal the
    // recompute-per-batch form — same replay as q66, same corpus split
    "q111_neardedup_table" -> q66Sql,

    // interpolated bigram LM: bigrams via lead() per doc (identical window
    // both engines), exact integer counts, dyadic lambda (0.75/0.25 exact
    // in double), per-term round(.,6) through DECIMAL(25,6), ln parity as
    // q99. Docs with < 2 tokens have no bigrams (absent, both engines).
    "q113_bigram_lm" ->
      s"""WITH tok AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
         |  unnest(tk) AS w
         | FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)),
         |big AS (
         | SELECT doc_id, w AS w1,
         |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         | FROM tok),
         |tf2 AS (
         | SELECT doc_id, w1, w2, count(*) AS tf2 FROM big
         | WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, CAST(sum(tf2) AS BIGINT) AS c2 FROM tf2 GROUP BY 1, 2),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |term AS (
         | SELECT doc_id, tf2,
         |  CAST(round(tf2 * ln(
         |    0.75 * (CAST(c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
         |    + 0.25 * (CAST(u2.c1 AS DOUBLE) / CAST(n AS DOUBLE))), 6)
         |   AS DECIMAL(25,6)) AS t
         | FROM tf2
         | JOIN c2 USING (w1, w2)
         | JOIN c1 u1 ON tf2.w1 = u1.w
         | JOIN c1 u2 ON tf2.w2 = u2.w
         | CROSS JOIN n),
         |d AS (
         | SELECT doc_id, CAST(sum(tf2) AS BIGINT) AS n_bigrams,
         |  CAST(sum(t) AS DOUBLE)
         |    / CAST(CAST(sum(tf2) AS BIGINT) AS DOUBLE) AS logprob_mean
         | FROM term GROUP BY 1)
         |SELECT doc_id, n_bigrams, logprob_mean,
         | logprob_mean >= -10.0 AS keep
         |FROM d ORDER BY doc_id""".stripMargin,

    // BPE application with the FIXED q119 merge table: the identical
    // seed (chars + </w>, chr(1) on every symbol boundary) and the
    // identical ordered literal replace chain — boundary separators make
    // partial-symbol matches impossible in both engines
    "q119_bpe_encode" -> {
      val sep = "chr(1)"
      def l(s: String) = "'" + s.replace("'", "''") + "'"
      val seeded =
        s"$sep || regexp_replace(w, '(.)', '\\1' || $sep, 'g') || '</w>' || $sep"
      val chain = Queries.q119Merges.foldLeft(seeded) { case (acc, (a, b)) =>
        s"replace($acc, $sep || ${l(a)} || $sep || ${l(b)} || $sep, $sep || ${l(a + b)} || $sep)"
      }
      s"""WITH seg AS (
         | SELECT doc_id, flatten(list_transform(${toksSql("lower(text)")}, w ->
         |   list_filter(string_split($chain, chr(1)), x -> x <> ''))) AS sw
         | FROM documents WHERE doc_id < 20)
         |SELECT doc_id, CAST(generate_subscripts(sw, 1) AS INT) AS pos,
         | unnest(sw) AS subword
         |FROM seg ORDER BY doc_id, pos""".stripMargin
    },

    // fertility replay: the identical q119 replace chain per word, char
    // totals via concatenated-token length, exact BIGINT sums per lang,
    // two rounded double divisions
    "q133_bpe_fertility" -> {
      val sep = "chr(1)"
      def l(s: String) = "'" + s.replace("'", "''") + "'"
      val seeded =
        s"$sep || regexp_replace(w, '(.)', '\\1' || $sep, 'g') || '</w>' || $sep"
      val chain = Queries.q119Merges.foldLeft(seeded) { case (acc, (a, b)) =>
        s"replace($acc, $sep || ${l(a)} || $sep || ${l(b)} || $sep, $sep || ${l(a + b)} || $sep)"
      }
      s"""WITH seg AS (
         | SELECT lang, ${toksSql("lower(text)")} AS tk,
         |  flatten(list_transform(${toksSql("lower(text)")}, w ->
         |   list_filter(string_split($chain, chr(1)), x -> x <> ''))) AS sw
         | FROM documents),
         |g AS (
         | SELECT lang, CAST(sum(len(tk)) AS BIGINT) AS n_words,
         |  CAST(sum(len(sw)) AS BIGINT) AS n_subwords,
         |  CAST(sum(length(array_to_string(tk, ''))) AS BIGINT) AS n_chars
         | FROM seg GROUP BY lang)
         |SELECT lang, n_words, n_subwords, n_chars,
         | CASE WHEN n_words = 0 THEN 0.0 ELSE
         |  CAST(n_subwords AS DOUBLE) / n_words END AS fertility,
         | CASE WHEN n_subwords = 0 THEN 0.0 ELSE
         |  CAST(n_chars AS DOUBLE) / n_subwords END
         |  AS chars_per_subword
         |FROM g ORDER BY lang""".stripMargin
    },

    // PQ ADC replay: same deterministic seeds (first 16 by vec_id), the
    // same left-fold (x-y)^2 subvector distances, argmin codes tie-broken
    // on cid, ADC terms rounded to 6 and summed in DECIMAL, rank
    // tie-broken on neighbor_id — value-exact replay of an approximate
    // search
    "q134_pq_adc" -> {
      def sq(a: String, b: String) = foldSumSql(
        s"""list_transform(range(1, len($a) + 1),
           | i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           |    * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))""".stripMargin)
      s"""WITH seeds AS (
         | SELECT vec_id, embedding FROM embeddings
         | WHERE len(embedding) = 64 ORDER BY vec_id LIMIT 16),
         |cb AS (
         | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, js.j,
         |  list_slice(embedding, js.j * 16 + 1, js.j * 16 + 16) AS subvec
         | FROM seeds CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
         |enc AS (
         | SELECT vec_id, j, cid,
         |  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS r
         | FROM (
         |  SELECT e.vec_id, cb.j, cb.cid,
         |   ${sq("list_slice(e.embedding, cb.j * 16 + 1, cb.j * 16 + 16)",
                  "cb.subvec")} AS d
         |  FROM embeddings e CROSS JOIN cb
         |  WHERE len(e.embedding) = 64)),
         |codes AS (SELECT vec_id, j, cid AS code FROM enc WHERE r = 1),
         |qtab AS (
         | SELECT q.vec_id AS query_id, cb.j, cb.cid,
         |  CAST(round(${sq(
                  "list_slice(q.embedding, cb.j * 16 + 1, cb.j * 16 + 16)",
                  "cb.subvec")}, 6) AS DECIMAL(25,6)) AS d
         | FROM embeddings q CROSS JOIN cb
         | WHERE q.vec_id < 10 AND len(q.embedding) = 64),
         |sc AS (
         | SELECT qtab.query_id, c.vec_id AS neighbor_id, sum(qtab.d) AS adc
         | FROM codes c JOIN qtab ON c.j = qtab.j AND c.code = qtab.cid
         | WHERE qtab.query_id <> c.vec_id
         | GROUP BY 1, 2),
         |rk AS (
         | SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS INT) AS "rank", adc
         | FROM sc)
         |SELECT query_id, neighbor_id, "rank",
         | round(CAST(adc AS DOUBLE), 6) AS adc_dist
         |FROM rk WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin
    },

    // IVFADC replay: coarse assign (argmin over the 8 id-order seeds),
    // residual lists, shared residual codebook from the first 16
    // residuals, per-subspace argmin codes, probed-list residual ADC
    // with DECIMAL term sums — every stage the same fold arithmetic
    "q135_ivfadc" -> {
      def sq(a: String, b: String) = foldSumSql(
        s"""list_transform(range(1, len($a) + 1),
           | i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           |    * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))""".stripMargin)
      def res(v: String, c: String) =
        s"""list_transform(range(1, 65),
           | i -> CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))""".stripMargin
      s"""WITH base AS (
         | SELECT vec_id, embedding AS v FROM embeddings
         | WHERE len(embedding) = 64),
         |coarse AS (
         | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS lid, v AS cv
         | FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 8)),
         |asg AS (
         | SELECT vec_id, v, lid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS r
         | FROM (
         |  SELECT b.vec_id, b.v, c.lid, ${sq("b.v", "c.cv")} AS d
         |  FROM base b CROSS JOIN coarse c)),
         |resid AS (
         | SELECT a.vec_id, a.lid, ${res("a.v", "c.cv")} AS rv
         | FROM asg a JOIN coarse c ON a.lid = c.lid WHERE a.r = 1),
         |rseeds AS (SELECT vec_id, rv FROM resid ORDER BY vec_id LIMIT 16),
         |rcb AS (
         | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, js.j,
         |  list_slice(rv, js.j * 16 + 1, js.j * 16 + 16) AS subvec
         | FROM rseeds CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
         |enc AS (
         | SELECT vec_id, lid, j, cid,
         |  row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS r
         | FROM (
         |  SELECT t.vec_id, t.lid, rcb.j, rcb.cid,
         |   ${sq("list_slice(t.rv, rcb.j * 16 + 1, rcb.j * 16 + 16)",
                  "rcb.subvec")} AS d
         |  FROM resid t CROSS JOIN rcb)),
         |codes AS (
         | SELECT vec_id, lid, j, cid AS code FROM enc WHERE r = 1),
         |probe AS (
         | SELECT query_id, lid, rq FROM (
         |  SELECT q.vec_id AS query_id, c.lid,
         |   ${res("q.embedding", "c.cv")} AS rq,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${sq("q.embedding", "c.cv")}, c.lid) AS pr
         |  FROM embeddings q CROSS JOIN coarse c
         |  WHERE q.vec_id < 10 AND len(q.embedding) = 64)
         | WHERE pr <= 3),
         |qtab AS (
         | SELECT query_id, lid, rcb.j, rcb.cid,
         |  CAST(round(${sq("list_slice(rq, rcb.j * 16 + 1, rcb.j * 16 + 16)",
                  "rcb.subvec")}, 6) AS DECIMAL(25,6)) AS d
         | FROM probe CROSS JOIN rcb),
         |sc AS (
         | SELECT qtab.query_id, codes.vec_id AS neighbor_id,
         |  sum(qtab.d) AS adc
         | FROM codes JOIN qtab ON codes.lid = qtab.lid
         |   AND codes.j = qtab.j AND codes.code = qtab.cid
         | WHERE qtab.query_id <> codes.vec_id
         | GROUP BY 1, 2),
         |rk AS (
         | SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS INT) AS "rank", adc
         | FROM sc)
         |SELECT query_id, neighbor_id, "rank",
         | round(CAST(adc AS DOUBLE), 6) AS adc_dist
         |FROM rk WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin
    },

    // KL drift replay: same md5 bucket hash mod 512, full group x bucket
    // grid via range unnest, identical add-one smoothed doubles, terms
    // round(P*ln(P/Q), 6) summed in DECIMAL
    "q136_kl_drift" ->
      s"""WITH tok AS (
         | SELECT source, unnest(${toksSql("lower(text)")}) AS token
         | FROM documents),
         |fb AS (
         | SELECT source, ${ph("token", 11)} % 512 AS b FROM tok),
         |sb AS (SELECT source, b, count(*) AS c FROM fb GROUP BY 1, 2),
         |tots AS (
         | SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM sb GROUP BY 1),
         |corp AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc FROM sb GROUP BY 1),
         |ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot FROM corp),
         |grid AS (
         | SELECT t.source, t.tot, bs.b, sb.c, corp.cc, ctot.ctot
         | FROM tots t
         | CROSS JOIN (SELECT unnest(range(0, 512)) AS b) bs
         | LEFT JOIN sb ON sb.source = t.source AND sb.b = bs.b
         | LEFT JOIN corp ON corp.b = bs.b
         | CROSS JOIN ctot),
         |term AS (
         | SELECT source, tot,
         |  CAST(round(
         |    (CAST(coalesce(c, 0) + 1 AS DOUBLE) / (tot + 512)) *
         |    ln((CAST(coalesce(c, 0) + 1 AS DOUBLE) / (tot + 512)) /
         |       (CAST(coalesce(cc, 0) + 1 AS DOUBLE) / (ctot + 512))),
         |   6) AS DECIMAL(25,6)) AS t
         | FROM grid)
         |SELECT source, max(tot) AS n_tokens,
         | CAST(sum(t) AS DOUBLE) AS kl_div
         |FROM term GROUP BY source ORDER BY source""".stripMargin,

    // token-budget mixture replay: same md5 hash ordering, ROWS-framed
    // running sum of exact BIGINT token counts, same budget lookup
    "q137_token_budget" ->
      s"""WITH d AS (
         | SELECT doc_id, source,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens,
         |  ${ph("CAST(doc_id AS VARCHAR)", 33)} AS h
         | FROM documents),
         |c AS (
         | SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS cum_tokens
         | FROM d)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
         | cum_tokens <= (CASE source WHEN 'src0' THEN 3000
         |                            WHEN 'src1' THEN 500
         |                            ELSE 1000 END) AS keep
         |FROM c ORDER BY doc_id""".stripMargin,

    // curriculum shards replay: the q15 quality kernel, ntile over
    // (quality desc, doc_id), exact integer per-shard aggregates
    "q138_curriculum" ->
      s"""WITH q AS (
         | SELECT doc_id, CAST(${qualitySql("text")} AS INT) AS q,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS nt
         | FROM documents),
         |s AS (
         | SELECT doc_id, q, nt,
         |  ntile(8) OVER (ORDER BY q DESC, doc_id ASC) AS shard
         | FROM q)
         |SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
         | min(q) AS min_quality, max(q) AS max_quality,
         | CAST(sum(nt) AS BIGINT) AS total_tokens
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    // per-domain report: the oracle derives the registrable domain
    // INDEPENDENTLY (source || '-site.com' — the construction's known
    // answer) rather than replaying the regex chain, so a kernel
    // regression in host/domain extraction hash-fails here even if the
    // q132 replay drifted with it; quality/token kernels as q15/q89
    "q139_domain_report" ->
      s"""WITH d AS (
         | SELECT doc_id, source || '-site.com' AS domain,
         |  source = 'src3' AS blocked,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS nt,
         |  CAST(${qualitySql("text")} AS INT) AS q
         | FROM documents)
         |SELECT domain, blocked, count(*) AS n_docs,
         | CAST(sum(nt) AS BIGINT) AS total_tokens,
         | CAST(sum(q) AS DOUBLE) / count(*) AS avg_quality
         |FROM d GROUP BY 1, 2 ORDER BY domain""".stripMargin,

    // repeat-mixture replay: same per-group (floor, frac-bp) constants,
    // same md5 hash threshold, copies via range unnest (empty range
    // drops the factor-0.25 losers)
    "q140_repeat_mixture" ->
      s"""WITH d AS (
         | SELECT doc_id, source,
         |  (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END)
         |   + (CASE WHEN ${ph("CAST(doc_id AS VARCHAR)", 55)} % 10000 <
         |        (CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500
         |         ELSE 0 END)
         |      THEN 1 ELSE 0 END) AS n_copies
         | FROM documents)
         |SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
         | unnest(range(1, n_copies + 1)) AS copy
         |FROM d WHERE n_copies >= 1
         |ORDER BY doc_id, copy""".stripMargin,

    // encoding scrub replay: the SAME shared mojibake table (escaped via
    // chr() composition so the SQL text carries no raw control bytes),
    // same ordered replaces, same C0/DEL/C1 strip class
    "q141_fix_encoding" -> {
      val fixedExpr = graft.operators.TextOps.mojibakeTable
        .foldLeft("coalesce(text, '')") { case (acc, (bad, good)) =>
          s"replace($acc, ${Queries.sqlStr(bad)}, ${Queries.sqlStr(good)})"
        }
      s"""WITH base AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | ${Queries.encodingPlanted.map { case (id, t) =>
              s"SELECT CAST($id AS BIGINT) AS doc_id, ${Queries.sqlStr(t)} AS text"
            }.mkString("\n  UNION ALL\n  ")}),
         |f AS (SELECT doc_id, $fixedExpr AS fixed, coalesce(text, '') AS t
         |      FROM base),
         |c AS (
         | SELECT doc_id, fixed, t,
         |  regexp_replace(fixed,
         |   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g')
         |   AS text_clean
         | FROM f)
         |SELECT doc_id, text_clean,
         | CAST(length(fixed) - length(text_clean) AS INT) AS n_ctrl_removed,
         | fixed <> t AS mojibake_fixed
         |FROM c ORDER BY doc_id""".stripMargin
    },

    // estimated vs exact Jaccard from ONE chain: the q61 sig CTE gives
    // h0..h15 per doc; agreement fraction = sum(CASE a.hi = b.hi)/16.0,
    // exact sim comes from the same verified pairs CTE
    "q120_minhash_estimate" -> {
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $q61Chain
         |SELECT p.id_a, p.id_b, floor(p.sim * 1e4 + 0.5) / 1e4 AS jaccard_sim,
         | round(CAST($agree AS DOUBLE) / 16.0, 6) AS est_sim
         |FROM pairs p
         |JOIN sig a ON p.id_a = a.doc_id
         |JOIN sig b ON p.id_b = b.doc_id
         |ORDER BY p.id_a, p.id_b""".stripMargin
    },

    // threshold sweep: the q61 chain's verified pairs, each threshold's
    // edges lifted to the disjoint id space id*4+i, then ONE recursive
    // min-label CC pass over the union — the oracle mirrors the
    // operator's composite-key single-pass trick exactly. Pair filters
    // run on round(sim, 4), the value the operator filters (its input
    // is the rounded jaccard_sim column).
    "q121_threshold_sweep" -> {
      val ths = Seq(0.5, 0.6, 0.7, 0.8)
      val n = ths.size
      val lifted = ths.zipWithIndex.map { case (th, i) =>
        s"  SELECT id_a * $n + $i AS src, id_b * $n + $i AS dst FROM tp WHERE s4 >= $th"
      }.mkString("\n  UNION ALL\n")
      val perTh = ths.zipWithIndex.map { case (th, i) =>
        s"  SELECT $i AS i, CAST($th AS DOUBLE) AS threshold, count(*) AS n_pairs FROM tp WHERE s4 >= $th"
      }.mkString("\n  UNION ALL\n")
      s"""WITH RECURSIVE $q61Chain,
         |tp AS (SELECT id_a, id_b, floor(sim * 1e4 + 0.5) / 1e4 AS s4 FROM pairs),
         |e0 AS (
         |$lifted),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |cc AS (
         |  SELECT id % $n AS i, count(*) AS docs,
         |   count(DISTINCT cluster_id) AS clusters
         |  FROM labels GROUP BY 1),
         |pt AS (
         |$perTh)
         |SELECT threshold, n_pairs,
         | CAST(coalesce(docs, 0) AS BIGINT) AS n_docs,
         | CAST(coalesce(clusters, 0) AS BIGINT) AS n_clusters,
         | CAST(coalesce(docs - clusters, 0) AS BIGINT) AS n_dropped
         |FROM pt LEFT JOIN cc USING (i)
         |ORDER BY threshold""".stripMargin
    },

    // per-source shingle novelty: k=3 shingles (the minhashCtes kernel),
    // portable md5 digests, distinct (doc, source, digest), min-doc_id
    // ownership — all exact integers, one double division at the end
    "q122_shingle_novelty" ->
      s"""WITH tok AS (
         | SELECT doc_id, source, ${toksSql("text")} AS tk FROM documents),
         |shg AS (
         | SELECT doc_id, source,
         |  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |   ELSE list_transform(range(1, len(tk) - 1),
         |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS sh
         | FROM tok),
         |ex AS (
         | SELECT DISTINCT doc_id, source, ${ph("s", 0)} AS dg
         | FROM (SELECT doc_id, source, unnest(sh) AS s FROM shg)),
         |own AS (SELECT dg, min(doc_id) AS first_id FROM ex GROUP BY dg)
         |SELECT source,
         | count(*) AS total_shingles,
         | CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |  AS novel_shingles,
         | CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |  / count(*) AS novelty_rate
         |FROM ex JOIN own USING (dg)
         |GROUP BY source ORDER BY source""".stripMargin,

    // HLL set algebra: the q77 register replay keyed by return-flag, pair
    // union via bucket-wise max, inclusion-exclusion intersection — every
    // register an exact cross-engine integer, the one estimator double
    // interpolated from the same alphaM2 constant
    "q123_hll_set_algebra" -> {
      val m = 1 << 12
      val w49 = 1L << 49
      val alpha = graft.operators.Sketch.hllAlphaM2(12)
      def est(src: String, keys: String, out: String) =
        s"""SELECT $keys,
           |  round(CASE WHEN raw <= ${2.5 * m} AND $m - occupied > 0
           |    THEN $m.0 * ln($m.0 / ($m - occupied)) ELSE raw END, 6) AS $out
           | FROM (
           |  SELECT $keys, occupied,
           |   $alpha / (CAST(s_total AS DOUBLE) / $w49.0) AS raw
           |  FROM (
           |   SELECT $keys, count(*) AS occupied,
           |    coalesce(sum((CAST(1 AS BIGINT) << (49 - reg))), 0)
           |     + ($m - count(*)) * CAST($w49 AS HUGEINT) AS s_total
           |   FROM $src GROUP BY $keys))""".stripMargin
      s"""WITH w AS (
         | SELECT l_returnflag AS k, ${ph("l_orderkey", 7)} % $m AS bucket,
         |  ${ph("l_orderkey", 8)} % ${1L << 48} AS wv
         | FROM lineitem),
         |r AS (
         | SELECT k, bucket,
         |  max(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS reg
         | FROM w GROUP BY 1, 2),
         |ks AS (SELECT DISTINCT k FROM r),
         |pr AS (SELECT a.k AS key_a, b.k AS key_b
         |       FROM ks a JOIN ks b ON a.k < b.k),
         |mg AS (
         | SELECT key_a, key_b, bucket, max(reg) AS reg
         | FROM (
         |  SELECT pr.key_a, pr.key_b, r.bucket, r.reg
         |  FROM pr JOIN r ON r.k = pr.key_a
         |  UNION ALL
         |  SELECT pr.key_a, pr.key_b, r.bucket, r.reg
         |  FROM pr JOIN r ON r.k = pr.key_b)
         | GROUP BY 1, 2, 3),
         |ea AS (${est("r", "k", "e")}),
         |eu AS (${est("mg", "key_a, key_b", "est_union")})
         |SELECT key_a, key_b, a.e AS est_a, b.e AS est_b, est_union,
         | a.e + b.e - est_union AS est_intersect
         |FROM eu
         |JOIN ea a ON a.k = eu.key_a
         |JOIN ea b ON b.k = eu.key_b
         |ORDER BY key_a, key_b""".stripMargin
    },

    // DSIR weights: hashed unigram+bigram features (md5 buckets),
    // add-one-smoothed target/raw distributions, ln ratios on identical
    // doubles, per-bucket terms rounded to 6 and summed through
    // DECIMAL(25,6) — the q99/q113 float ladder end to end
    "q124_dsir_weights" ->
      s"""WITH $dsirChain
         |SELECT doc_id, n_features, log_weight_mean
         |FROM wts ORDER BY doc_id""".stripMargin,

    // Gumbel-top-k resampling: noise from the portable hash of the id
    // ((h % 2^30 + 0.5) / 2^30 — power-of-two divisor, exact in double),
    // keys rounded to 6, ties on doc_id — the selected set is a pure
    // function both engines compute identically
    "q125_dsir_resample" ->
      s"""WITH $dsirChain,
         |g AS (
         | SELECT doc_id, n_features, log_weight_mean,
         |  round(log_weight_mean - ln(-ln(
         |    (${ph("doc_id", 11)} % 1073741824 + 0.5) / 1073741824.0)), 6)
         |   AS gumbel_key
         | FROM wts)
         |SELECT doc_id, n_features, log_weight_mean, gumbel_key
         |FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin,

    // Gopher rule battery: every measurement an exact-integer division
    // (char counts, token counts, non-overlapping replace for symbol
    // occurrences), rules threshold the unrounded doubles (q81
    // convention), reported values round to 6
    "q126_gopher_rules" -> {
      val stops = graft.operators.TextOps.gopherStopwords
        .map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (
         | SELECT doc_id, coalesce(text, '') AS t FROM (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  ${Queries.gopherPlantedSql}
         | )),
         |m AS (
         | SELECT doc_id, t, ${toksSql("t")} AS tk, ${toksSql("lower(t)")} AS tkl,
         |  list_filter(string_split(t, chr(10)), l -> length(trim(l)) > 0) AS ls
         | FROM d),
         |c AS (
         | SELECT doc_id, len(tk) AS nw,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |   ELSE CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
         |        / len(tk) END AS meanlen,
         |  (length(t) - length(replace(t, '#', ''))) / 1.0
         |   + (length(t) - length(replace(t, '…', ''))) / 1.0
         |   + (length(replace(t, '…', ''))
         |      - length(replace(replace(t, '…', ''), '...', ''))) / 3.0 AS sym,
         |  len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS alphaw,
         |  len(list_intersect(list_distinct(tkl), [$stops])) AS stophits,
         |  len(ls) AS nl,
         |  len(list_filter(ls, l -> starts_with(trim(l), '-')
         |    OR starts_with(trim(l), '•') OR starts_with(trim(l), '*'))) AS bl,
         |  len(list_filter(ls, l -> ends_with(trim(l), '...')
         |    OR ends_with(trim(l), '…'))) AS el
         | FROM m),
         |r AS (
         | SELECT doc_id, nw, meanlen,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE sym / nw END AS symr,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE CAST(alphaw AS DOUBLE) / nw END AS alphar,
         |  stophits,
         |  CASE WHEN nl = 0 THEN 0.0 ELSE CAST(bl AS DOUBLE) / nl END AS bulletr,
         |  CASE WHEN nl = 0 THEN 0.0 ELSE CAST(el AS DOUBLE) / nl END AS ellipr
         | FROM c)
         |SELECT doc_id, CAST(nw AS INT) AS n_words,
         | round(meanlen, 6) AS mean_word_len,
         | round(symr, 6) AS symbol_word_ratio,
         | round(alphar, 6) AS alpha_word_ratio,
         | CAST(stophits AS INT) AS stopword_hits,
         | round(bulletr, 6) AS bullet_line_ratio,
         | round(ellipr, 6) AS ellipsis_line_ratio,
         | nw >= 50 AND nw <= 100000 AS rule_word_count,
         | meanlen >= 3.0 AND meanlen <= 10.0 AS rule_mean_len,
         | symr <= 0.1 AS rule_symbol,
         | alphar >= 0.8 AS rule_alpha,
         | stophits >= 2 AS rule_stopwords,
         | bulletr <= 0.9 AS rule_bullet,
         | ellipr <= 0.3 AS rule_ellipsis,
         | (nw >= 50 AND nw <= 100000) AND (meanlen >= 3.0 AND meanlen <= 10.0)
         |  AND symr <= 0.1 AND alphar >= 0.8 AND stophits >= 2
         |  AND bulletr <= 0.9 AND ellipr <= 0.3 AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // token/byte compression ratio per source: exact integer totals, one
    // double division at the end
    "q115_token_byte_ratio" ->
      s"""WITH a AS (
         | SELECT source, count(*) AS n_docs,
         |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         |  CAST(sum(len(${toksSql("text")})) AS BIGINT) AS total_tokens
         | FROM documents GROUP BY source)
         |SELECT source, n_docs, total_bytes, total_tokens,
         | CAST(total_bytes AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         |  AS bytes_per_token
         |FROM a ORDER BY source""".stripMargin,

    // largest exact-duplicate families: md5 groups identically in both
    // engines; two planted copy generations make sizes 2 and 3; top-k
    // ties break on digest
    "q116_top_dup_families" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id, text FROM documents
        | WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000 AS doc_id, text FROM documents
        | WHERE doc_id % 50 = 0),
        |f AS (
        | SELECT md5(text) AS digest, count(*) AS n_copies,
        |  min(doc_id) AS first_id
        | FROM corpus GROUP BY 1)
        |SELECT digest, n_copies, first_id FROM f
        |WHERE n_copies > 1
        |ORDER BY n_copies DESC, digest ASC LIMIT 20""".stripMargin,

    // cluster-size histogram over the verified pair chain: the q65
    // recursive min-label CC, then per-cluster sizes, then the histogram
    "q117_cluster_size_hist" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    // cross-source overlap matrix: the q61 verified pair chain, planted
    // ids mapped to their origin (% 1e6), two source joins, unordered
    // least/greatest pairing, order-independent min/max of rounded sims
    "q114_source_overlap" ->
      s"""WITH $q61Chain,
         |m AS (
         | SELECT id_a % 1000000 AS ia, id_b % 1000000 AS ib,
         |  floor(sim * 1e4 + 0.5) / 1e4 AS js
         | FROM pairs),
         |j AS (
         | SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b, js
         | FROM m
         | JOIN documents da ON m.ia = da.doc_id
         | JOIN documents db ON m.ib = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         | min(js) AS min_sim, max(js) AS max_sim
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // full MinHash+LSH replay over the portable md5-derived hash family
    "q61_minhash_portable" -> q61Sql,

    // full SimHash replay over the portable md5-derived token hash
    "q62_simhash_portable" -> q62Sql,

    // portable SRP bucketing + fold-form cosine, replayed end to end
    "q63_cosine_portable" -> q63Sql,

    // SemDeDup verification twin: q63's pair chain + recursive CC +
    // keep-min anti-join (q79's k-means default is rows-only by design)
    "q80_semantic_dedup_portable" -> q80Sql,

    // full probe over the k-means index == brute force, whatever centroids
    // Lloyd produced — same oracle as q21/q59
    "q64_knn_kmeans_fullprobe" -> bruteForceTopKSql,

    // full probe over the incrementally-grown index (build on evens,
    // ivfAdd odds) == brute force over the whole corpus — same oracle
    "q73_knn_ivf_incremental" -> bruteForceTopKSql,

    // int8 quantization replay: scale = max|x|/127, codes = round(x/scale),
    // max reconstruction error over dims (max is order-independent). The
    // error lambda lives in its OWN CTE layer: aliasing round(scale,6) AS
    // scale in the same SELECT would lateral-shadow the lambda's scale ref
    "q74_embedding_quantize" ->
      """WITH s AS (
        | SELECT vec_id, embedding,
        |  coalesce(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))), 0) / 127.0 AS scale
        | FROM embeddings),
        |e AS (
        | SELECT vec_id, scale,
        |  list_max(list_transform(embedding,
        |   x -> abs(CAST(x AS DOUBLE) -
        |     (CASE WHEN scale = 0 THEN 0
        |           ELSE round(CAST(x AS DOUBLE) / scale) END) * scale)))
        |   AS maxerr
        | FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        | round(coalesce(maxerr, 0), 6) AS max_err
        |FROM e ORDER BY vec_id""".stripMargin,

    // TF-IDF replay: same tokenizer CTE, tf * ln((N+1)/(df+1)) rounded to
    // 6 BEFORE the per-doc ranking window (ties break token-asc)
    "q75_tfidf" ->
      s"""WITH tok AS (
         | SELECT doc_id, unnest(${toksSql("lower(text)")}) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         | SELECT doc_id, token,
         |  round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
         | FROM tf JOIN df USING (token) CROSS JOIN n),
         |r AS (
         | SELECT doc_id, token, score,
         |  row_number() OVER (PARTITION BY doc_id
         |                     ORDER BY score DESC, token ASC) AS rank
         | FROM scored)
         |SELECT doc_id, rank, token, score FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // BM25 replay: identical literals (0.25/0.75 exact binary fractions;
    // 1.2/2.2 the same decimal TEXT both engines parse, never k1+1 in
    // Scala), identical association order, per-term partials summed in
    // fixed term order via the pivoted columns
    "q76_bm25" -> q76Sql,

    // hybrid RRF fusion: the q76 lexical statement verbatim as a
    // subquery (one copy of the BM25 chain — the q204 shared-CTE
    // discipline) + the brute-force cosine chain for the vec_id=0
    // query; reciprocal ranks as 10^9 // (60+rank) BIGINT micro-units
    "q234_rrf_fusion" ->
      s"""WITH lex AS (
         | SELECT doc_id, CAST("rank" AS INT) AS lex_rank FROM ($q76Sql)),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         | SELECT neighbor_id,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |dense AS (
         | SELECT neighbor_id AS doc_id, CAST(rnk AS INT) AS dense_rank
         | FROM (SELECT neighbor_id, row_number() OVER
         |   (ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sims)
         | WHERE rnk <= 20),
         |fused AS (
         | SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, lex_rank, dense_rank,
         |  CAST(coalesce(1000000000 // (60 + lex_rank), 0)
         |   + coalesce(1000000000 // (60 + dense_rank), 0) AS BIGINT)
         |   AS rrf_micros
         | FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
         |SELECT CAST(row_number() OVER
         |  (ORDER BY rrf_micros DESC, doc_id ASC) AS INT) AS fused_rank,
         | doc_id, lex_rank, dense_rank, rrf_micros
         |FROM fused ORDER BY fused_rank""".stripMargin,

    // nDCG@5 over the q21 brute-force lists, label-match relevance; the
    // log2 discounts are the SAME inlined double literals Spark uses
    // (ndcgWeights), added in the same left-to-right order
    "q235_ndcg" -> {
      // e-notation is load-bearing: a bare 17-digit literal parses as
      // DECIMAL in DuckDB (scale-rounded arithmetic), and CAST(decimal
      // AS DOUBLE) is not correctly rounded past 2^53 — only an
      // exponent-form literal parses directly as a correctly-rounded
      // DOUBLE (both observed as sf0.1 ulp reds)
      val w = ndcgWeights.map(d => s"(${d}e0)")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |            label AS q_label FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |       label AS n_label FROM embeddings),
         |scored AS (
         | SELECT query_id, neighbor_id, q_label, n_label,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, neighbor_id, q_label, n_label,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sims),
         |rel AS (
         | SELECT query_id, rnk,
         |  CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel
         | FROM ranked WHERE rnk <= 5),
         |piv AS (
         | SELECT query_id,
         |  CAST(coalesce(max(CASE WHEN rnk = 1 THEN rel END), 0) AS INT) AS r1,
         |  CAST(coalesce(max(CASE WHEN rnk = 2 THEN rel END), 0) AS INT) AS r2,
         |  CAST(coalesce(max(CASE WHEN rnk = 3 THEN rel END), 0) AS INT) AS r3,
         |  CAST(coalesce(max(CASE WHEN rnk = 4 THEN rel END), 0) AS INT) AS r4,
         |  CAST(coalesce(max(CASE WHEN rnk = 5 THEN rel END), 0) AS INT) AS r5
         | FROM rel GROUP BY 1),
         |calc AS (
         | SELECT query_id, CAST(r1 + r2 + r3 + r4 + r5 AS INT) AS n_rel,
         |  r1 * ${w(0)} + r2 * ${w(1)} + r3 * ${w(2)}
         |   + r4 * ${w(3)} + r5 * ${w(4)} AS dcg
         | FROM piv),
         |fin AS (
         | SELECT query_id, n_rel, dcg,
         |  (CASE WHEN n_rel >= 1 THEN ${w(0)} ELSE 0.0 END)
         |   + (CASE WHEN n_rel >= 2 THEN ${w(1)} ELSE 0.0 END)
         |   + (CASE WHEN n_rel >= 3 THEN ${w(2)} ELSE 0.0 END)
         |   + (CASE WHEN n_rel >= 4 THEN ${w(3)} ELSE 0.0 END)
         |   + (CASE WHEN n_rel >= 5 THEN ${w(4)} ELSE 0.0 END) AS idcg
         | FROM calc)
         |SELECT query_id, n_rel, dcg, idcg,
         | CASE WHEN idcg = 0 THEN 0.0 ELSE dcg / idcg END AS ndcg
         |FROM fin ORDER BY query_id""".stripMargin
    },

    // calendar-spine hourly resample with explicit zero gap rows
    "q236_resample" ->
      """WITH e AS (
        | SELECT date_trunc('hour', ts) AS hour, event_type, value
        | FROM events),
        |hourly AS (
        | SELECT hour, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        | FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM e),
        |hours AS (
        | SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        | FROM b),
        |ty AS (SELECT DISTINCT event_type FROM e),
        |spine AS (SELECT hours.hour, ty.event_type FROM hours CROSS JOIN ty)
        |SELECT s.hour, s.event_type,
        | coalesce(h.n_events, 0) AS n_events,
        | coalesce(h.sum_value, 0.0) AS sum_value,
        | (h.n_events IS NULL) AS is_gap
        |FROM spine s LEFT JOIN hourly h
        | ON s.hour = h.hour AND s.event_type = h.event_type
        |ORDER BY s.hour, s.event_type""".stripMargin,

    // trailing-window 3-sigma flags in BIGINT cents: the variance
    // inequality cross-multiplied, no sqrt/division/float anywhere
    "q237_anomaly_flags" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |f AS (
        | SELECT user_id, event_id, cents,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS s,
        |  CAST(coalesce(sum(cents * cents) OVER w, 0) AS BIGINT) AS q
        | FROM e
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)),
        |g AS (
        | SELECT user_id, event_id, cents, n_window,
        |  (n_window * cents - s) * (n_window * cents - s)
        |   * (n_window - 1) AS lhs,
        |  9 * n_window * (n_window * q - s * s) AS rhs
        | FROM f)
        |SELECT user_id, event_id, cents, n_window,
        | CAST(lhs AS BIGINT) AS lhs, CAST(rhs AS BIGINT) AS rhs,
        | (n_window >= 10 AND lhs > rhs) AS is_anomaly
        |FROM g ORDER BY user_id, event_id""".stripMargin,

    // declarative DQ suite: one scalar-count row per check
    "q238_dq_checks" ->
      """WITH checks AS (
        | SELECT 'not_null:o_orderkey' AS check_name,
        |  (SELECT count(*) FROM orders WHERE o_orderkey IS NULL)
        |   AS n_violations,
        |  (SELECT count(*) FROM orders) AS n_rows
        | UNION ALL SELECT 'not_null:o_custkey',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'unique:o_orderkey',
        |  (SELECT coalesce(sum(c), 0) FROM (
        |    SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        |    HAVING count(*) > 1)),
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'accepted_values:o_orderstatus',
        |  (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F')),
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'range:o_totalprice',
        |  (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)),
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'fk:o_custkey',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'freshness:o_orderdate',
        |  CASE WHEN (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)
        |    < DATE '1998-01-01' THEN 1 ELSE 0 END,
        |  (SELECT count(*) FROM orders)
        | UNION ALL SELECT 'fk:l_orderkey',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |  (SELECT count(*) FROM lineitem))
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        | CAST(n_rows AS BIGINT) AS n_rows, n_violations = 0 AS pass
        |FROM checks ORDER BY check_name""".stripMargin,

    // triangle census of the q31 contact graph: canonical a<b edges,
    // wedges closed by the oriented (a,b)+(b,c)+(a,c) join; counts
    // exact, clustering = one double division 3T/W. n_wedges is
    // COALESCEd to 0 here and in q378-q380: sum() over an empty edge set
    // is NULL, and the engine's triangle stats report 0 there
    "q239_triangles" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |e AS (
        | SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |deg AS (
        | SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        | GROUP BY 1),
        |ds AS (
        | SELECT count(*) AS n_nodes,
        |  COALESCE(sum(deg * (deg - 1) // 2), 0) AS n_wedges FROM deg),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |tr AS (
        | SELECT count(*) AS n_triangles
        | FROM e x JOIN e y ON x.b = y.a
        |  JOIN e z ON z.a = x.a AND z.b = y.b)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(n_wedges AS BIGINT) AS n_wedges,
        | CAST(n_triangles AS BIGINT) AS n_triangles,
        | CASE WHEN n_wedges = 0 THEN 0.0
        |  ELSE CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |  END AS clustering
        |FROM ds CROSS JOIN m CROSS JOIN tr""".stripMargin,

    // first-order Markov transitions: lag pairs per user, exact counts,
    // one double division per probability
    "q240_transition_matrix" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type
        | FROM events),
        |c AS (
        | SELECT prev_type, event_type AS next_type, count(*) AS n
        | FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        | CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
        | CAST(n AS DOUBLE)
        |  / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    // BM25 snippets: best 10-token window by hit count over the q76
    // top-5 (the q76 statement verbatim as the retrieval subquery)
    "q241_snippets" ->
      s"""WITH top5 AS (
         | SELECT CAST("rank" AS INT) AS rank, doc_id FROM ($q76Sql)
         | WHERE "rank" <= 5),
         |d AS (
         | SELECT t.rank, doc_id, ${toksSql("lower(text)")} AS tk
         | FROM documents JOIN top5 t USING (doc_id)),
         |p AS (
         | SELECT rank, doc_id, tk, len(tk) AS dl,
         |  unnest(range(1, len(tk) + 1)) AS pos
         | FROM d),
         |h AS (
         | SELECT rank, doc_id, tk, dl, pos,
         |  CASE WHEN tk[pos] IN ('spark', 'vector', 'query')
         |   THEN 1 ELSE 0 END AS hit
         | FROM p),
         |w AS (
         | SELECT rank, doc_id, tk, dl, pos,
         |  CAST(sum(hit) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS BIGINT)
         |   AS n_hits
         | FROM h),
         |cand AS (
         | SELECT *, row_number() OVER (PARTITION BY doc_id
         |   ORDER BY n_hits DESC, pos ASC) AS rn
         | FROM w WHERE pos <= greatest(dl - 9, 1))
         |SELECT rank, doc_id, CAST(pos AS INT) AS snippet_start, n_hits,
         | array_to_string(list_slice(tk, pos, pos + 9), ' ') AS snippet
         |FROM cand WHERE rn = 1 ORDER BY rank""".stripMargin,

    // Gini of per-source token mass: exact rank formula, one division
    "q242_gini_sources" ->
      s"""WITH s AS (
         | SELECT source, CAST(sum(${tokenCountSql("text")}) AS BIGINT)
         |  AS toks
         | FROM documents GROUP BY 1),
         |r AS (
         | SELECT source, toks,
         |  CAST(row_number() OVER (ORDER BY toks ASC, source ASC)
         |   AS BIGINT) AS i
         | FROM s),
         |g AS (
         | SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(i * toks) AS BIGINT) AS weighted
         | FROM r)
         |SELECT n_sources, total_tokens,
         | CAST(2 * weighted - (n_sources + 1) * total_tokens AS DOUBLE)
         |  / CAST(n_sources * total_tokens AS DOUBLE) AS gini
         |FROM g""".stripMargin,

    // TWAP per user: exact BIGINT weighted sum (int64->double is
    // correctly rounded in both engines, unlike wide decimals), one
    // double division
    "q243_twap" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  epoch_us(ts) AS t
        | FROM events),
        |p AS (
        | SELECT user_id, cents, t,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt
        | FROM e),
        |g AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(max(nt) - min(t) AS BIGINT) AS span_micros,
        |  CAST(sum(cents * (nt - t)) AS BIGINT) AS wsum
        | FROM p WHERE nt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals, span_micros,
        | CASE WHEN wsum < 0 THEN -((-wsum) // 1000000)
        |      ELSE wsum // 1000000 END AS wsum_cents_sec,
        | CAST(wsum AS DOUBLE) / CAST(span_micros AS DOUBLE) AS twap_cents
        |FROM g ORDER BY user_id""".stripMargin,

    // MMR re-ranking: the 5 greedy picks unrolled as CTE steps; rel is
    // the q21-rounded cosine, weights are e-notation double literals
    "q244_mmr_rerank" -> {
      def pickedIds(k: Int): String =
        (1 to k).map(i => s"SELECT id FROM p$i").mkString(" UNION ALL ")
      val steps = (2 to 5).map { k =>
        s"""r$k AS (
           | SELECT c.id, c.rel,
           |  0.7e0 * c.rel - 0.3e0 * (SELECT max(sim) FROM ps
           |    WHERE ps.id_a = c.id AND ps.id_b IN (${pickedIds(k - 1)}))
           |   AS mmr
           | FROM cand c WHERE c.id NOT IN (${pickedIds(k - 1)})),
           |p$k AS (SELECT id, rel, mmr, $k AS pick_order FROM r$k
           | ORDER BY mmr DESC, id ASC LIMIT 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c1 AS (SELECT vec_id AS id, embedding AS cv FROM embeddings
         |       WHERE vec_id <> 0),
         |sc AS (
         | SELECT id, cv, ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c1, q),
         |sm AS (
         | SELECT id, cv,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM sc),
         |cand AS (
         | SELECT id, round(sim, 6) AS rel, cv FROM (
         |  SELECT *, row_number() OVER (ORDER BY sim DESC, id ASC) AS rnk
         |  FROM sm) WHERE rnk <= 20),
         |pp AS (
         | SELECT a.id AS id_a, b.id AS id_b,
         |  ${dotSql("va", "vb")} AS dot_p,
         |  ${normSql("va")} * ${normSql("vb")} AS norm_p
         | FROM (SELECT id, cv AS va FROM cand) a
         |  JOIN (SELECT id, cv AS vb FROM cand) b ON a.id <> b.id),
         |ps AS (
         | SELECT id_a, id_b,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM pp),
         |p1 AS (SELECT id, rel, 0.7e0 * rel AS mmr, 1 AS pick_order
         |       FROM cand ORDER BY mmr DESC, id ASC LIMIT 1),
         |$steps
         |SELECT pick_order, id, rel, mmr FROM p1
         |UNION ALL SELECT pick_order, id, rel, mmr FROM p2
         |UNION ALL SELECT pick_order, id, rel, mmr FROM p3
         |UNION ALL SELECT pick_order, id, rel, mmr FROM p4
         |UNION ALL SELECT pick_order, id, rel, mmr FROM p5
         |ORDER BY pick_order""".stripMargin
    },

    // 3-core peeling, the same 6 fixed rounds unrolled as CTEs
    "q245_kcore" -> {
      // MATERIALIZED is load-bearing: each round references the prior
      // edge set three times, so inlined CTEs expand 3^rounds copies of
      // the base scan (observed as a too-many-open-files failure)
      val rounds = (1 to 6).map { r =>
        val prev = s"e${r - 1}"
        s"""d$r AS MATERIALIZED (
           | SELECT id, count(*) AS deg FROM (
           |  SELECT a AS id FROM $prev UNION ALL SELECT b FROM $prev)
           | GROUP BY 1),
           |k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 3),
           |e$r AS MATERIALIZED (
           | SELECT $prev.a, $prev.b FROM $prev
           |  JOIN k$r x ON $prev.a = x.id
           |  JOIN k$r y ON $prev.b = y.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH contacts AS (
         | SELECT c_custkey,
         |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
         |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
         |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
         | FROM customer),
         |e0 AS MATERIALIZED (
         | SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
         | FROM contacts l, contacts r
         | WHERE l.c_custkey < r.c_custkey
         |  AND (l.email = r.email
         |   OR (l.name = r.name AND l.phone = r.phone))),
         |$rounds
         |SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         | SELECT a AS id FROM e6 UNION ALL SELECT b FROM e6)
         |GROUP BY 1 ORDER BY id""".stripMargin
    },

    // integer CUSUM: reflected prefix walk, planted last-fifth shift
    "q246_cusum" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |r AS (
        | SELECT *, row_number() OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user
        | FROM e),
        |b AS (
        | SELECT *, least(n_user, 20) AS n0,
        |  CAST(sum(CASE WHEN rn <= 20 THEN cents END)
        |   OVER (PARTITION BY user_id) AS BIGINT) AS s0,
        |  cents + CASE WHEN rn > (n_user * 4) // 5
        |   THEN 2 * cents ELSE 0 END AS cm
        | FROM r),
        |d AS (
        | SELECT *, CASE WHEN rn > 20
        |   THEN 20 * n0 * cm - 30 * s0 ELSE 0 END AS d10
        | FROM b),
        |p AS (
        | SELECT *, CAST(sum(d10) OVER wp AS BIGINT) AS pfx FROM d
        | WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        | SELECT *, CAST(min(pfx) OVER wp AS BIGINT) AS runmin FROM p
        | WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(rn AS INT) AS rn,
        | pfx - runmin AS cusum,
        | (pfx - runmin) > 200 * s0 AS flag
        |FROM m WHERE rn > 20 ORDER BY user_id, event_id""".stripMargin,

    // rolling 24h Pearson r over zero-filled hourly series: exact
    // BIGINT sums under 2^53, sqrt is IEEE-correctly-rounded
    "q247_rolling_corr" ->
      """WITH e AS (
        | SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('click', 'purchase')),
        |hourly AS (
        | SELECT hour,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |    THEN cents END), 0) AS BIGINT) AS x,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN cents END), 0) AS BIGINT) AS y
        | FROM e GROUP BY 1),
        |b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM e),
        |hours AS (
        | SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        | FROM b),
        |series AS (
        | SELECT h.hour, coalesce(x, 0) AS x, coalesce(y, 0) AS y
        | FROM hours h LEFT JOIN hourly USING (hour)),
        |roll AS (
        | SELECT hour, x, y,
        |  row_number() OVER (ORDER BY hour) AS rn,
        |  CAST(sum(x) OVER w AS BIGINT) AS sx,
        |  CAST(sum(y) OVER w AS BIGINT) AS sy,
        |  CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
        |  CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
        |  CAST(sum(y * y) OVER w AS BIGINT) AS syy
        | FROM series
        | WINDOW w AS (ORDER BY hour
        |   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |f AS (
        | SELECT hour, x, y,
        |  24 * sxy - sx * sy AS num,
        |  24 * sxx - sx * sx AS d1,
        |  24 * syy - sy * sy AS d2
        | FROM roll WHERE rn >= 24)
        |SELECT hour, x, y, num, d1, d2,
        | CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
        |  ELSE CAST(num AS DOUBLE)
        |   / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
        |  END AS corr
        |FROM f ORDER BY hour""".stripMargin,

    // quantile normalization: within-source rank -> global CDF lookup
    // via the (cum_prev, cum] interval join, all-integer
    "q248_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |ns AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM d),
        |r AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS INT) AS src_rank
        | FROM d),
        |cdf AS (SELECT n_chars AS v, count(*) AS cnt FROM d GROUP BY 1),
        |c2 AS (
        | SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
        |  CAST(sum(cnt) OVER (ORDER BY v) - cnt AS BIGINT) AS cum_prev
        | FROM cdf),
        |g AS (
        | SELECT r.*, (src_rank * n + n_s - 1) // n_s AS target_rank
        | FROM r JOIN ns USING (source) CROSS JOIN nn)
        |SELECT doc_id, source, n_chars, src_rank,
        | CAST(target_rank AS BIGINT) AS target_rank, c2.v AS qnorm_chars
        |FROM g JOIN c2
        | ON g.target_rank > c2.cum_prev AND g.target_rank <= c2.cum
        |ORDER BY doc_id""".stripMargin,

    // last-touch attribution: the as-of union + carried last_value
    // replay, clicks pre-deduped per (user, ts) for a total order
    "q249_attribution" ->
      """WITH ev AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |p AS (SELECT user_id, ts, event_id, cents FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        | FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (
        | SELECT user_id, ts AS t, 1 AS side, event_id, cents,
        |  CAST(NULL AS BIGINT) AS click_id,
        |  CAST(NULL AS TIMESTAMP) AS click_ts
        | FROM p
        | UNION ALL
        | SELECT user_id, click_ts, 0, NULL, NULL, click_id, click_ts
        | FROM c),
        |w AS (
        | SELECT *,
        |  last_value(CASE WHEN side = 0 THEN click_id END IGNORE NULLS)
        |   OVER win AS c_id,
        |  last_value(CASE WHEN side = 0 THEN click_ts END IGNORE NULLS)
        |   OVER win AS c_ts
        | FROM u
        | WINDOW win AS (PARTITION BY user_id ORDER BY t, side
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        | SELECT user_id, event_id, cents,
        |  (c_ts IS NOT NULL
        |   AND epoch_us(t) - epoch_us(c_ts) <= 3600000000) AS attributed,
        |  c_id, epoch_us(t) - epoch_us(c_ts) AS lag_raw
        | FROM w WHERE side = 1)
        |SELECT user_id, event_id, cents, attributed,
        | CASE WHEN attributed THEN c_id END AS click_id,
        | CASE WHEN attributed THEN lag_raw END AS lag_micros
        |FROM f ORDER BY user_id, event_id""".stripMargin,

    // dropNearDuplicates end-to-end: pairs -> recursive CC -> keep min-id
    "q65_neardedup_e2e_portable" -> q65Sql,
    // incremental (cross-corpus) near-dedup, full replay
    "q66_neardedup_incr_portable" -> q66Sql,

    // min-label connected components == min reachable id, computed by a
    // recursive reachability CTE over the same q31-style edge set
    "q60_dedup_cc" -> ccSql,

    // the pointer-jumping variant must reach the SAME min-label fixpoint
    "q67_dedup_cc_fast" -> ccSql,

    // linear-counting distinct sketch: replay hash -> bucket -> occupied ->
    // -m*ln((m-z)/m). The estimate is a deterministic function of the
    // bucket set; round(...,6) absorbs any last-ulp libm ln() difference
    "q68_distinct_sketch" ->
      s"""WITH b AS (
         | SELECT DISTINCT ${ph("c_name", 7)} % 65536 AS bucket FROM customer)
         |SELECT 65536 AS m, count(*) AS occupied,
         | round(-65536 * ln((65536 - count(*)) / 65536.0), 6) AS est_distinct
         |FROM b""".stripMargin,

    // matryoshka audit: fold-form norms (the q63 float discipline), CTE
    // so each norm computes once, single-op divisions, round 6
    "q97_matryoshka" -> {
      s"""WITH n AS (
         | SELECT vec_id, ${normSql("embedding")} AS nf,
         |  ${normSql("list_slice(embedding, 1, 8)")} AS nd
         | FROM embeddings WHERE vec_id % 4 = 0)
         |SELECT vec_id, round(nf, 6) AS norm, round(nd, 6) AS norm_d,
         | round(CASE WHEN nf = 0 THEN 0.0
         |   ELSE (nd * nd) / (nf * nf) END, 6) AS energy_ratio
         |FROM n ORDER BY vec_id""".stripMargin
    },

    // rolling 3-day per-user aggregates: daily partials, RANGE window on
    // day ordinals, DECIMAL-exact value sums
    "q94_rolling_window" ->
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
        |  sum(CAST(value AS DECIMAL(18,2))) AS v
        | FROM events GROUP BY 1, 2),
        |d2 AS (
        | SELECT *, date_diff('day', DATE '2024-01-01', day) AS ord FROM daily)
        |SELECT user_id, day,
        | CAST(sum(n) OVER (PARTITION BY user_id ORDER BY ord
        |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_events_3d,
        | round(CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ord
        |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
        |  AS value_3d
        |FROM d2 ORDER BY user_id, day""".stripMargin,

    // ordered funnel: min-ts chaining per user, no raw-event self-join
    "q95_funnel" ->
      """WITH s1 AS (
        | SELECT user_id, min(ts) AS t1 FROM events
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        | SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        | WHERE event_type = 'click' AND ts >= t1 GROUP BY 1),
        |s3 AS (
        | SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase' AND ts >= t2 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        | (SELECT count(*) FROM s2) AS n_click,
        | (SELECT count(*) FROM s3) AS n_purchase,
        | CAST((SELECT count(*) FROM s2) AS DOUBLE)
        |   / (SELECT count(*) FROM s1) AS click_rate,
        | CAST((SELECT count(*) FROM s3) AS DOUBLE)
        |   / (SELECT count(*) FROM s2) AS purchase_rate""".stripMargin,

    // cohort retention matrix: integer week ordinals, distinct activity
    "q96_cohort_retention" ->
      """WITH ev AS (
        | SELECT user_id,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |a AS (
        | SELECT DISTINCT cohort_week, week - cohort_week AS week_offset,
        |  user_id
        | FROM ev JOIN c USING (user_id))
        |SELECT cohort_week, week_offset, count(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // vocab + token-id encoding: rank window over (freq desc, token asc),
    // positions via a lateral range join (Spark's posexplode), OOV -> 0
    "q93_token_encode" -> q93Sql,

    // packed (array-form) encoding, re-exploded: the SAME oracle — a green
    // hash proves encodeTokensPacked's pack->unpack round trip is lossless
    // and position-ordered
    "q98_token_pack" -> q93Sql,

    // self-trained unigram LM score: exact tf/freq/N integers, ln on the
    // identical double freq/N, per-term round(.,6) summed through
    // DECIMAL(25,6) (order-independent); the final mean is the RAW double
    // division (identical operands -> identical doubles; a trailing round
    // diverges at shortest-repr ties — the q174 sf0.1 lesson)
    "q99_unigram_lm" ->
      s"""WITH $q99Chain
         |SELECT doc_id, n_tokens, logprob_mean,
         | logprob_mean >= -9.0 AS keep
         |FROM d ORDER BY doc_id""".stripMargin,

    // CCNet perplexity thirds: quantile_cont cuts over the q99 scores
    // (already rounded to 6 -> identical multisets rank identically in
    // both engines), >= comparisons on the unbucketed cut doubles
    "q127_ppl_buckets" ->
      s"""WITH $q99Chain,
         |cuts AS (
         | SELECT quantile_cont(logprob_mean, ${2.0 / 3}) AS hi,
         |  quantile_cont(logprob_mean, ${1.0 / 3}) AS lo
         | FROM d)
         |SELECT doc_id, n_tokens, logprob_mean,
         | CASE WHEN logprob_mean >= hi THEN 'head'
         |      WHEN logprob_mean >= lo THEN 'middle'
         |      ELSE 'tail' END AS ppl_bucket
         |FROM d CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    // line-level corrections: every rule integer-exact (word counts,
    // char-class counts, 60% via uppers*5 > letters*3 cross-multiply);
    // the one double is the final drop ratio (round-6), and the document
    // gate compares the ROUNDED value on both sides
    "q128_line_corrections" ->
      s"""WITH base AS (
         | SELECT doc_id, coalesce(text, '') AS t FROM (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  ${Queries.linePlantedSql}
         | )),
         |l AS (
         | SELECT doc_id, string_split(t, chr(10)) AS ls FROM base),
         |k AS (
         | SELECT doc_id, ls, list_filter(ls, l -> NOT (
         |   len(${toksSql("l")}) <= 1
         |   OR (regexp_full_match(l, '[0-9\\s[:punct:]]*')
         |       AND regexp_matches(l, '[0-9]'))
         |   OR (length(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
         |       AND length(regexp_replace(l, '[^A-Z]', '', 'g')) * 5
         |           > length(regexp_replace(l, '[^A-Za-z]', '', 'g')) * 3)
         |   OR regexp_full_match(lower(trim(l)),
         |        '[0-9][0-9,.]* (likes?|views?|comments?|shares?|points?)')
         |  )) AS kept
         | FROM l),
         |r AS (
         | SELECT doc_id,
         |  array_to_string(kept, chr(10)) AS text_clean,
         |  CAST(len(ls) AS INT) AS n_lines,
         |  CAST(len(ls) - len(kept) AS INT) AS n_dropped,
         |  CAST(len(ls) - len(kept) AS DOUBLE)
         |        / CAST(len(ls) AS DOUBLE) AS drop_ratio
         | FROM k)
         |SELECT doc_id, text_clean, n_lines, n_dropped, drop_ratio,
         | drop_ratio <= 0.2 AS keep_doc
         |FROM r ORDER BY doc_id""".stripMargin,

    // HTML strip replay: the same RE2-safe regex chain (inline (?is)
    // flags, no backreferences), same entity order with &amp; decoded
    // LAST, 'g' for global on every regexp_replace
    "q129_strip_markup" ->
      s"""WITH base AS (
         | SELECT doc_id, coalesce(text, '') AS t FROM (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  ${Queries.htmlPlantedSql}
         | )),
         |c AS (
         | SELECT doc_id, t,
         |  trim(regexp_replace(regexp_replace(
         |   replace(
         |    replace(replace(replace(replace(replace(
         |     regexp_replace(
         |      regexp_replace(
         |       regexp_replace(
         |        regexp_replace(t, '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g'),
         |        '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g'),
         |       '(?s)<!--.*?-->', ' ', 'g'),
         |      '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
         |     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |     '&#39;', ''''), '&nbsp;', ' '),
         |   '&amp;', '&'),
         |  '[ \\t\\r\\f]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g')) AS text_clean
         | FROM base)
         |SELECT doc_id, text_clean,
         | CAST(length(t) - length(text_clean) AS INT) AS removed_chars
         |FROM c ORDER BY doc_id""".stripMargin,

    // URL audit replay: same scheme-optional host regex (RE2-safe),
    // lower + trailing-dot strip in the same order, registrable domain
    // via explicit len-arithmetic list slicing, blocklist IN on domain
    "q132_url_audit" -> {
      val sufs = graft.operators.UrlOps.twoLevelSuffixes
        .map(s => s"'$s'").mkString(", ")
      val blk = Queries.urlBlocklist.map(s => s"'$s'").mkString(", ")
      s"""WITH base AS (
         | SELECT doc_id,
         |  'https://www.' || source || '.example.com/doc/' ||
         |   CAST(doc_id AS VARCHAR) AS url
         | FROM documents
         | UNION ALL
         | ${Queries.urlPlantedSql}),
         |h AS (
         | SELECT doc_id, url,
         |  regexp_replace(lower(regexp_extract(coalesce(url, ''),
         |   '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/?#]*@)?([^/?#:]+)', 1)),
         |   '\\.$$', '') AS host
         | FROM base),
         |p AS (
         | SELECT doc_id, url, host, string_split(host, '.') AS ls,
         |  len(string_split(host, '.')) AS n
         | FROM h),
         |d AS (
         | SELECT doc_id, url, host,
         |  CASE WHEN n > 2 AND array_to_string(
         |    list_slice(ls, greatest(n - 1, 1), n), '.') IN ($sufs)
         |   THEN array_to_string(list_slice(ls, greatest(n - 2, 1), n), '.')
         |  WHEN n >= 2
         |   THEN array_to_string(list_slice(ls, greatest(n - 1, 1), n), '.')
         |  ELSE host END AS domain,
         |  list_extract(ls, n) AS tld
         | FROM p)
         |SELECT doc_id, url, host, domain, tld, domain IN ($blk) AS blocked
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // NB language classifier replay: same priors ln(ndl/nd), same
    // add-one likelihoods ln((c+1)/(tot+V)) with c=0 for unseen
    // (token,label) pairs, terms rounded to 6 and summed in DECIMAL
    // (order-independent), argmax tie-broken on label asc — the q99 ln
    // discipline end to end
    "q130_nb_lang_classify" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang, unnest(${toksSql("lower(text)")}) AS token
         | FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
         |v AS (SELECT count(DISTINCT token) AS v FROM cnt),
         |ndl AS (SELECT lang, count(*) AS ndl FROM documents GROUP BY 1),
         |n AS (SELECT count(*) AS nd FROM documents),
         |lab AS (
         | SELECT ndl.lang, coalesce(tot, 0) AS tot, v,
         |  CAST(round(ln(CAST(ndl AS DOUBLE) / nd), 6) AS DECIMAL(25,6))
         |   AS prior
         | FROM ndl LEFT JOIN tot ON ndl.lang = tot.lang
         | CROSS JOIN v CROSS JOIN n),
         |term AS (
         | SELECT tf.doc_id, lab.lang,
         |  CAST(round(tf * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
         |    / (tot + v)), 6) AS DECIMAL(25,6)) AS t
         | FROM tf CROSS JOIN lab
         | LEFT JOIN cnt ON cnt.token = tf.token AND cnt.lang = lab.lang),
         |ts AS (SELECT doc_id, lang, sum(t) AS s FROM term GROUP BY 1, 2),
         |sc AS (
         | SELECT d.doc_id, lab.lang,
         |  lab.prior + coalesce(s, CAST(0 AS DECIMAL(25,6))) AS score
         | FROM (SELECT doc_id FROM documents) d CROSS JOIN lab
         | LEFT JOIN ts ON ts.doc_id = d.doc_id AND ts.lang = lab.lang),
         |rk AS (
         | SELECT doc_id, lang AS pred_label, score,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lang ASC) AS r
         | FROM sc)
         |SELECT d.doc_id, rk.pred_label,
         | round(CAST(rk.score AS DOUBLE), 6) AS score,
         | d.lang, rk.pred_label = d.lang AS correct
         |FROM rk JOIN documents d USING (doc_id)
         |WHERE r = 1 ORDER BY d.doc_id""".stripMargin,

    // span dedup replay: same 16-token windows (the q42 chunk formula at
    // overlap 0), md5 span digests, first occurrence by (doc_id, pos)
    // window, ordered string_agg reassembly; planted header literal is
    // THE shared Scala constant (Queries.spanDedupHeader)
    "q100_span_dedup" -> {
      val hdr = Queries.spanDedupHeader.replace("'", "''")
      s"""WITH d0 AS (
         | SELECT doc_id, '$hdr' || text AS text FROM documents),
         |tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM d0),
         |sp AS (
         | SELECT doc_id, unnest(list_transform(
         |   range(0, 1 + CAST(ceil(greatest(len(tk) - 16, 0) / 16.0) AS BIGINT)),
         |   i -> {'pos': i,
         |         'span': array_to_string(list_slice(tk, i*16 + 1, i*16 + 16), ' ')}))
         |  AS u
         | FROM tok),
         |p AS (
         | SELECT doc_id, CAST(u.pos AS INT) AS pos, u.span AS span,
         |  md5(u.span) AS dg
         | FROM sp),
         |fst AS (
         | SELECT dg, doc_id AS fid, pos AS fpos FROM (
         |  SELECT dg, doc_id, pos,
         |   row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn
         |  FROM p)
         | WHERE rn = 1),
         |kept AS (
         | SELECT p.doc_id, p.pos, p.span
         | FROM p JOIN fst ON p.dg = fst.dg AND p.doc_id = fst.fid
         |  AND p.pos = fst.fpos),
         |agg AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_kept,
         |  string_agg(span, ' ' ORDER BY pos) AS text_dedup
         | FROM kept GROUP BY 1),
         |tot AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM p GROUP BY 1)
         |SELECT t.doc_id, t.n_spans,
         | coalesce(n_spans_kept, 0) AS n_spans_kept,
         | coalesce(text_dedup, '') AS text_dedup
         |FROM tot t LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // contrastive negative sampling: the q21 cosine fold chain, sim
    // threshold on the unrounded value (q81 convention), md5 portable-hash
    // selection rank — sampling is a pure function of the corpus
    "q101_negative_samples" ->
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         | WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         | SELECT query_id, neighbor_id,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |cand AS (
         | SELECT query_id, neighbor_id, sim,
         |  ${ph("CAST(query_id AS VARCHAR) || ':' || CAST(neighbor_id AS VARCHAR)", 4242)} AS h
         | FROM sims WHERE sim < 0.2),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY h ASC, neighbor_id ASC) AS rnk
         | FROM cand)
         |SELECT query_id, CAST(rnk AS INT) AS "rank", neighbor_id,
         | round(sim, 6) AS cosine_sim
         |FROM ranked WHERE rnk <= 8 ORDER BY query_id, rnk""".stripMargin,

    // length-grouped batching: integer token counts, DIV bands, per-band
    // row_number in id order, DIV/% batch arithmetic — every cell exact
    "q102_length_batches" ->
      s"""WITH d AS (
         | SELECT doc_id, CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens
         | FROM documents),
         |b AS (
         | SELECT doc_id, n_tokens, n_tokens // 64 AS bucket,
         |  row_number() OVER (PARTITION BY n_tokens // 64 ORDER BY doc_id) - 1
         |   AS r
         | FROM d)
         |SELECT doc_id, n_tokens, bucket,
         | CAST(r // 8 AS INT) AS batch_id, CAST(r % 8 AS INT) AS pos_in_batch
         |FROM b ORDER BY doc_id""".stripMargin,

    // leakage-safe split: q61's verified pair chain + the q65 recursive
    // min-label CC + representative hashing — the split CASE replays the
    // portable hash mod 10000 against the 8000 bp cut
    // family-capped sampling: same pair chain + recursive CC as q105,
    // then a per-family rank by (portable id hash, id) — row_number cast
    // to INT for the dtype-strict gate
    "q131_family_cap" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |fam AS (
         | SELECT doc_id, coalesce(cluster_id, doc_id) AS family
         | FROM corpus LEFT JOIN labels ON doc_id = labels.id),
         |rk AS (
         | SELECT doc_id, family,
         |  CAST(row_number() OVER (PARTITION BY family
         |    ORDER BY ${ph("CAST(doc_id AS VARCHAR)", 7)}, doc_id) AS INT)
         |   AS family_rank
         | FROM fam)
         |SELECT doc_id, family, family_rank, family_rank <= 2 AS keep
         |FROM rk ORDER BY doc_id""".stripMargin,

    "q105_group_split" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |rep AS (
         | SELECT doc_id, coalesce(cluster_id, doc_id) AS rep
         | FROM corpus LEFT JOIN labels ON doc_id = labels.id)
         |SELECT doc_id, rep,
         | CASE WHEN ${ph("CAST(rep AS VARCHAR)", 99)} % 10000 < 8000
         |  THEN 'train' ELSE 'eval' END AS split
         |FROM rep ORDER BY doc_id""".stripMargin,

    // asymmetric shingle containment: distinct 3-shingle sets (same <3
    // whole-text rule as every shingle oracle), |A∩B|/|A| with both casts
    // explicit, threshold on the unrounded value, ordered pairs
    "q103_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
         |corpus AS (
         | SELECT doc_id, text FROM base
         | UNION ALL
         | ${plantedSql("documents", "doc_id < 60", 10, 2000L)}),
         |tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM corpus),
         |shg AS (
         | SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |   ELSE list_transform(range(1, len(tk) - 1),
         |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS sh
         | FROM tok),
         |d AS (SELECT doc_id, list_distinct(sh) AS sh FROM shg),
         |pairs AS (
         | SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
         |   / CAST(len(l.sh) AS DOUBLE) AS c
         | FROM d l, d r WHERE l.doc_id <> r.doc_id)
         |SELECT id_a, id_b, c AS containment
         |FROM pairs WHERE c >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // vocabulary coverage curve: ranked cumulative token mass, integer
    // threshold compare (cum*10000 >= bp*total) — no floats anywhere
    "q104_vocab_coverage" ->
      s"""WITH tok AS (
         | SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         |r AS (
         | SELECT token, freq,
         |  row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk,
         |  sum(freq) OVER (ORDER BY freq DESC, token ASC) AS cum
         | FROM f),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_tokens FROM f),
         |th AS (SELECT unnest([5000, 9000, 9900]) AS coverage_bp)
         |SELECT coverage_bp, CAST(min(rnk) AS BIGINT) AS n_vocab, total_tokens
         |FROM th CROSS JOIN tot JOIN r
         | ON cum * 10000 >= coverage_bp * total_tokens
         |GROUP BY 1, total_tokens ORDER BY 1""".stripMargin,

    // incremental span dedup: q100's window/digest/keep-first replay,
    // with the existing half's DISTINCT span digests anti-joined out of
    // the incoming half first
    "q106_span_dedup_incr" -> {
      val hdr = Queries.spanDedupHeader.replace("'", "''")
      s"""WITH d0 AS (
         | SELECT doc_id, '$hdr' || text AS text FROM documents),
         |tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM d0),
         |sp AS (
         | SELECT doc_id, unnest(list_transform(
         |   range(0, 1 + CAST(ceil(greatest(len(tk) - 16, 0) / 16.0) AS BIGINT)),
         |   i -> {'pos': i,
         |         'span': array_to_string(list_slice(tk, i*16 + 1, i*16 + 16), ' ')}))
         |  AS u
         | FROM tok),
         |allp AS (
         | SELECT doc_id, CAST(u.pos AS INT) AS pos, u.span AS span,
         |  md5(u.span) AS dg
         | FROM sp),
         |seen AS (SELECT DISTINCT dg FROM allp WHERE doc_id % 2 = 0),
         |pin AS (SELECT * FROM allp WHERE doc_id % 2 = 1),
         |fresh AS (
         | SELECT * FROM pin WHERE dg NOT IN (SELECT dg FROM seen)),
         |fst AS (
         | SELECT dg, doc_id AS fid, pos AS fpos FROM (
         |  SELECT dg, doc_id, pos,
         |   row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn
         |  FROM fresh)
         | WHERE rn = 1),
         |kept AS (
         | SELECT f.doc_id, f.pos, f.span
         | FROM fresh f JOIN fst ON f.dg = fst.dg AND f.doc_id = fst.fid
         |  AND f.pos = fst.fpos),
         |agg AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_kept,
         |  string_agg(span, ' ' ORDER BY pos) AS text_dedup
         | FROM kept GROUP BY 1),
         |tot AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM pin
         | GROUP BY 1)
         |SELECT t.doc_id, t.n_spans,
         | coalesce(n_spans_kept, 0) AS n_spans_kept,
         | coalesce(text_dedup, '') AS text_dedup
         |FROM tot t LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // end-to-end curation composition: quality gate -> q100's span
    // keep-first chain (no planted header) -> exact keep-first on the
    // reassembled text -> final token counts
    "q107_pipeline_e2e" -> {
      val hdr = Queries.spanDedupHeader.replace("'", "''")
      s"""WITH hdrd AS (
         | SELECT doc_id, '$hdr' || text AS text FROM documents),
         |corpus AS (
         | SELECT doc_id, text FROM hdrd
         | UNION ALL
         | SELECT doc_id + 1000000, text FROM hdrd WHERE doc_id % 10 = 0
         | UNION ALL
         | SELECT doc_id + 2000000, '!!! ??? !!!' FROM documents
         | WHERE doc_id % 25 = 0),
         |keepq AS (
         | SELECT doc_id, text FROM corpus
         | WHERE ${qualitySql("text")} >= 50),
         |tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM keepq),
         |sp AS (
         | SELECT doc_id, unnest(list_transform(
         |   range(0, 1 + CAST(ceil(greatest(len(tk) - 16, 0) / 16.0) AS BIGINT)),
         |   i -> {'pos': i,
         |         'span': array_to_string(list_slice(tk, i*16 + 1, i*16 + 16), ' ')}))
         |  AS u
         | FROM tok),
         |p AS (
         | SELECT doc_id, CAST(u.pos AS INT) AS pos, u.span AS span,
         |  md5(u.span) AS dg
         | FROM sp),
         |fst AS (
         | SELECT dg, doc_id AS fid, pos AS fpos FROM (
         |  SELECT dg, doc_id, pos,
         |   row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn
         |  FROM p)
         | WHERE rn = 1),
         |kept AS (
         | SELECT p.doc_id, p.pos, p.span
         | FROM p JOIN fst ON p.dg = fst.dg AND p.doc_id = fst.fid
         |  AND p.pos = fst.fpos),
         |agg AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_kept,
         |  string_agg(span, ' ' ORDER BY pos) AS text_dedup
         | FROM kept GROUP BY 1),
         |tot AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM p GROUP BY 1),
         |re AS (
         | SELECT t.doc_id, t.n_spans,
         |  coalesce(n_spans_kept, 0) AS n_spans_kept,
         |  coalesce(text_dedup, '') AS text_dedup
         | FROM tot t LEFT JOIN agg USING (doc_id)),
         |ex AS (
         | SELECT *, row_number() OVER (PARTITION BY md5(text_dedup)
         |   ORDER BY doc_id) AS exrn
         | FROM re)
         |SELECT doc_id, n_spans, n_spans_kept,
         | CAST(len(${toksSql("text_dedup")}) AS BIGINT) AS n_tokens_final
         |FROM ex WHERE exrn = 1 ORDER BY doc_id""".stripMargin
    },

    // dataset card over the q105 assignment: per-split doc, cluster and
    // token totals — the same recursive chain, one GROUP BY deeper
    "q108_split_card" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |rep AS (
         | SELECT doc_id, coalesce(cluster_id, doc_id) AS rep
         | FROM corpus LEFT JOIN labels ON doc_id = labels.id),
         |asg AS (
         | SELECT doc_id, rep,
         |  CASE WHEN ${ph("CAST(rep AS VARCHAR)", 99)} % 10000 < 8000
         |   THEN 'train' ELSE 'eval' END AS split
         | FROM rep)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
         | CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS total_tokens
         |FROM asg JOIN corpus USING (doc_id)
         |GROUP BY split ORDER BY split""".stripMargin,

    // schema-evolution read: the oracle replays the generation split from
    // the ORIGINAL table (v1 rows carry no price), so a green hash proves
    // the two-generation mergeSchema scan lost nothing and nulled right
    "q109_schema_evolution" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
        |  AS n_with_price,
        | CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |  AS total_priced
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // MAD outlier fences: quantile_cont == Spark percentile (the q44
    // parity), fence compares UNROUNDED med/mad, published values round 6
    "q110_mad_outliers" ->
      """WITH ev AS (
        | SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events),
        |med AS (
        | SELECT g, quantile_cont(v, 0.5) AS med FROM ev GROUP BY 1),
        |dev AS (
        | SELECT ev.g, v, med, abs(v - med) AS adev
        | FROM ev JOIN med USING (g)),
        |mad AS (
        | SELECT g, med, quantile_cont(adev, 0.5) AS mad
        | FROM dev GROUP BY 1, 2)
        |SELECT d.g AS event_type, m.med AS med,
        | m.mad AS mad,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(count(CASE WHEN adev > 3.0 * m.mad THEN 1 END) AS BIGINT)
        |  AS n_outliers
        |FROM dev d JOIN mad m ON d.g = m.g
        |GROUP BY 1, m.med, m.mad ORDER BY 1""".stripMargin,

    // per-source length fences: q110's MAD replay over token counts
    "q145_length_outliers" ->
      s"""WITH ev AS (
         | SELECT source AS g, CAST(${tokenCountSql("text")} AS DOUBLE) AS v
         | FROM documents),
         |med AS (
         | SELECT g, quantile_cont(v, 0.5) AS med FROM ev GROUP BY 1),
         |dev AS (
         | SELECT ev.g, v, med, abs(v - med) AS adev
         | FROM ev JOIN med USING (g)),
         |mad AS (
         | SELECT g, med, quantile_cont(adev, 0.5) AS mad
         | FROM dev GROUP BY 1, 2)
         |SELECT d.g AS source, m.med AS med,
         | m.mad AS mad,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(count(CASE WHEN adev > 3.0 * m.mad THEN 1 END) AS BIGINT)
         |  AS n_outliers
         |FROM dev d JOIN mad m ON d.g = m.g
         |GROUP BY 1, m.med, m.mad ORDER BY 1""".stripMargin,

    // corpus snapshot diff: md5 digests on both sides, full-outer join,
    // status CASE — the same digest family as the dedup oracles
    "q92_corpus_diff" ->
      """WITH prev AS (
        | SELECT doc_id, md5(text) AS pd FROM documents WHERE doc_id % 7 <> 0),
        |next AS (
        | SELECT doc_id,
        |  md5(CASE WHEN doc_id % 11 = 0 THEN text || ' revised' ELSE text END)
        |   AS nd
        | FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id,
        | CASE WHEN pd IS NULL THEN 'added'
        |      WHEN nd IS NULL THEN 'removed'
        |      WHEN pd <> nd THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM prev FULL OUTER JOIN next USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // per-source report card: int sums exact; the rounded dup ratio sums
    // through DECIMAL(25,6); every mean is CAST(sum AS DOUBLE)/count
    "q89_corpus_report" ->
      s"""WITH tok AS (
         | SELECT source, lang, text, ${toksSql("text")} AS tk FROM documents),
         |shg AS (
         | SELECT source, lang, text,
         |  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |   ELSE list_transform(range(1, len(tk) - 1),
         |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS sh
         | FROM tok),
         |b AS (
         | SELECT source, lang,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS n_tok,
         |  CAST(${qualitySql("text")} AS INT) AS q,
         |  floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
         |    / CAST(len(sh) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS dup
         | FROM shg)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         | CAST(sum(q) AS DOUBLE) / count(*) AS avg_quality,
         | CAST(sum(CAST(dup AS DECIMAL(25,6))) AS DOUBLE) / count(*)
         |  AS avg_dup_ratio,
         | CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         |  / count(*) AS pct_en
         |FROM b GROUP BY source ORDER BY source""".stripMargin,

    // grouped top-k: per-lang bigram heavy hitters, rank window with
    // freq-desc/bigram-asc tie-break on both sides
    "q90_top_bigrams_per_lang" ->
      s"""WITH tok AS (
         | SELECT lang, ${toksSql("lower(text)")} AS tk FROM documents),
         |shg AS (
         | SELECT lang, CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
         |  ELSE list_transform(range(1, len(tk)),
         |         i -> array_to_string(list_slice(tk, i, i + 1), ' ')) END AS sh
         | FROM tok),
         |f AS (
         | SELECT lang, bigram, count(*) AS freq
         | FROM (SELECT lang, unnest(sh) AS bigram FROM shg) GROUP BY 1, 2),
         |r AS (
         | SELECT lang, bigram, freq, row_number() OVER (PARTITION BY lang
         |   ORDER BY freq DESC, bigram ASC) AS rank
         | FROM f)
         |SELECT lang, rank, bigram, freq FROM r
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    // z-order layout audit: the bucketize and Morton-interleave bit
    // expressions are GENERATED here with the same unrolling as the Scala
    // side — pure integer shift/and/or, no floats anywhere
    "q88_zorder_layout" -> {
      def bkt(vExpr: String, lo: Long, hi: Long, bits: Int) =
        s"(((least(greatest(CAST($vExpr AS BIGINT), $lo), $hi) - $lo)" +
          s" * ${1L << bits}) // ${hi - lo + 1})"
      val z = (0 until 8).flatMap(i => Seq(
          s"(((a >> $i) & 1) << ${2 * i})",
          s"(((b >> $i) & 1) << ${2 * i + 1})"))
        .mkString(" | ")
      s"""WITH ab AS (
         | SELECT ${bkt("user_id", 0, 2047, 8)} AS a,
         |  ${bkt("event_id", 0, 131071, 8)} AS b
         | FROM events),
         |zz AS (SELECT ($z) AS z, a, b FROM ab)
         |SELECT z // 16 AS z_chunk, count(*) AS n,
         | min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
         |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // JSON field extraction: ->> + CAST mirrors from_json's typed field
    "q86_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        | min(CAST(props->>'k' AS INT)) AS min_k,
        | max(CAST(props->>'k' AS INT)) AS max_k,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mixture sampling: largest-remainder allocation in pure integer
    // arithmetic (floor/remainder/rank), portable-hash selection ranking
    "q87_mixture_sample" ->
      s"""WITH w AS (
         | SELECT * FROM (VALUES ('en', 5000), ('fr', 2000), ('de', 1500),
         |   ('es', 1000), ('zh', 500)) AS t(src, wbp)),
         |alloc AS (
         | SELECT src, CAST(wbp AS BIGINT) * 200 // 10000 AS fl,
         |  CAST(wbp AS BIGINT) * 200 % 10000 AS rem
         | FROM w),
         |lo AS (SELECT 200 - sum(fl) AS leftover FROM alloc),
         |tgt AS (
         | SELECT src, fl + (CASE WHEN row_number() OVER
         |     (ORDER BY rem DESC, src ASC) <= leftover THEN 1 ELSE 0 END)
         |   AS target_n
         | FROM alloc CROSS JOIN lo),
         |ranked AS (
         | SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         |   ORDER BY ${ph("CAST(doc_id AS VARCHAR)", 77)} ASC, doc_id ASC)
         |   AS rnk
         | FROM documents)
         |SELECT lang, doc_id FROM ranked JOIN tgt ON lang = src
         |WHERE rnk <= target_n ORDER BY lang, doc_id""".stripMargin,

    // repetition stats: k=3 shingles (same <k whole-text rule as the
    // MinHash chain), exact set sizes, one double division; keep compares
    // the ROUNDED ratio on both sides
    "q84_repetition_filter" ->
      s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
         |shg AS (
         | SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |   ELSE list_transform(range(1, len(tk) - 1),
         |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS sh
         | FROM tok),
         |m AS (
         | SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles,
         |  CAST(len(list_distinct(sh)) AS INT) AS n_distinct
         | FROM shg),
         |r AS (
         | SELECT doc_id, n_shingles, n_distinct,
         |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         |   AS dup_ratio
         | FROM m)
         |SELECT doc_id, n_shingles, n_distinct, dup_ratio,
         | dup_ratio <= 0.5 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // decontamination: distinct benchmark 8-shingles vs per-doc distinct
    // training 8-shingles (same <k whole-text rule), count of overlaps;
    // planted tail-copies of benchmark docs must all be flagged
    "q85_decontamination" -> {
      def shg8(tokCte: String, pfx: String) =
        s"""${pfx}shg AS (
           | SELECT doc_id, CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
           |   ELSE list_transform(range(1, len(tk) - 6),
           |          i -> array_to_string(list_slice(tk, i, i + 7), ' ')) END AS sh
           | FROM $tokCte)""".stripMargin
      s"""WITH bench AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |train AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
         | UNION ALL
         | ${plantedSql("documents", "true", 50, 500000L)}),
         |btok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM bench),
         |ttok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM train),
         |${shg8("btok", "b")},
         |${shg8("ttok", "t")},
         |bset AS (SELECT DISTINCT unnest(sh) AS sh FROM bshg),
         |texp AS (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM tshg)
         |SELECT doc_id, count(*) AS n_hits
         |FROM texp JOIN bset USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // histogram-quantile sketch: DECIMAL-exact cents, integer bins /
    // cumulative counts / ceil-rational ranks / floor-div interpolation —
    // the only float op is the final /100.0 on identical integers
    "q82_hist_quantiles" ->
      """WITH h AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         // 100000 AS bin,
        |  count(*) AS cnt
        | FROM orders GROUP BY 1),
        |c AS (
        | SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
        |  sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before
        | FROM h),
        |n AS (SELECT sum(cnt) AS n FROM h),
        |qr AS (
        | SELECT quantile_bp, (CAST(quantile_bp AS BIGINT) * n + 9999) // 10000 AS r
        | FROM (SELECT unnest([5000, 9000, 9900]) AS quantile_bp) CROSS JOIN n),
        |sel AS (
        | SELECT quantile_bp, r, min(bin) AS bin
        | FROM qr JOIN c ON cum >= r GROUP BY 1, 2)
        |SELECT quantile_bp,
        | (bin * 100000 + 100000 * (r - cum_before) // cnt) / 100.0 AS est
        |FROM sel JOIN c USING (bin) ORDER BY quantile_bp""".stripMargin,

    // contiguous sequence packing: per-shard cumulative token sums (exact
    // longs) + integer division — every output cell an integer
    "q83_sequence_packing" ->
      s"""WITH d AS (
         | SELECT source AS shard, doc_id,
         |  CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok
         | FROM documents),
         |c AS (
         | SELECT shard, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok
         |   AS cum_before
         | FROM d),
         |sq AS (SELECT shard, doc_id, n_tok,
         |  CAST(cum_before // 512 AS BIGINT) AS seq_id FROM c)
         |SELECT shard, seq_id, count(*) AS n_docs,
         | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM sq GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,

    // char-trigram jaccard: distinct n-gram sets via range+substr (DuckDB
    // range is exclusive-and-empty-when-degenerate; the Spark side guards
    // its DESCENDING sequence(1,0) explicitly), exact set sizes, one
    // double division, threshold on the unrounded sim — mirrors q17's
    // set-semantics oracle shape
    "q81_char_ngram_jaccard" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(text) - 1, 1)),
        |    i -> substr(text, i, 3))) AS g
        | FROM documents WHERE doc_id < 60),
        |pairs AS (
        | SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  CASE WHEN len(list_distinct(list_concat(l.g, r.g))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(l.g, r.g)) AS DOUBLE)
        |            / len(list_distinct(list_concat(l.g, r.g))) END AS sim
        | FROM d l, d r WHERE l.doc_id < r.doc_id)
        |SELECT id_a, id_b, sim AS trigram_sim
        |FROM pairs WHERE sim >= 0.62 ORDER BY id_a, id_b""".stripMargin,

    // partitioned-layout round trip: the oracle aggregates the ORIGINAL
    // parquet with the same lang filter — green hash = the Hive-style
    // layout (partition values in directory names) lost nothing
    "q78_partition_pruning" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // HyperLogLog replay: registers via length(bin(w)) (exact minimal-
    // binary bit length in both engines), harmonic sum as exact integers
    // (2^(49-reg) summed wide) before ONE double division; alpha*m^2 is
    // interpolated from the Scala constant so both engines parse the same
    // double bits. Small-range branch on the identical raw value.
    "q77_hll_distinct" -> {
      val m = 1 << 12
      val w49 = 1L << 49
      s"""WITH w AS (
         | SELECT ${ph("o_orderkey", 7)} % $m AS bucket,
         |  ${ph("o_orderkey", 8)} % ${1L << 48} AS wv
         | FROM orders),
         |r AS (
         | SELECT bucket,
         |  max(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS reg
         | FROM w GROUP BY bucket),
         |a AS (
         | SELECT count(*) AS occupied, max(reg) AS max_reg,
         |  coalesce(sum((CAST(1 AS BIGINT) << (49 - reg))), 0)
         |   + ($m - count(*)) * CAST($w49 AS HUGEINT) AS s_total
         | FROM r),
         |e AS (
         | SELECT occupied, max_reg,
         |  ${graft.operators.Sketch.hllAlphaM2(12)} / (CAST(s_total AS DOUBLE) / $w49.0) AS raw
         | FROM a)
         |SELECT $m AS m, occupied, max_reg,
         | round(CASE WHEN raw <= ${2.5 * m} AND $m - occupied > 0
         |   THEN $m.0 * ln($m.0 / ($m - occupied)) ELSE raw END, 6)
         |  AS est_distinct
         |FROM e""".stripMargin
    },

    // grouped HLL: the q77 replay partitioned by market segment
    "q91_hll_by_group" -> {
      val m = 1 << 12
      val w49 = 1L << 49
      s"""WITH j AS (
         | SELECT c_mktsegment, o_orderkey FROM orders
         | JOIN customer ON o_custkey = c_custkey),
         |w AS (
         | SELECT c_mktsegment, ${ph("o_orderkey", 7)} % $m AS bucket,
         |  ${ph("o_orderkey", 8)} % ${1L << 48} AS wv
         | FROM j),
         |r AS (
         | SELECT c_mktsegment, bucket,
         |  max(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS reg
         | FROM w GROUP BY 1, 2),
         |a AS (
         | SELECT c_mktsegment, count(*) AS occupied, max(reg) AS max_reg,
         |  coalesce(sum((CAST(1 AS BIGINT) << (49 - reg))), 0)
         |   + ($m - count(*)) * CAST($w49 AS HUGEINT) AS s_total
         | FROM r GROUP BY 1),
         |e AS (
         | SELECT c_mktsegment, occupied, max_reg,
         |  ${graft.operators.Sketch.hllAlphaM2(12)}
         |   / (CAST(s_total AS DOUBLE) / $w49.0) AS raw
         | FROM a)
         |SELECT c_mktsegment, occupied, max_reg,
         | round(CASE WHEN raw <= ${2.5 * m} AND $m - occupied > 0
         |   THEN $m.0 * ln($m.0 / ($m - occupied)) ELSE raw END, 6)
         |  AS est_distinct
         |FROM e ORDER BY c_mktsegment""".stripMargin
    },

    // snapshot-versioned table: the head read (after two appends + a
    // compaction) must aggregate exactly like the original parquet —
    // compaction may change layout, never values
    "q215_versioned_head" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // time travel: version 1 is the even-doc_id batch, readable
    // untouched after later commits rewrote the head
    "q216_time_travel" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // change feed: the v1->v2 delta is the odd-doc_id batch, read as a
    // manifest file-set difference over immutable files
    "q218_change_feed" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 1 GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // table history: the builder is deterministic (two keyed commits,
    // replay no-ops), so the snapshot metadata is literal-checkable
    "q222_table_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, 'even' AS commit_key
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'odd'
        |ORDER BY version""".stripMargin,

    // manifest-pruned range scan: pruning only cuts IO — the values
    // must equal a plain WHERE over the raw corpus (same integer-div
    // threshold both sides)
    "q220_pruned_scan" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |WHERE doc_id >= 0
        | AND doc_id <= (SELECT max(doc_id) // 4 FROM documents)
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // retention GC: expire keepLast=2 after (even, odd, compaction)
    // drops v1 but cannot change a head value — data side = the raw
    // corpus, metadata side = the literal retained tail
    "q223_snapshot_expire" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id,
        | CAST(2 AS BIGINT) AS n_retained, CAST(2 AS BIGINT) AS oldest_version
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // copy-on-write DELETE: the head after purging every third doc in
    // the lowest id quartile == a plain negated WHERE over the raw
    // corpus (same integer-div threshold both sides); pruning and the
    // rewrite mechanics cannot show up in values, only in IO
    "q224_cow_delete" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |WHERE NOT (doc_id <= (SELECT max(doc_id) // 4 FROM documents)
        | AND doc_id % 3 = 0)
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // clustered rewrite: pruning created after the fact by the
    // compaction cannot change a value — same range WHERE as q220, but
    // the stats come from OPTIMIZE, not from the original appends
    "q227_clustered_rewrite" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |WHERE doc_id >= 0
        | AND doc_id <= (SELECT max(doc_id) // 4 FROM documents)
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // token-window chunking: 64-token windows, stride 48, replayed via
    // DuckDB 1-based inclusive list slicing; chunk count = 0 empty doc,
    // 1 when n <= 64, else 1 + ceil((n-64)/48) in integer math
    "q226_text_chunks" -> {
      val toks = toksSql("text")
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |n AS (SELECT doc_id, t, len(t) AS n FROM tk),
         |c AS (SELECT doc_id, t,
         |  CASE WHEN n = 0 THEN 0 WHEN n <= 64 THEN 1
         |   ELSE 1 + (n - 64 + 47) // 48 END AS nc FROM n),
         |e AS (SELECT doc_id, t, unnest(range(nc)) AS i FROM c),
         |s AS (SELECT doc_id, i AS chunk_idx,
         |  t[(i * 48 + 1):(i * 48 + 64)] AS ch FROM e)
         |SELECT doc_id, chunk_idx, CAST(len(ch) AS BIGINT) AS n_toks,
         | array_to_string(ch, ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
    },

    // linear interpolation: anchors via IGNORE NULLS windows both ways,
    // epoch-micro deltas, ONE multiply-divide chain in the exact
    // association order of the Spark expression, no trailing round
    "q233_interp_fill" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts, epoch_us(ts) AS t,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        | FROM events),
        |f AS (
        | SELECT user_id, event_id, v, t,
        |  last_value(v IGNORE NULLS) OVER w_b AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |   OVER w_b AS pt,
        |  first_value(v IGNORE NULLS) OVER w_f AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |   OVER w_f AS nt
        | FROM e
        | WINDOW w_b AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_f AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id, (v IS NULL) AS was_gap,
        | CASE WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NULL THEN NULL
        |  WHEN nv IS NULL THEN pv
        |  ELSE pv + (nv - pv)
        |   * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END
        |  AS filled_value
        |FROM f ORDER BY user_id, event_id""".stripMargin,

    // OHLC: open/close via row_number on the total (ts, event_id) order
    // (arg_min/arg_max on a composite key, replayed as windows)
    "q232_ohlc" ->
      """WITH e AS (
        | SELECT CAST(ts AS DATE) AS day, event_type, value,
        |  row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
        |   ORDER BY ts ASC, event_id ASC) AS rn_a,
        |  row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
        |   ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events)
        |SELECT day, event_type,
        | max(CASE WHEN rn_a = 1 THEN value END) AS open,
        | max(value) AS high, min(value) AS low,
        | max(CASE WHEN rn_d = 1 THEN value END) AS close,
        | count(*) AS n_events
        |FROM e GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    // gap fill: carried values, no float math — last_value IGNORE NULLS
    // over the same (ts, event_id)-ordered unbounded-preceding frame
    "q231_gap_fill" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        | FROM events)
        |SELECT user_id, event_id, (v IS NULL) AS was_gap,
        | last_value(v IGNORE NULLS) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    // phrase search: zipped unnest gives (pos, token); per-term position
    // lists intersect after shifting slot i by -i — integer-exact
    "q230_phrase_search" -> {
      val toks = toksSql("lower(text)")
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(range(len(t))) AS pos,
         |  unnest(t) AS token FROM tk),
         |p0 AS (SELECT doc_id, list(pos) AS ps FROM tok
         |  WHERE token = 'big' GROUP BY 1),
         |p1 AS (SELECT doc_id, list(pos) AS ps FROM tok
         |  WHERE token = 'table' GROUP BY 1),
         |j AS (SELECT p0.doc_id,
         |  CAST(len(list_intersect(p0.ps,
         |    list_transform(p1.ps, x -> x - 1))) AS BIGINT) AS phrase_tf
         | FROM p0 JOIN p1 USING (doc_id))
         |SELECT doc_id, phrase_tf FROM j WHERE phrase_tf > 0
         |ORDER BY phrase_tf DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // chunk-level BM25: the q226 chunking CTEs feeding the q76 BM25
    // shape, with synthetic chunk ids (doc_id * 100000 + chunk_idx)
    "q229_chunk_search" -> {
      val toks = toksSql("text")
      s"""WITH tk0 AS (SELECT doc_id, $toks AS t FROM documents),
         |n0 AS (SELECT doc_id, t, len(t) AS n FROM tk0),
         |c0 AS (SELECT doc_id, t,
         |  CASE WHEN n = 0 THEN 0 WHEN n <= 64 THEN 1
         |   ELSE 1 + (n - 64 + 47) // 48 END AS nc FROM n0),
         |e0 AS (SELECT doc_id, t, unnest(range(nc)) AS i FROM c0),
         |chk AS (SELECT doc_id * 100000 + i AS chunk_id,
         |  t[(i * 48 + 1):(i * 48 + 64)] AS ch FROM e0),
         |tok AS (SELECT chunk_id, lower(unnest(ch)) AS token FROM chk),
         |tf AS (SELECT chunk_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT chunk_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |stats AS (
         | SELECT count(*) AS n_docs,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |df AS (
         | SELECT token, count(*) AS df FROM tf
         | WHERE token IN ('spark', 'vector', 'query') GROUP BY 1),
         |posting AS (
         | SELECT tf.chunk_id, tf.token, tf.tf, dl.dl, s.n_docs, s.avgdl, df.df
         | FROM tf JOIN df USING (token) JOIN dl USING (chunk_id)
         |  CROSS JOIN stats s
         | WHERE tf.token IN ('spark', 'vector', 'query')),
         |st AS (
         | SELECT chunk_id, token, dl,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS st
         | FROM posting),
         |pivoted AS (
         | SELECT chunk_id, dl,
         |  max(CASE WHEN token = 'spark' THEN st END) AS s0,
         |  max(CASE WHEN token = 'vector' THEN st END) AS s1,
         |  max(CASE WHEN token = 'query' THEN st END) AS s2
         | FROM st GROUP BY 1, 2),
         |top AS (
         | SELECT chunk_id, dl,
         |  round(coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0), 6)
         |   AS score
         | FROM pivoted ORDER BY score DESC, chunk_id ASC LIMIT 20)
         |SELECT row_number() OVER (ORDER BY score DESC, chunk_id ASC) AS rank,
         | chunk_id, dl, score
         |FROM top ORDER BY rank""".stripMargin
    },

    // copy-on-write MERGE: base minus updated keys, plus the doubled
    // updates, plus the negative-id inserts — upsert semantics replayed
    // in set algebra over the raw corpus
    "q225_cow_merge" ->
      """WITH upd AS (
        | SELECT doc_id, lang, source, n_chars * 2 AS n_chars
        | FROM documents
        | WHERE doc_id % 10 = 0
        |  AND doc_id <= (SELECT max(doc_id) // 2 FROM documents)),
        |ins AS (
        | SELECT -doc_id - 1 AS doc_id, lang, source, n_chars
        | FROM documents WHERE doc_id % 7 = 0),
        |m AS (
        | SELECT doc_id, lang, source, n_chars FROM documents
        | WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        | UNION ALL SELECT * FROM upd
        | UNION ALL SELECT * FROM ins)
        |SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM m GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // CBO join planner: both single-column profile chains (the q213
    // machinery, one column each) + the uniform-containment arithmetic;
    // exact counts, 6-rounded ndv, one multiply-divide chain, no
    // trailing round
    "q219_join_planner" -> {
      val m = 1 << 12
      val w49 = 1L << 49
      // the q91/q213 estimator chain over one BIGINT key column,
      // emitting (n_<tag>, null_<tag>, ndv_<tag>) as three tiny CTEs
      def chain(table: String, key: String, tag: String) =
        s"""b_$tag AS (
           | SELECT count(*) AS n_$tag,
           |  count(CASE WHEN $key IS NULL THEN 1 END) AS null_$tag
           | FROM $table),
           |w_$tag AS (
           | SELECT ${ph(s"CAST($key AS VARCHAR)", 7)} % $m AS bucket,
           |  ${ph(s"CAST($key AS VARCHAR)", 8)} % ${1L << 48} AS wv
           | FROM $table WHERE $key IS NOT NULL),
           |r_$tag AS (
           | SELECT bucket,
           |  max(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS reg
           | FROM w_$tag GROUP BY 1),
           |a_$tag AS (
           | SELECT count(*) AS occupied,
           |  coalesce(sum((CAST(1 AS BIGINT) << (49 - reg))), 0)
           |   + ($m - count(*)) * CAST($w49 AS HUGEINT) AS s_total
           | FROM r_$tag),
           |e_$tag AS (
           | SELECT round(CASE WHEN ${graft.operators.Sketch.hllAlphaM2(12)}
           |     / (CAST(s_total AS DOUBLE) / $w49.0) <= ${2.5 * m}
           |    AND $m - occupied > 0
           |   THEN $m.0 * ln($m.0 / ($m - occupied))
           |   ELSE ${graft.operators.Sketch.hllAlphaM2(12)}
           |     / (CAST(s_total AS DOUBLE) / $w49.0) END, 6) AS ndv_$tag
           | FROM a_$tag)"""
      s"""WITH ${chain("documents", "doc_id", "left")},
         |${chain("embeddings", "vec_id", "right")}
         |SELECT 'doc_id' AS key_left, 'vec_id' AS key_right,
         | n_left, n_right, null_left, null_right, ndv_left, ndv_right,
         | CASE WHEN greatest(ndv_left, ndv_right) <= 0.0 THEN 0.0
         |  ELSE CAST(n_left - null_left AS DOUBLE)
         |   * CAST(n_right - null_right AS DOUBLE)
         |   / greatest(ndv_left, ndv_right) END AS est_join_rows,
         | CASE WHEN n_left <= n_right THEN 'left' ELSE 'right' END
         |  AS broadcast_side
         |FROM b_left, b_right, e_left, e_right""".stripMargin
    },

    // column profiler: the q91 HLL machinery keyed on the unpivoted
    // column name; base counts are exact integers, the estimator chain
    // replays like q91's. All five documents columns are BIGINT/VARCHAR,
    // so the string-cast unpivot is engine-exact. One chain emitter is
    // shared with q221's two-snapshot drift replay.
    "q213_column_profile" ->
      s"""WITH ${docProfileChain("a", "")}
         |SELECT col_name, n_rows, n_null, occupied, max_reg, est_distinct
         |FROM p_a ORDER BY col_name""".stripMargin,

    // profile drift: the even-batch chain (v1) joined against the full
    // chain (head) — every cell of the diff hash-anchored
    "q221_profile_drift" ->
      s"""WITH ${docProfileChain("t", "WHERE doc_id % 2 = 0")},
         |${docProfileChain("n", "")}
         |SELECT p_t.col_name,
         | p_t.n_rows AS n_rows_then, p_t.n_null AS n_null_then,
         | p_t.est_distinct AS ndv_then,
         | p_n.n_rows AS n_rows_now, p_n.n_null AS n_null_now,
         | p_n.est_distinct AS ndv_now
         |FROM p_t JOIN p_n ON p_t.col_name = p_n.col_name
         |ORDER BY p_t.col_name""".stripMargin,

    // count-min sketch: counters and min-over-depths estimates are exact
    // integers, so the whole sketch replays value-identically
    "q69_cms_heavy_hitters" -> {
      val ctrSelects = (0 until 4)
        .map(d => s"  SELECT $d AS d, ${ph("token", 100 + d)} % 1024 AS bucket FROM occ")
        .mkString("\n  UNION ALL\n")
      val probeSelects = (0 until 4)
        .map(d => s"  SELECT token, $d AS d, ${ph("token", 100 + d)} % 1024 AS bucket FROM cand")
        .mkString("\n  UNION ALL\n")
      s"""WITH occ AS (
         | SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents),
         |ctr AS (
         | SELECT d, bucket, count(*) AS cnt FROM (
         |$ctrSelects
         | ) GROUP BY d, bucket),
         |cand AS (SELECT DISTINCT token FROM occ),
         |probe AS (
         |$probeSelects
         |)
         |SELECT token, min(coalesce(cnt, 0)) AS est_freq
         |FROM probe LEFT JOIN ctr USING (d, bucket)
         |GROUP BY token
         |ORDER BY est_freq DESC, token ASC LIMIT 30""".stripMargin
    },

    // ORC round trip: the Spark side aggregates the RE-READ ORC copy; this
    // aggregates the original parquet — equal hashes prove lossless I/O
    "q70_orc_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // JSON-lines round trip, same pattern over orders
    "q71_jsonl_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | count(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS n_days
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    // bloom prefilter: replay bit set + 4-position probe; count of matched
    // bits = 4 <=> maybe_present (false positives replay identically too)
    "q72_bloom_prefilter" -> {
      val bitSelects = (0 until 4)
        .map(i => s"  SELECT ${ph("dg", 200 + i)} % 65536 AS bit FROM ex")
        .mkString("\n  UNION ALL\n")
      val probeSelects = (0 until 4)
        .map(i => s"  SELECT doc_id, ${ph("dg", 200 + i)} % 65536 AS pos FROM inc")
        .mkString("\n  UNION ALL\n")
      s"""WITH ex AS (
         | SELECT md5(text) AS dg FROM documents WHERE doc_id % 2 = 0),
         |bits AS (SELECT DISTINCT bit FROM (
         |$bitSelects
         |)),
         |inc AS (
         | SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 2 = 1
         | UNION ALL
         | SELECT doc_id + 2000000, md5(text) FROM documents WHERE doc_id % 10 = 0),
         |probe AS (
         |$probeSelects
         |),
         |hit AS (
         | SELECT probe.doc_id, count(bits.bit) AS nbits
         | FROM probe LEFT JOIN bits ON probe.pos = bits.bit
         | GROUP BY probe.doc_id)
         |SELECT doc_id, nbits = 4 AS maybe_present FROM hit ORDER BY doc_id""".stripMargin
    },

    // edit-distance verify over the q61 pair chain: DuckDB's levenshtein
    // is the same unit-cost edit distance as Spark's; the accept gate is
    // pure integer arithmetic (lev*100 <= maxLen*20)
    "q147_edit_distance" ->
      s"""WITH $q61Chain
         |SELECT id_a, id_b, floor(sim * 1e4 + 0.5) / 1e4 AS jaccard_sim,
         | CAST(levenshtein(a.text, b2.text) AS INT) AS lev,
         | CAST(length(a.text) AS INT) AS len_a,
         | CAST(length(b2.text) AS INT) AS len_b,
         | levenshtein(a.text, b2.text) * 100 <=
         |  greatest(length(a.text), length(b2.text)) * 20 AS edit_ok
         |FROM pairs
         |JOIN corpus a ON pairs.id_a = a.doc_id
         |JOIN corpus b2 ON pairs.id_b = b2.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // exact repeated-8-gram trim: window digests, keeper = min (doc,
    // start) via row_number, masked positions exploded and distinct'd,
    // survivors reassembled with string_agg ORDER BY pos — mirrors
    // Dedup.trimRepeatedNgrams over the derived planted corpus
    "q148_ngram_trim" -> {
      val derived = s"""text ||
        |  CASE WHEN doc_id % 6 = 0 THEN '${Queries.q148Boiler}' ELSE '' END ||
        |  CASE WHEN doc_id % 17 = 3
        |   THEN '${Queries.q148Phrase}${Queries.q148Phrase}' ELSE '' END""".stripMargin
      s"""WITH base AS (
         | SELECT doc_id, ${toksSql(derived)} AS tk FROM documents),
         |occ AS (
         | SELECT doc_id, unnest(range(1, len(tk) - 6)) AS start, tk
         | FROM base WHERE len(tk) >= 8),
         |grams AS (
         | SELECT doc_id, start,
         |  md5(array_to_string(tk[start:start+7], ' ')) AS digest
         | FROM occ),
         |marked AS (
         | SELECT doc_id, start, count(*) OVER (PARTITION BY digest) AS cnt,
         |  row_number() OVER (PARTITION BY digest ORDER BY doc_id, start) AS rn
         | FROM grams),
         |maskedpos AS (
         | SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(range(start, start + 8)) AS pos
         |  FROM marked WHERE cnt > 1 AND rn > 1)),
         |tokpos AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS INT) AS pos,
         |  unnest(tk) AS token
         | FROM base),
         |kept AS (
         | SELECT t.doc_id, t.pos, t.token FROM tokpos t
         | LEFT JOIN maskedpos m ON t.doc_id = m.doc_id AND t.pos = m.pos
         | WHERE m.doc_id IS NULL),
         |agg AS (
         | SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS text_trimmed
         | FROM kept GROUP BY 1),
         |nm AS (SELECT doc_id, count(*) AS n_masked FROM maskedpos GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.tk) AS INT) AS n_tokens,
         | CAST(coalesce(nm.n_masked, 0) AS INT) AS n_masked,
         | coalesce(agg.text_trimmed, '') AS text_trimmed
         |FROM base b
         |LEFT JOIN agg ON b.doc_id = agg.doc_id
         |LEFT JOIN nm ON b.doc_id = nm.doc_id
         |ORDER BY b.doc_id""".stripMargin
    },

    // per-source vocabulary health: one (source, token) tf aggregate,
    // then integer rollups + two single double divisions
    "q149_vocab_health" ->
      s"""WITH tok AS (
         | SELECT source, unnest(${toksSql("lower(text)")}) AS token
         | FROM documents),
         |tf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         | CAST(sum(tf) AS BIGINT) AS n_tokens,
         | CAST(count(CASE WHEN tf = 1 THEN 1 END) AS BIGINT) AS n_hapax,
         | CAST(count(CASE WHEN tf = 1 THEN 1 END) AS DOUBLE)
         |   / CAST(count(*) AS DOUBLE) AS hapax_ratio,
         | CAST(count(*) AS DOUBLE)
         |   / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) AS type_token_ratio
         |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-source PII incidence over the derived planted contacts — the
    // SAME regex constants as TextOps.redactPii/piiScan (single source of
    // truth), counted via regexp_extract_all, redact via 'g'-flagged
    // replaces (DuckDB replaces first-only by default)
    "q150_pii_scan" -> {
      val email = graft.operators.TextOps.emailRegex
      val phone = graft.operators.TextOps.phoneRegex
      s"""WITH p AS (
         | SELECT source, text ||
         |  CASE WHEN doc_id % 7 = 0
         |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |   WHEN doc_id % 7 = 3
         |    THEN ' call 55501' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
         |   ELSE '' END AS text
         | FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(len(regexp_extract_all(text, '$email'))) AS BIGINT)
         |  AS n_emails,
         | CAST(sum(len(regexp_extract_all(text, '$phone'))) AS BIGINT)
         |  AS n_phones,
         | CAST(count(CASE WHEN
         |   regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |     '$phone', '<PHONE>', 'g') <> text THEN 1 END) AS BIGINT)
         |  AS n_docs_with_pii
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // embedding covariance: per-row upper-triangle products round(.,6)
    // summed through DECIMAL(25,6) (the q99 exact-accumulation
    // convention) — Spark sequence(i, n-1) inclusive == DuckDB
    // range(i, n) exclusive; Spark v[i] 0-based == DuckDB v[i+1] 1-based
    "q151_embedding_cov" ->
      """WITH e AS (
        | SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (
        | SELECT unnest(flatten(list_transform(range(0, len(v)), i ->
        |   list_transform(range(i, len(v)), j ->
        |     {'i': i, 'j': j,
        |      'xy': CAST(round(CAST(v[i+1] AS DOUBLE)*CAST(v[j+1] AS DOUBLE), 6)
        |                 AS DECIMAL(25,6))})))) AS s
        | FROM e),
        |sp AS (SELECT s.i AS i, s.j AS j, sum(s.xy) AS sxy FROM p GROUP BY 1, 2),
        |xs AS (
        | SELECT unnest(list_transform(range(0, len(v)),
        |   i -> {'i': i,
        |         'x': CAST(round(CAST(v[i+1] AS DOUBLE), 6) AS DECIMAL(25,6))})) AS u
        | FROM e),
        |s2 AS (SELECT u.i AS i, sum(u.x) AS si, count(*) AS n FROM xs GROUP BY 1)
        |SELECT CAST(sp.i AS INT) AS i, CAST(sp.j AS INT) AS j,
        | CAST(CAST(round(
        |        CAST(CAST(a.n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(20,6))
        |             AS DECIMAL(37,12))
        |        - CAST(a.si AS DECIMAL(16,6)) * CAST(b.si AS DECIMAL(16,6)),
        |      6) AS DECIMAL(20,6)) AS DOUBLE)
        |   / CAST(a.n * (a.n - 1) AS DOUBLE) AS cov
        |FROM sp JOIN s2 a ON sp.i = a.i JOIN s2 b ON sp.j = b.i
        |ORDER BY i, j""".stripMargin,

    // semantic decontamination: q21's cosine fold chain; corpus = non-50s
    // UNION exact benchmark copies re-keyed +100000; argmax via the q21
    // window (sim DESC, bid ASC == Spark's struct-max on (sim, -bid));
    // contamination gate compares the UNROUNDED sim (q81 convention)
    "q153_semantic_decontam" ->
      s"""WITH bench AS (
         | SELECT vec_id AS bid, embedding AS bv FROM embeddings
         | WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
         |corpus AS (
         | SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 50 <> 0
         | UNION ALL
         | SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |scored AS (
         | SELECT vec_id, bid,
         |  ${dotSql("v", "bv")} AS dot_p,
         |  ${normSql("v")} * ${normSql("bv")} AS norm_p
         | FROM corpus, bench),
         |sims AS (
         | SELECT vec_id, bid,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bid ASC) AS rnk
         | FROM sims)
         |SELECT vec_id, bid AS best_bench_id, round(sim, 6) AS max_sim,
         | sim >= 0.9 AS contaminated
         |FROM ranked WHERE rnk = 1 ORDER BY vec_id""".stripMargin,

    // Flesch readability: integer words / [.!?]+ runs (floor 1) /
    // per-word [aeiouy]+ vowel groups (floor 1 per word); score rounded
    // to 4 and the band CASEs on the ROUNDED value
    "q154_readability" ->
      s"""WITH d AS (
         | SELECT doc_id, coalesce(text, '') AS t0,
         |  lower(coalesce(text, '')) AS t FROM documents),
         |c AS (
         | SELECT doc_id,
         |  CAST(len(${toksSql("t0")}) AS BIGINT) AS n_words,
         |  CAST(greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS BIGINT)
         |   AS n_sentences,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(${toksSql("t")},
         |      w -> CAST(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1) AS BIGINT))),
         |    (a, b) -> a + b) AS BIGINT) AS n_syllables
         | FROM d),
         |f AS (
         | SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words = 0 THEN NULL
         |   ELSE 206.835
         |     - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |     - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |  END AS flesch
         | FROM c)
         |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
         | CASE WHEN flesch IS NULL THEN 'empty'
         |      WHEN flesch >= 90 THEN 'very_easy'
         |      WHEN flesch >= 60 THEN 'standard'
         |      WHEN flesch >= 30 THEN 'difficult'
         |      ELSE 'very_difficult' END AS band
         |FROM f ORDER BY doc_id""".stripMargin,

    // chunk occupancy: the q83 cumsum chain, then each doc unnests into
    // its inclusive chunk range (Spark sequence == range(lo, hi+1));
    // overlap arithmetic is pure BIGINT
    "q155_chunk_occupancy" ->
      s"""WITH d AS (
         | SELECT source AS shard, doc_id,
         |  CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok FROM documents),
         |c AS (
         | SELECT shard, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
         | FROM d WHERE n_tok > 0),
         |e AS (SELECT shard, doc_id, n_tok, cum, cum - n_tok AS cum_before FROM c),
         |x AS (
         | SELECT shard, doc_id, cum, cum_before,
         |  unnest(range(CAST(cum_before // 512 AS BIGINT),
         |               CAST((cum - 1) // 512 + 1 AS BIGINT))) AS chunk_id
         | FROM e),
         |y AS (
         | SELECT shard, chunk_id, doc_id,
         |  least(cum, (chunk_id + 1) * 512) - greatest(cum_before, chunk_id * 512)
         |   AS tok_in_chunk,
         |  CASE WHEN cum_before < chunk_id * 512 THEN 1 ELSE 0 END AS straddle_in
         | FROM x)
         |SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_id,
         | count(*) AS n_docs,
         | CAST(sum(tok_in_chunk) AS BIGINT) AS n_tokens,
         | CAST(sum(straddle_in) AS BIGINT) AS n_straddle_in,
         | CAST(max(tok_in_chunk) AS BIGINT) AS max_doc_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM y GROUP BY 1, 2 ORDER BY shard, chunk_id""".stripMargin,

    // boilerplate 5-grams: per-doc DISTINCT lowercased shingles (q85's
    // shingle CASE incl. the short-doc whole-text form), doc_freq >= 10,
    // top 20 by (doc_freq DESC, ngram ASC)
    "q156_boilerplate_ngrams" ->
      s"""WITH p AS (
         | SELECT doc_id, source, lower(text ||
         |  CASE WHEN doc_id % 3 = 0
         |   THEN ' subscribe to our newsletter for weekly updates'
         |   ELSE '' END) AS text
         | FROM documents),
         |tok AS (SELECT doc_id, source, ${toksSql("text")} AS tk FROM p),
         |shg AS (
         | SELECT doc_id, source,
         |  CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
         |   ELSE list_transform(range(1, len(tk) - 3),
         |          i -> array_to_string(list_slice(tk, i, i + 4), ' ')) END AS sh
         | FROM tok),
         |g AS (
         | SELECT doc_id, source, unnest(list_distinct(sh)) AS ngram FROM shg),
         |f AS (
         | SELECT ngram, count(*) AS doc_freq,
         |  count(DISTINCT source) AS n_sources
         | FROM g GROUP BY 1 HAVING count(*) >= 10),
         |r AS (
         | SELECT *, row_number() OVER (ORDER BY doc_freq DESC, ngram ASC) AS rnk
         | FROM f)
         |SELECT CAST(rnk AS INT) AS rnk, ngram,
         | CAST(doc_freq AS BIGINT) AS doc_freq,
         | CAST(n_sources AS BIGINT) AS n_sources
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // shard audit: the portableHash64 md5 chain (ph) mod 8 — the hash is
    // a non-negative 60-bit value so % == pmod
    "q157_shard_audit" ->
      s"""WITH d AS (
         | SELECT doc_id, source,
         |  ${ph("CAST(doc_id AS VARCHAR)", 7)} % 8 AS shard
         | FROM documents),
         |g AS (SELECT shard, source, count(*) AS n FROM d GROUP BY 1, 2)
         |SELECT CAST(shard AS INT) AS shard,
         | CAST(sum(n) AS BIGINT) AS n_docs,
         | CAST(count(*) AS BIGINT) AS n_sources,
         | CAST(max(n) AS BIGINT) AS max_source_docs,
         | CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
         |  AS max_source_share
         |FROM g GROUP BY 1 ORDER BY shard""".stripMargin,

    // normalized exact dedup: group by the canonical form directly (the
    // Spark side groups by md5 OF the same form — identical partition)
    "q159_normalized_dedup" ->
      """WITH c AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 300000, '  ' || upper(text) || ' !!! '
        | FROM documents WHERE doc_id % 5 = 0),
        |n AS (
        | SELECT doc_id,
        |  trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))
        |   AS nt
        | FROM c)
        |SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_variants
        |FROM n GROUP BY nt ORDER BY doc_id""".stripMargin,

    // prefix-join oracle = BRUTE FORCE all-pairs exact Jaccard: a hash
    // match proves the AllPairs prefix filter lost no pair; integer
    // cross-multiplied accept gate (i*5 >= u*3 == J >= 3/5), one double
    "q160_prefix_join" ->
      s"""WITH sub AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
         | UNION ALL
         | ${plantedSql("documents", "doc_id % 7 = 0", 1, 700000L)}),
         |tok AS (SELECT doc_id, ${toksSql("lower(text)")} AS tk0 FROM sub),
         |shg AS (
         | SELECT doc_id, CASE WHEN len(tk0) < 3 THEN [array_to_string(tk0, ' ')]
         |  ELSE list_transform(range(1, len(tk0) - 1),
         |         i -> array_to_string(list_slice(tk0, i, i + 2), ' ')) END AS sh
         | FROM tok),
         |d AS (SELECT doc_id, list_distinct(sh) AS tk FROM shg),
         |d2 AS (SELECT * FROM d WHERE len(tk) > 0),
         |p AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS i_,
         |  CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS BIGINT) AS u_
         | FROM d2 a, d2 b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(i_ AS DOUBLE) / u_ AS jaccard
         |FROM p WHERE i_ * 5 >= u_ * 3 ORDER BY id_a, id_b""".stripMargin,

    // winnowing (k=8, w=4, seed 17): per-doc fingerprints = distinct
    // window minima of md5-chain hashes over 8-char grams of the
    // canonical token stream; stop-fingerprints (doc_freq > 50) cut
    // before the pair join; pairs sharing >= 3 fingerprints
    "q161_winnowing" ->
      s"""WITH sub AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
         | UNION ALL
         | ${plantedSql("documents", "doc_id % 11 = 0", 1, 1100000L)}),
         |${winnowFpCtes("sub", "")},
         |sz AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
         |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 50),
         |u AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
         |p AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS shared
         | FROM u a JOIN u b ON a.fp = b.fp AND a.doc_id < b.doc_id
         | GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT id_a, id_b, shared,
         | CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         | CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS overlap
         |FROM p JOIN sz sa ON p.id_a = sa.doc_id
         |       JOIN sz sb ON p.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // Zipf OLS: each ln frozen to round(ln, 6)*1e6 micro-BIGINTs, all
    // five regression sums exact integers, closed form in one double
    // expression per statistic — byte-identical arithmetic to Spark
    "q162_zipf_fit" ->
      s"""WITH tok AS (
         | SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents),
         |tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
         |top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token ASC LIMIT 256),
         |r AS (
         | SELECT tf, row_number() OVER (ORDER BY tf DESC, token ASC) AS rnk
         | FROM top),
         |m AS (
         | SELECT CAST(round(round(ln(rnk), 6) * 1e6) AS BIGINT) AS x,
         |        CAST(round(round(ln(tf), 6) * 1e6) AS BIGINT) AS y
         | FROM r),
         |s AS (
         | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         | FROM m),
         |c AS (
         | SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
         | FROM s),
         |e AS (
         | SELECT n, nd, sxd, syd,
         |  nd * sxyd - sxd * syd AS num, nd * sxxd - sxd * sxd AS den,
         |  nd * syyd - syd * syd AS deny
         | FROM c)
         |SELECT CAST(n AS INT) AS n_ranks,
         | CASE WHEN den = 0 THEN 0.0 ELSE num / den END AS slope,
         | (syd - (CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * sxd)
         |   / nd / 1e6 AS intercept,
         | CASE WHEN den * deny = 0 THEN 1.0
         |  ELSE num * num / (den * deny) END AS r2
         |FROM e ORDER BY n_ranks""".stripMargin,

    // temperature mixture (alpha = 1/2): weight = floor(sqrt(n)*1e6)
    // (IEEE sqrt is correctly rounded -> identical doubles), integer
    // largest-remainder allocation of 1000, ph-seed-78 selection
    "q163_temperature_mix" ->
      s"""WITH c AS (
         | SELECT source AS src, CAST(count(*) AS BIGINT) AS n
         | FROM documents GROUP BY 1),
         |w AS (
         | SELECT src, n,
         |  CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wt
         | FROM c),
         |t AS (SELECT *, CAST(sum(wt) OVER () AS BIGINT) AS wsum FROM w),
         |a AS (
         | SELECT src, n, wt,
         |  CAST(wt * 1000 // wsum AS BIGINT) AS fl,
         |  CAST(wt * 1000 % wsum AS BIGINT) AS rem
         | FROM t),
         |l AS (
         | SELECT *, 1000 - CAST(sum(fl) OVER () AS BIGINT) AS leftover,
         |  row_number() OVER (ORDER BY rem DESC, src ASC) AS rr
         | FROM a),
         |al AS (
         | SELECT src, n, wt,
         |  fl + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS target_n
         | FROM l),
         |r AS (
         | SELECT source AS src, doc_id,
         |  CAST(len(${toksSql("text")}) AS BIGINT) AS tok,
         |  row_number() OVER (PARTITION BY source
         |   ORDER BY ${ph("CAST(doc_id AS VARCHAR)", 78)} ASC, doc_id ASC) AS rnk
         | FROM documents),
         |p AS (
         | SELECT r.src, CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(sum(tok) AS BIGINT) AS sampled_tokens
         | FROM r JOIN al ON r.src = al.src WHERE rnk <= target_n GROUP BY 1)
         |SELECT al.src AS source, al.n AS n_docs, al.wt AS weight,
         | CAST(target_n AS BIGINT) AS target_n,
         | coalesce(n_sampled, 0) AS n_sampled,
         | coalesce(sampled_tokens, 0) AS sampled_tokens
         |FROM al LEFT JOIN p ON al.src = p.src ORDER BY source""".stripMargin,

    // percentile calibration: rank() gives ties one rank (pure function
    // of the score multiset), decile boundary integer-exact, per-row
    // norms frozen to DECIMAL(10,6) before the order-independent sum
    "q164_score_calibration" ->
      s"""WITH d AS (
         | SELECT source AS src, CAST(len(${toksSql("text")}) AS BIGINT) AS v
         | FROM documents),
         |r AS (
         | SELECT src, v, rank() OVER (PARTITION BY src ORDER BY v ASC) AS rnk,
         |  count(*) OVER (PARTITION BY src) AS n
         | FROM d),
         |x AS (
         | SELECT src, v,
         |  CASE WHEN n = 1 THEN 0.0
         |   ELSE CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS norm,
         |  CASE WHEN n = 1 THEN 0
         |   ELSE least(CAST((rnk - 1) * 10 // (n - 1) AS INT), 9) END AS decile
         | FROM r)
         |SELECT src AS source, CAST(decile AS INT) AS decile,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | min(v) AS min_score, max(v) AS max_score,
         | CAST(sum(CAST(floor(norm * 1e6 + 0.5) / 1e6 AS DECIMAL(10,6))) AS DOUBLE)
         |   / count(*) AS mean_norm
         |FROM x GROUP BY 1, 2 ORDER BY source, decile""".stripMargin,

    // block jackknife (B=32, seed 5): exact integer (group, bucket)
    // sums; leave-one-out means frozen to DECIMAL(20,6); squared
    // deviations to DECIMAL(30,12); the ph hash is non-negative so
    // % == pmod
    "q165_jackknife_ci" ->
      s"""WITH d AS (
         | SELECT source AS g, doc_id,
         |  CAST(len(${toksSql("text")}) AS BIGINT) AS v
         | FROM documents),
         |grid AS (
         | SELECT g, ${ph("CAST(doc_id AS VARCHAR)", 5)} % 32 AS b,
         |  CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         | FROM d GROUP BY 1, 2),
         |tot AS (
         | SELECT g, CAST(sum(s) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS nt,
         |  CAST(count(*) AS BIGINT) AS bt
         | FROM grid GROUP BY 1),
         |th AS (
         | SELECT grid.g,
         |  CAST(floor((CASE WHEN nt = n THEN CAST(st AS DOUBLE) / nt
         |   ELSE CAST(st - s AS DOUBLE) / (nt - n) END) * 1e6 + 0.5) / 1e6
         |   AS DECIMAL(20,6)) AS t6, st, nt, bt
         | FROM grid JOIN tot ON grid.g = tot.g),
         |bar AS (
         | SELECT g, st, nt, bt, CAST(sum(t6) AS DOUBLE) / bt AS tbar
         | FROM th GROUP BY 1, 2, 3, 4),
         |vs AS (
         | SELECT th.g,
         |  sum(CAST(floor((CAST(t6 AS DOUBLE) - tbar) *
         |   (CAST(t6 AS DOUBLE) - tbar) * 1e12 + 0.5) / 1e12
         |   AS DECIMAL(30,12))) AS ss
         | FROM th JOIN bar ON th.g = bar.g GROUP BY 1),
         |f AS (
         | SELECT bar.g, nt, CAST(st AS DOUBLE) / nt AS mean,
         |  sqrt(CAST(bt - 1 AS DOUBLE) / bt * CAST(ss AS DOUBLE)) AS se
         | FROM bar JOIN vs ON bar.g = vs.g)
         |SELECT g AS source, nt AS n, mean,
         | se AS se_jack,
         | mean - 1.96 * se AS ci_lo,
         | mean + 1.96 * se AS ci_hi
         |FROM f ORDER BY source""".stripMargin,

    // incremental winnowing vs the persisted fingerprint table: the
    // oracle recomputes BOTH sides from text — a hash match proves the
    // table round trip is value-preserving (q111's proof shape)
    "q166_winnow_incr" ->
      s"""WITH ex0 AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 9 = 0),
         |inc0 AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 9 = 3
         | UNION ALL
         | ${plantedSql("documents", "doc_id % 9 = 0", 45, 4000000L)}),
         |${winnowFpCtes("ex0", "e")},
         |${winnowFpCtes("inc0", "i")},
         |ne AS (SELECT doc_id, count(*) AS n FROM efp GROUP BY 1),
         |ni AS (SELECT doc_id, count(*) AS n FROM ifp GROUP BY 1),
         |p AS (
         | SELECT i.doc_id AS incoming_id, e.doc_id AS existing_id,
         |  CAST(count(*) AS BIGINT) AS shared
         | FROM ifp i JOIN efp e ON i.fp = e.fp
         | GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT incoming_id, existing_id, shared,
         | CAST(ni.n AS BIGINT) AS n_in, CAST(ne.n AS BIGINT) AS n_ex,
         | CAST(shared AS DOUBLE) / least(ni.n, ne.n) AS overlap
         |FROM p JOIN ni ON p.incoming_id = ni.doc_id
         |       JOIN ne ON p.existing_id = ne.doc_id
         |ORDER BY incoming_id, existing_id""".stripMargin,

    // integer fixed-point PageRank, 10 unrolled iterations over the
    // q60 edge CTEs — replays Graph.pageRank's arithmetic verbatim
    "q167_pagerank" -> pageRankSql(10),

    // PMI collocations: q113's bigram chain, exact counts, one ln per
    // surviving pair rounded to 6; ordering (pmi desc, w1, w2) total
    "q168_pmi_collocations" ->
      s"""WITH tok AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
         |  unnest(tk) AS w
         | FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)),
         |big AS (
         | SELECT doc_id, w AS w1,
         |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         | FROM tok),
         |c2 AS (
         | SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big
         | WHERE w2 IS NOT NULL GROUP BY 1, 2 HAVING count(*) >= 20),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |mm AS (
         | SELECT CAST(sum(greatest(c - 1, 0)) AS BIGINT) AS m
         | FROM (SELECT doc_id, count(*) AS c FROM tok GROUP BY 1)),
         |sc AS (
         | SELECT c2.w1, c2.w2, c12,
         |  round(ln((CAST(c12 AS DOUBLE) / m) /
         |   ((CAST(a.c1 AS DOUBLE) / n) * (CAST(b.c1 AS DOUBLE) / n))), 6)
         |   AS pmi
         | FROM c2 JOIN c1 a ON c2.w1 = a.w JOIN c1 b ON c2.w2 = b.w, nn, mm),
         |r AS (
         | SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)
         |  AS rnk
         | FROM sc)
         |SELECT CAST(rnk AS INT) AS rnk, w1, w2, c12, pmi
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // moment battery: exact DECIMAL(38,0) power sums, central moments
    // via raw-moment expansion in IDENTICAL double expressions
    "q169_moment_stats" ->
      s"""WITH d AS (
         | SELECT source AS g, CAST(len(${toksSql("text")}) AS BIGINT) AS v
         | FROM documents),
         |s AS (
         | SELECT g, CAST(count(*) AS BIGINT) AS n,
         |  sum(CAST(v AS DECIMAL(38,0))) AS s1,
         |  sum(CAST(v * v AS DECIMAL(38,0))) AS s2,
         |  sum(CAST(v * v * v AS DECIMAL(38,0))) AS s3,
         |  sum(CAST(v * v * v * v AS DECIMAL(38,0))) AS s4
         | FROM d GROUP BY 1),
         |c AS (
         | SELECT g, n, CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
         |  CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
         |  CAST(s4 AS DOUBLE) AS s4d
         | FROM s),
         |e AS (
         | SELECT g, n, s1d / nd AS m, s2d / nd AS r2, s3d / nd AS r3,
         |  s4d / nd AS r4
         | FROM c),
         |f AS (
         | SELECT g, n, m, r2 - m * m AS m2,
         |  r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
         |  r4 - 4.0 * m * r3 + 6.0 * m * m * r2 - 3.0 * m * m * m * m AS m4
         | FROM e)
         |SELECT g AS source, n, m AS mean, sqrt(m2) AS std,
         | CASE WHEN m2 = 0 THEN 0.0
         |  ELSE m3 / (m2 * sqrt(m2)) END AS skewness,
         | CASE WHEN m2 = 0 THEN 0.0
         |  ELSE m4 / (m2 * m2) - 3.0 END AS kurtosis_excess
         |FROM f ORDER BY source""".stripMargin,

    // word2vec subsampling: keep iff ph(doc:pos) % 1e6 < floor(sqrt(
    // t·N/c)·1e6); pos is 0-based (generate_subscripts - 1 == Spark's
    // posexplode)
    "q170_token_subsample" ->
      s"""WITH tok AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) - 1 AS BIGINT) AS pos,
         |  unnest(tk) AS w
         | FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |kp AS (
         | SELECT w, least(CAST(floor(sqrt(CAST(n AS DOUBLE) * 1 /
         |  (CAST(c AS DOUBLE) * 10000)) * 1e6) AS BIGINT), 1000000)
         |  AS keep_ppm
         | FROM c1, nn),
         |k AS (
         | SELECT tok.w, keep_ppm,
         |  CASE WHEN ${ph("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)", 29)}
         |   % 1000000 < keep_ppm THEN 1 ELSE 0 END AS kept
         | FROM tok JOIN kp ON tok.w = kp.w),
         |g AS (
         | SELECT w AS token, keep_ppm, CAST(count(*) AS BIGINT) AS n_before,
         |  CAST(sum(kept) AS BIGINT) AS n_after
         | FROM k GROUP BY 1, 2),
         |r AS (
         | SELECT *, row_number() OVER (ORDER BY n_before DESC, token ASC)
         |  AS rnk
         | FROM g)
         |SELECT CAST(rnk AS INT) AS rnk, token, n_before, n_after, keep_ppm
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // token entropy: per-term round(p·ln p, 6) through DECIMAL(25,6),
    // per-doc H to DECIMAL(20,6) before the group mean (q99 ladder)
    "q171_token_entropy" ->
      s"""WITH tf AS (
         | SELECT g, doc_id, w, CAST(count(*) AS BIGINT) AS tf
         | FROM (SELECT source AS g, doc_id,
         |        unnest(${toksSql("lower(text)")}) AS w FROM documents)
         | GROUP BY 1, 2, 3),
         |pd AS (
         | SELECT g, doc_id,
         |  CAST(-sum(CAST(round((CAST(tf AS DOUBLE) / CAST(n AS DOUBLE)) *
         |   ln(CAST(tf AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |   AS DECIMAL(25,6))) AS DOUBLE) AS h
         | FROM (SELECT g, doc_id, tf,
         |        sum(tf) OVER (PARTITION BY g, doc_id) AS n FROM tf)
         | GROUP BY 1, 2)
         |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CAST(round(h, 6) AS DECIMAL(20,6))) AS DOUBLE)
         |  / CAST(count(*) AS DOUBLE) AS mean_entropy,
         | round(min(h), 6) AS min_entropy, round(max(h), 6) AS max_entropy,
         | CAST(count(*) FILTER (WHERE h < 1.5) AS BIGINT) AS n_low
         |FROM pd GROUP BY 1 ORDER BY source""".stripMargin,

    // embedding centroid outliers: exact DECIMAL centroid means,
    // round-12 DECIMAL squared deviations, quantile_cont med/MAD
    // (q44 percentile parity), fences on UNROUNDED values
    "q172_embedding_outliers" ->
      s"""WITH ev AS (
         | SELECT label AS g, vec_id AS id,
         |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         |  unnest(embedding) AS x
         | FROM embeddings WHERE embedding IS NOT NULL),
         |cent AS (
         | SELECT g, i,
         |  CAST(sum(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(25,6)))
         |   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
         | FROM ev GROUP BY 1, 2),
         |dist AS (
         | SELECT ev.g, ev.id,
         |  sqrt(CAST(sum(CAST(floor((CAST(x AS DOUBLE) - c) *
         |   (CAST(x AS DOUBLE) - c) * 1e12 + 0.5) / 1e12
         |   AS DECIMAL(30,12))) AS DOUBLE))
         |   AS dist
         | FROM ev JOIN cent ON ev.g = cent.g AND ev.i = cent.i
         | GROUP BY 1, 2),
         |medt AS (SELECT g, quantile_cont(dist, 0.5) AS med FROM dist GROUP BY 1),
         |dev AS (
         | SELECT dist.g, dist, abs(dist - med) AS adev, med
         | FROM dist JOIN medt ON dist.g = medt.g),
         |madt AS (SELECT g, med, quantile_cont(adev, 0.5) AS mad
         |         FROM dev GROUP BY 1, 2)
         |SELECT dev.g AS label, madt.med AS med,
         | madt.mad AS mad, CAST(count(*) AS BIGINT) AS n,
         | CAST(count(*) FILTER (WHERE adev > 3.0 * madt.mad) AS BIGINT)
         |  AS n_outliers
         |FROM dev JOIN madt ON dev.g = madt.g
         |GROUP BY 1, madt.med, madt.mad ORDER BY label""".stripMargin,

    "q173_hits" -> hitsSql(8),

    // Kneser-Ney bigram LM: q113's bigram chain with continuation-count
    // backoff — every count integer, d = 3/4 dyadic, identical
    // expression tree, ln terms rounded to 6 and DECIMAL-summed
    "q174_kneser_ney" ->
      s"""WITH tok AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
         |  unnest(tk) AS w
         | FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)),
         |big AS (
         | SELECT doc_id, w AS w1,
         |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         | FROM tok),
         |tf2 AS (
         | SELECT doc_id, w1, w2, count(*) AS tf2 FROM big
         | WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, CAST(sum(tf2) AS BIGINT) AS c2 FROM tf2 GROUP BY 1, 2),
         |c1f AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |        CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
         |n1b AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
         |nbi AS (SELECT CAST(count(*) AS BIGINT) AS nbi FROM c2),
         |term AS (
         | SELECT doc_id, tf2,
         |  CAST(round(tf2 * ln(
         |    greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
         |    + (0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))
         |      * (CAST(n1b AS DOUBLE) / CAST(nbi AS DOUBLE))), 6)
         |   AS DECIMAL(25,6)) AS t
         | FROM tf2
         | JOIN c2 USING (w1, w2)
         | JOIN c1f USING (w1)
         | JOIN n1b USING (w2)
         | CROSS JOIN nbi),
         |d AS (
         | SELECT doc_id, CAST(sum(tf2) AS BIGINT) AS n_bigrams,
         |  CAST(sum(t) AS DOUBLE)
         |    / CAST(CAST(sum(tf2) AS BIGINT) AS DOUBLE) AS kn_logprob_mean
         | FROM term GROUP BY 1)
         |SELECT doc_id, n_bigrams, kn_logprob_mean,
         | kn_logprob_mean >= -10.0 AS keep
         |FROM d ORDER BY doc_id""".stripMargin,

    // Heaps fit: global position = doc cumulative offset + 1-based
    // in-doc position (Spark's 0-based posexplode + 1); V = rank of
    // first occurrence; then q162's micro-integer OLS verbatim
    "q175_heaps_fit" ->
      s"""WITH tok AS (
         | SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
         |  unnest(tk) AS w
         | FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cnt
         |        FROM tok GROUP BY 1),
         |off AS (
         | SELECT doc_id, CAST(coalesce(sum(cnt) OVER (ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |  AS noff
         | FROM cnt),
         |fp AS (
         | SELECT w, min(noff + pos) AS fp
         | FROM tok JOIN off USING (doc_id) GROUP BY w),
         |pts AS (SELECT fp, row_number() OVER (ORDER BY fp) AS v FROM fp),
         |m AS (
         | SELECT CAST(round(round(ln(fp), 6) * 1e6) AS BIGINT) AS x,
         |        CAST(round(round(ln(v), 6) * 1e6) AS BIGINT) AS y
         | FROM pts),
         |s AS (
         | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         | FROM m),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
         |c AS (
         | SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
         | FROM s),
         |e AS (
         | SELECT n, nd, sxd, syd,
         |  nd * sxyd - sxd * syd AS num, nd * sxxd - sxd * sxd AS den,
         |  nd * syyd - syd * syd AS deny
         | FROM c)
         |SELECT n_tokens, CAST(n AS BIGINT) AS vocab,
         | CASE WHEN den = 0 THEN 0.0 ELSE num / den END AS beta,
         | (syd - (CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * sxd)
         |   / nd / 1e6 AS intercept,
         | CASE WHEN den * deny = 0 THEN 1.0
         |  ELSE num * num / (den * deny) END AS r2
         |FROM e, nt ORDER BY n_tokens""".stripMargin,

    // dedup ladder: the q61 pair chain corpus + planted exact (+50M) and
    // recased (+60M) copies; rung 1/2 = keep-min per (md5, normalized
    // md5), rung 3 = recursive min-label CC over pairs restricted to
    // surviving endpoints, then three 1-row counts stacked
    "q176_dedup_ladder" ->
      s"""WITH RECURSIVE $q61Chain,
         |lc AS (
         | SELECT doc_id, text FROM corpus
         | UNION ALL
         | SELECT doc_id + 50000000, text FROM corpus WHERE doc_id % 12 = 0
         | UNION ALL
         | SELECT doc_id + 60000000, '  ' || upper(text) || ' ??'
         | FROM corpus WHERE doc_id % 14 = 0),
         |r1 AS (
         | SELECT doc_id, text FROM (
         |  SELECT doc_id, text,
         |   min(doc_id) OVER (PARTITION BY md5(text)) AS m
         |  FROM lc) WHERE doc_id = m),
         |r2 AS (
         | SELECT doc_id, text FROM (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(
         |   trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))))
         |   AS m
         |  FROM r1) WHERE doc_id = m),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | WHERE id_a IN (SELECT doc_id FROM r2)
         |  AND id_b IN (SELECT doc_id FROM r2)
         | UNION
         | SELECT id_b, id_a FROM pairs
         | WHERE id_a IN (SELECT doc_id FROM r2)
         |  AND id_b IN (SELECT doc_id FROM r2)),
         |reach(id, lbl) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |r3 AS (
         | SELECT doc_id FROM r2 LEFT JOIN labels ON doc_id = labels.id
         | WHERE coalesce(cluster_id, doc_id) = doc_id),
         |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM lc),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM r1),
         |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM r2),
         |n3 AS (SELECT CAST(count(*) AS BIGINT) AS n3 FROM r3)
         |SELECT rung, docs_in, docs_in - survivors AS removed, survivors
         |FROM (
         | SELECT '1_exact' AS rung, n0 AS docs_in, n1 AS survivors FROM n0, n1
         | UNION ALL
         | SELECT '2_normalized', n1, n2 FROM n1, n2
         | UNION ALL
         | SELECT '3_near', n2, n3 FROM n2, n3)
         |ORDER BY rung""".stripMargin,

    // best-quality representative: pair chain + recursive CC + the
    // integer quality heuristic; the rep is first_value over
    // (quality desc, id asc) == the Spark struct-max argmax
    "q177_best_rep" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION
         | SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |q AS (
         | SELECT doc_id, CAST(${qualitySql("text")} AS INT) AS quality
         | FROM corpus),
         |fam AS (
         | SELECT doc_id, coalesce(cluster_id, doc_id) AS family, quality
         | FROM q LEFT JOIN labels ON doc_id = labels.id),
         |rk AS (
         | SELECT doc_id, family, quality,
         |  first_value(doc_id) OVER (PARTITION BY family
         |    ORDER BY quality DESC, doc_id ASC) AS rep
         | FROM fam)
         |SELECT doc_id, family, quality, doc_id = rep AS is_rep
         |FROM rk ORDER BY doc_id""".stripMargin,

    // truncation loss: exact integer kept-token sums over the 4-row
    // context grid; one double division at the end
    "q178_truncation_loss" ->
      s"""WITH d AS (
         | SELECT CAST(${tokenCountSql("text")} AS BIGINT) AS n FROM documents),
         |g AS (SELECT unnest([16, 32, 64, 128]) AS ctx_len),
         |a AS (
         | SELECT ctx_len, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         |   AS docs_truncated,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(sum(least(n, CAST(ctx_len AS BIGINT))) AS BIGINT) AS kept_tokens
         | FROM d, g GROUP BY 1)
         |SELECT ctx_len, n_docs, docs_truncated, total_tokens, kept_tokens,
         | CAST(total_tokens - kept_tokens AS DOUBLE) * 100.0
         |   / CAST(total_tokens AS DOUBLE) AS waste_pct
         |FROM a ORDER BY ctx_len""".stripMargin,

    // SFT assembly: q142's session CTEs, turn strings from engine-stable
    // values only (type label + BIGINT id), char-offset cumsum, md5 of
    // the ordered concatenation per session
    "q179_sft_assembly" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |roled AS (
        | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, ts,
        |  event_id,
        |  CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user'
        |       ELSE 'assistant' END AS role, event_type
        | FROM sessions),
        |turns AS (
        | SELECT user_id, session_seq, ts, event_id, role,
        |  '<|' || role || '|>' || event_type || '#'
        |   || CAST(event_id AS VARCHAR) || '<|end|>' AS turn
        | FROM roled),
        |sp AS (
        | SELECT user_id, session_seq, role,
        |  CAST(row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts, event_id) AS INT) AS turn_idx,
        |  CAST(coalesce(sum(length(turn)) OVER (
        |    PARTITION BY user_id, session_seq ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS t_start,
        |  CAST(length(turn) AS BIGINT) AS tl
        | FROM turns),
        |dg AS (
        | SELECT user_id, session_seq,
        |  md5(string_agg(turn, '' ORDER BY ts, event_id)) AS assembled_digest
        | FROM turns GROUP BY 1, 2)
        |SELECT user_id, session_seq, turn_idx, role, t_start,
        | t_start + tl AS t_end, role = 'assistant' AS loss, assembled_digest
        |FROM sp JOIN dg USING (user_id, session_seq)
        |ORDER BY user_id, session_seq, turn_idx""".stripMargin,

    // selection curve: integer quality/token cells over the broadcast
    // threshold grid; two double divisions at the end
    "q180_selection_curve" ->
      s"""WITH d AS (
         | SELECT CAST(${qualitySql("text")} AS INT) AS q,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS n
         | FROM documents),
         |g AS (SELECT unnest([0, 25, 50, 75, 100]) AS threshold),
         |a AS (
         | SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         |   AS docs_kept,
         |  CAST(sum(n) AS BIGINT) AS tot,
         |  CAST(sum(CASE WHEN q >= threshold THEN n ELSE 0 END) AS BIGINT)
         |   AS tokens_kept,
         |  CAST(sum(CASE WHEN q >= threshold THEN q ELSE 0 END) AS BIGINT)
         |   AS qsum
         | FROM d, g GROUP BY 1)
         |SELECT threshold, n_docs, docs_kept, tokens_kept,
         | CAST(tokens_kept AS DOUBLE) / CAST(tot AS DOUBLE)
         |  AS token_share,
         | CASE WHEN docs_kept = 0 THEN 0.0
         |  ELSE CAST(qsum AS DOUBLE) / CAST(docs_kept AS DOUBLE)
         |  END AS mean_quality_kept
         |FROM a ORDER BY threshold""".stripMargin,

    // vocab drift: exact tf counts per side, add-one smoothing over the
    // union vocabulary, one ln per surviving token (identical AST)
    "q181_vocab_drift" -> {
      val tokCte = (pred: String) =>
        s"SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents WHERE $pred"
      s"""WITH a AS (${tokCte("doc_id % 2 = 0")}),
         |nb0 AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         | UNION ALL
         | ${Queries.driftPlantedSql}),
         |b AS (SELECT unnest(${toksSql("lower(text)")}) AS token FROM nb0),
         |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS c_a FROM a GROUP BY 1),
         |cbt AS (SELECT token, CAST(count(*) AS BIGINT) AS c_b FROM b GROUP BY 1),
         |j AS (
         | SELECT coalesce(ca.token, cbt.token) AS token,
         |  coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
         | FROM ca FULL JOIN cbt ON ca.token = cbt.token),
         |tot AS (
         | SELECT CAST(sum(c_a) AS BIGINT) AS na, CAST(sum(c_b) AS BIGINT) AS nb,
         |  CAST(count(*) AS BIGINT) AS v
         | FROM j),
         |sc AS (
         | SELECT token, c_a, c_b,
         |  round(ln(((CAST(c_b AS DOUBLE) + 1.0)
         |     / (CAST(nb AS DOUBLE) + CAST(v AS DOUBLE)))
         |    / ((CAST(c_a AS DOUBLE) + 1.0)
         |     / (CAST(na AS DOUBLE) + CAST(v AS DOUBLE)))), 6) AS logratio
         | FROM j, tot WHERE c_b >= 5),
         |r AS (
         | SELECT *, row_number() OVER (ORDER BY logratio DESC, token ASC)
         |  AS rnk
         | FROM sc)
         |SELECT CAST(rnk AS INT) AS rnk, token, c_a, c_b, logratio
         |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin
    },

    // split leakage: q105's split CASE over the quote-extended corpus,
    // distinct 8-gram shingles per doc, presence flags per shingle,
    // then the four bounded counts
    "q182_split_leakage" ->
      s"""WITH RECURSIVE $q61Chain,
         |qd AS (
         | SELECT doc_id + 70000000 AS doc_id,
         |  array_to_string(list_slice(tk, 4, 15), ' ') || ' qz1 qz2' AS text
         | FROM (SELECT doc_id, ${toksSql("text")} AS tk FROM corpus
         |       WHERE doc_id % 18 = 0)),
         |fullc AS (
         | SELECT doc_id, text FROM corpus
         | UNION ALL
         | SELECT doc_id, text FROM qd),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |sp AS (
         | SELECT doc_id, text,
         |  CASE WHEN ${ph("CAST(coalesce(cluster_id, doc_id) AS VARCHAR)", 99)}
         |    % 10000 < 8000 THEN 'train' ELSE 'eval' END AS sp
         | FROM fullc LEFT JOIN labels ON doc_id = labels.id),
         |tokd AS (SELECT doc_id, sp, ${toksSql("text")} AS tk FROM sp),
         |lkg AS (
         | SELECT doc_id, sp, unnest(list_distinct(
         |   CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
         |        ELSE list_transform(range(1, len(tk) - 6),
         |               i -> array_to_string(list_slice(tk, i, i + 7), ' '))
         |   END)) AS ng
         | FROM tokd),
         |pres AS (
         | SELECT ng, max(CASE WHEN sp = 'train' THEN 1 ELSE 0 END) AS tr,
         |        max(CASE WHEN sp = 'eval' THEN 1 ELSE 0 END) AS ev
         | FROM lkg GROUP BY 1),
         |shared AS (SELECT ng FROM pres WHERE tr = 1 AND ev = 1),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_shared_ngrams FROM shared),
         |nl AS (
         | SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_leaking_eval_docs
         | FROM lkg WHERE sp = 'eval' AND ng IN (SELECT ng FROM shared)),
         |nb AS (
         | SELECT
         |  CAST(sum(CASE WHEN sp = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_train_docs,
         |  CAST(sum(CASE WHEN sp = 'eval' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_eval_docs
         | FROM sp)
         |SELECT n_train_docs, n_eval_docs, n_shared_ngrams, n_leaking_eval_docs
         |FROM nb, ns, nl""".stripMargin,

    // OOV coverage: q93's top-40 vocab, left-join flag per token,
    // per-doc then bounded per-source aggregation
    "q183_oov_coverage" ->
      s"""WITH vocab AS (
         | SELECT token FROM (
         |  SELECT token, count(*) AS freq
         |  FROM (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents)
         |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 16)),
         |tok AS (
         | SELECT doc_id, source, unnest(${toksSql("lower(text)")}) AS token
         | FROM documents),
         |fl AS (
         | SELECT doc_id, source,
         |  CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END AS oov
         | FROM tok LEFT JOIN vocab ON tok.token = vocab.token),
         |pd AS (
         | SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(oov) AS BIGINT) AS o
         | FROM fl GROUP BY 1, 2),
         |a AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(sum(o) AS BIGINT) AS oov_tokens,
         |  CAST(sum(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_lossless_docs
         | FROM pd GROUP BY 1)
         |SELECT source, n_docs, total_tokens, oov_tokens,
         | CAST(oov_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         |  AS oov_rate,
         | n_lossless_docs
         |FROM a ORDER BY source""".stripMargin,

    // frequent-line scrub: planted footers via the SHARED literals,
    // doc-frequency per distinct (doc, line), ordered reassembly;
    // string_agg skips the NULL (dropped) lines like collect_list
    "q184_line_scrub" -> {
      val f0 = Queries.footerLines(0)
      val f1 = Queries.footerLines(1)
      s"""WITH d AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id % 6 = 0
         |        THEN text || chr(10) || '$f0' || chr(10) || '$f1'
         |       WHEN doc_id % 15 = 0 THEN text || chr(10) || '$f0'
         |       ELSE text END AS text
         | FROM documents),
         |l AS (
         | SELECT doc_id, CAST(generate_subscripts(ls, 1) AS INT) AS pos,
         |  unnest(ls) AS line
         | FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d)),
         |fq AS (
         | SELECT line, CAST(count(*) AS BIGINT) AS dfq
         | FROM (SELECT DISTINCT doc_id, line FROM l) GROUP BY 1),
         |fl AS (SELECT doc_id, pos, l.line AS line, dfq
         |       FROM l JOIN fq ON l.line = fq.line)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         | CAST(sum(CASE WHEN dfq > 5 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dropped,
         | coalesce(string_agg(CASE WHEN dfq <= 5 THEN line END, chr(10)
         |   ORDER BY pos), '') AS text_clean
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // datasheet: one pass of exact cells + a language argmax replayed
    // as first_value over (count desc, lang desc) — the struct-max order
    "q185_datasheet" ->
      s"""WITH c AS (
         | SELECT doc_id, text, lang, source FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000, text, lang, source FROM documents
         | WHERE doc_id % 10 = 0),
         |b AS (
         | SELECT source, md5(text) AS dg,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS n,
         |  CAST(strlen(text) AS BIGINT) AS bb,
         |  CAST(${qualitySql("text")} AS BIGINT) AS q
         | FROM c),
         |m AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(sum(bb) AS BIGINT) AS total_bytes,
         |  CAST(sum(q) AS BIGINT) AS qsum,
         |  CAST(count(DISTINCT dg) AS BIGINT) AS ndist
         | FROM b GROUP BY 1),
         |lc AS (
         | SELECT source, lang, CAST(count(*) AS BIGINT) AS lcnt
         | FROM c GROUP BY 1, 2),
         |la AS (
         | SELECT source,
         |  first_value(lang) OVER (PARTITION BY source
         |    ORDER BY lcnt DESC, lang DESC) AS top_lang,
         |  first_value(lcnt) OVER (PARTITION BY source
         |    ORDER BY lcnt DESC, lang DESC) AS top_cnt,
         |  sum(lcnt) OVER (PARTITION BY source) AS ltot
         | FROM lc),
         |ld AS (SELECT DISTINCT source, top_lang, top_cnt, ltot FROM la)
         |SELECT m.source AS source, n_docs, total_tokens, total_bytes,
         | CAST(total_bytes AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         |  AS bytes_per_token,
         | CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |  AS mean_quality,
         | n_docs - ndist AS n_exact_dup_docs,
         | top_lang,
         | CAST(top_cnt AS DOUBLE) / CAST(ltot AS DOUBLE)
         |  AS top_lang_share
         |FROM m JOIN ld ON m.source = ld.source
         |ORDER BY m.source""".stripMargin,

    // IVF recall curve: seeded centroids are corpus ROWS (first 16 by
    // id), so the whole approximate search replays — corpus/query
    // centroid assignment (cosine argmax, tie min id), probe ranks,
    // per-nprobe probed-list top-5, brute-force hit counts
    "q186_recall_curve" ->
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         | WHERE vec_id < 10),
         |c AS (
         | SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0),
         |cents AS (
         | SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0
         | ORDER BY vec_id LIMIT 16),
         |cc AS (
         | SELECT neighbor_id, cent_id,
         |  CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS csim
         | FROM (
         |  SELECT neighbor_id, cent_id, ${dotSql("cv", "ce")} AS dp,
         |   ${normSql("cv")} * ${normSql("ce")} AS np
         |  FROM c, cents)),
         |casg AS (
         | SELECT neighbor_id, cent_id FROM (
         |  SELECT neighbor_id, cent_id, row_number() OVER (
         |    PARTITION BY neighbor_id ORDER BY csim DESC, cent_id ASC) AS rn
         |  FROM cc) WHERE rn = 1),
         |qc AS (
         | SELECT query_id, cent_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS qrn
         | FROM (
         |  SELECT query_id, cent_id,
         |   CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS csim
         |  FROM (
         |   SELECT query_id, cent_id, ${dotSql("qv", "ce")} AS dp,
         |    ${normSql("qv")} * ${normSql("ce")} AS np
         |   FROM q, cents))),
         |vis AS (
         | SELECT s.query_id, s.neighbor_id, qc.qrn AS need,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM (
         |  SELECT q.query_id, c.neighbor_id,
         |   ${dotSql("qv", "cv")} AS dot_p,
         |   ${normSql("qv")} * ${normSql("cv")} AS norm_p
         |  FROM q, c WHERE c.neighbor_id <> q.query_id) s
         | JOIN casg ON casg.neighbor_id = s.neighbor_id
         | JOIN qc ON qc.query_id = s.query_id AND qc.cent_id = casg.cent_id),
         |pr AS (SELECT unnest([1, 2, 4, 16]) AS nprobe),
         |rk AS (
         | SELECT nprobe, query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY nprobe, query_id ORDER BY sim DESC, neighbor_id ASC)
         |  AS rnk
         | FROM vis, pr WHERE need <= nprobe),
         |topv AS (SELECT nprobe, query_id, neighbor_id FROM rk WHERE rnk <= 5),
         |bsc AS (
         | SELECT query_id, neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM (
         |  SELECT query_id, neighbor_id, ${dotSql("qv", "cv")} AS dot_p,
         |   ${normSql("qv")} * ${normSql("cv")} AS norm_p
         |  FROM q, c WHERE neighbor_id <> query_id)),
         |brute AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
         |  FROM bsc) WHERE rnk <= 5),
         |hits AS (
         | SELECT nprobe, query_id, CAST(count(*) AS BIGINT) AS n_hits
         | FROM topv JOIN brute USING (query_id, neighbor_id) GROUP BY 1, 2),
         |grid AS (SELECT nprobe, query_id FROM pr, q)
         |SELECT grid.nprobe AS nprobe, grid.query_id AS query_id,
         | CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         | round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 5.0, 6) AS recall
         |FROM grid LEFT JOIN hits
         | ON grid.nprobe = hits.nprobe AND grid.query_id = hits.query_id
         |ORDER BY grid.nprobe, grid.query_id""".stripMargin,

    // persisted line-df table: the oracle recomputes the corpus-side
    // df counts and the batch scrub from text — a green hash proves
    // batch-vs-table == batch-vs-corpus on the line rung
    "q187_line_table" -> {
      val f0 = Queries.footerLines(0)
      val f1 = Queries.footerLines(1)
      s"""WITH ex AS (
         | SELECT doc_id, text || chr(10) || '$f0' || chr(10) || '$f1' AS text
         | FROM documents WHERE doc_id % 6 = 0),
         |exl AS (
         | SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
         | FROM ex),
         |tdf AS (SELECT line, CAST(count(*) AS BIGINT) AS line_df
         |        FROM exl GROUP BY 1),
         |inc AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id % 12 = 3 THEN text || chr(10) || '$f0'
         |       ELSE text END AS text
         | FROM documents WHERE doc_id % 6 = 3),
         |l AS (
         | SELECT doc_id, CAST(generate_subscripts(ls, 1) AS INT) AS pos,
         |  unnest(ls) AS line
         | FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inc)),
         |fl AS (
         | SELECT doc_id, pos, l.line AS line, coalesce(line_df, 0) AS dfq
         | FROM l LEFT JOIN tdf ON l.line = tdf.line)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         | CAST(sum(CASE WHEN dfq > 5 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dropped,
         | coalesce(string_agg(CASE WHEN dfq <= 5 THEN line END, chr(10)
         |   ORDER BY pos), '') AS text_clean
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // leakage-safe k-fold: the q105 chain with fold = ph(rep) % 5
    "q188_fold_split" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |rep AS (
         | SELECT doc_id, coalesce(cluster_id, doc_id) AS rep
         | FROM corpus LEFT JOIN labels ON doc_id = labels.id)
         |SELECT doc_id, rep,
         | CAST(${ph("CAST(rep AS VARCHAR)", 41)} % 5 AS INT) AS fold
         |FROM rep ORDER BY doc_id""".stripMargin,

    // contamination sweep: q85's chains at k in {4, 8, 13}, one summary
    // row per k
    "q189_contamination_sweep" -> {
      def shgK(tokCte: String, pfx: String, k: Int) =
        s"""${pfx}shg$k AS (
           | SELECT doc_id, CASE WHEN len(tk) < $k THEN [array_to_string(tk, ' ')]
           |   ELSE list_transform(range(1, len(tk) - ${k - 2}),
           |          i -> array_to_string(list_slice(tk, i, i + ${k - 1}), ' ')) END AS sh
           | FROM $tokCte)""".stripMargin
      val ks = Seq(4, 8, 13)
      val chains = ks.map { k =>
        s"""${shgK("btok", "b", k)},
           |${shgK("ttok", "t", k)},
           |bset$k AS (SELECT DISTINCT unnest(sh) AS sh FROM bshg$k),
           |texp$k AS (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM tshg$k),
           |agg$k AS (
           | SELECT CAST(count(*) AS BIGINT) AS n_contaminated_docs,
           |  CAST(sum(n) AS BIGINT) AS total_hits
           | FROM (SELECT doc_id, count(*) AS n FROM texp$k
           |       JOIN bset$k USING (sh) GROUP BY doc_id))""".stripMargin
      }.mkString(",\n")
      val sel = ks.map(k =>
        s"SELECT $k AS k, n_contaminated_docs, total_hits FROM agg$k")
        .mkString("\nUNION ALL\n")
      s"""WITH bench AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |train AS (
         | SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
         | UNION ALL
         | ${plantedSql("documents", "true", 50, 500000L)}),
         |btok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM bench),
         |ttok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM train),
         |$chains
         |$sel
         |ORDER BY k""".stripMargin
    },

    // LSH S-curve planner: the closed-form candidate probability on the
    // same double grid — round(.,6) masks any last-ulp pow divergence
    "q190_lsh_planner" ->
      """WITH cfg AS (
        | SELECT * FROM (VALUES (32, 8), (32, 4), (16, 4))
        |  AS t(num_hashes, bands)),
        |c2 AS (
        | SELECT num_hashes, bands,
        |  CAST(num_hashes // bands AS BIGINT) AS rows_per_band
        | FROM cfg),
        |g AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |      AS sim)
        |SELECT num_hashes, bands, rows_per_band, sim,
        | round(1.0 - power(1.0 - power(sim, CAST(rows_per_band AS DOUBLE)),
        |   CAST(bands AS DOUBLE)), 6) AS p_candidate
        |FROM c2, g ORDER BY num_hashes, bands, sim""".stripMargin,

    // token ledger: the q176 corpus + rungs with token sums and the
    // quality gate first — stage rows stacked from 1-row counts
    "q191_token_ledger" ->
      s"""WITH RECURSIVE $q61Chain,
         |lc AS (
         | SELECT doc_id, text FROM corpus
         | UNION ALL
         | SELECT doc_id + 50000000, text FROM corpus WHERE doc_id % 12 = 0
         | UNION ALL
         | SELECT doc_id + 60000000, '  ' || upper(text) || ' ??'
         | FROM corpus WHERE doc_id % 14 = 0),
         |lt AS (
         | SELECT doc_id, text, CAST(${tokenCountSql("text")} AS BIGINT) AS n
         | FROM lc),
         |r1 AS (SELECT * FROM lt WHERE ${qualitySql("text")} >= 50),
         |r2 AS (
         | SELECT doc_id, text, n FROM (
         |  SELECT doc_id, text, n,
         |   min(doc_id) OVER (PARTITION BY md5(text)) AS m
         |  FROM r1) WHERE doc_id = m),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | WHERE id_a IN (SELECT doc_id FROM r2)
         |  AND id_b IN (SELECT doc_id FROM r2)
         | UNION
         | SELECT id_b, id_a FROM pairs
         | WHERE id_a IN (SELECT doc_id FROM r2)
         |  AND id_b IN (SELECT doc_id FROM r2)),
         |reach(id, lbl) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |r3 AS (
         | SELECT r2.doc_id, n FROM r2 LEFT JOIN labels ON doc_id = labels.id
         | WHERE coalesce(cluster_id, doc_id) = doc_id),
         |c0 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM lt),
         |c1 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM r1),
         |c2c AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM r2),
         |c3 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM r3)
         |SELECT stage, n_docs, n_tokens FROM (
         | SELECT '0_raw' AS stage, d AS n_docs, t AS n_tokens FROM c0
         | UNION ALL SELECT '1_quality', d, t FROM c1
         | UNION ALL SELECT '2_exact', d, t FROM c2c
         | UNION ALL SELECT '3_near', d, t FROM c3)
         |ORDER BY stage""".stripMargin,

    // embedding coverage: two anti-join counts + two totals, one row
    "q192_embedding_coverage" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |v AS (
        | SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0
        | UNION ALL
        | SELECT vec_id + 900000 FROM embeddings WHERE vec_id % 11 = 0),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM v),
        |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_without_vec
        |       FROM d WHERE doc_id NOT IN (SELECT vec_id FROM v)),
        |orp AS (SELECT CAST(count(*) AS BIGINT) AS n_orphan_vectors
        |        FROM v WHERE vec_id NOT IN (SELECT doc_id FROM d))
        |SELECT n_docs, n_vectors, n_docs_without_vec, n_orphan_vectors
        |FROM nd, nv, mi, orp""".stripMargin,

    // hash uniformity: full 256-bucket grid (empty buckets contribute
    // exp), per-bucket chi terms rounded to 6 and DECIMAL-summed
    "q193_hash_uniformity" ->
      s"""WITH occ AS (
         | SELECT ${ph("CAST(c_name AS VARCHAR)", 12)} % 256 AS b,
         |  CAST(count(*) AS BIGINT) AS cc
         | FROM customer GROUP BY 1),
         |grid AS (SELECT unnest(range(0, 256)) AS b),
         |cnts AS (
         | SELECT grid.b AS b, CAST(coalesce(cc, 0) AS BIGINT) AS c
         | FROM grid LEFT JOIN occ ON grid.b = occ.b),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnts),
         |terms AS (
         | SELECT c, n,
         |  CAST(floor((CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 256.0)
         |    * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 256.0)
         |    / (CAST(n AS DOUBLE) / 256.0) * 1e6 + 0.5) / 1e6
         |   AS DECIMAL(25,6)) AS term
         | FROM cnts, tot)
         |SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_buckets,
         | min(c) AS min_count, max(c) AS max_count,
         | round(CAST(sum(term) AS DOUBLE), 6) AS chi2
         |FROM terms ORDER BY n""".stripMargin,

    // quality ablation: the four heuristic booleans replayed per doc,
    // one bounded agg, four stacked rows
    "q194_quality_ablation" ->
      s"""WITH d AS (
         | SELECT
         |  CASE WHEN ${tokenCountSql("text")} < 10 THEN 1 ELSE 0 END AS f1,
         |  CASE WHEN ${punctRatioSql("text")} > 0.10 THEN 1 ELSE 0 END AS f2,
         |  CASE WHEN ${stopwordRatioSql("text")} < 0.02
         |        OR ${stopwordRatioSql("text")} > 0.60 THEN 1 ELSE 0 END AS f3,
         |  CASE WHEN ${meanTokenLenSql("text")} < 2.0
         |        OR ${meanTokenLenSql("text")} > 12.0 THEN 1 ELSE 0 END AS f4,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS n
         | FROM (SELECT text FROM documents
         |       UNION ALL
         |       SELECT text FROM (${Queries.ablationPlantedSql}))),
         |d2 AS (SELECT *, f1 + f2 + f3 + f4 AS tot FROM d),
         |a AS (
         | SELECT
         |  CAST(sum(f1) AS BIGINT) AS s1, CAST(sum(f2) AS BIGINT) AS s2,
         |  CAST(sum(f3) AS BIGINT) AS s3, CAST(sum(f4) AS BIGINT) AS s4,
         |  CAST(sum(CASE WHEN f1 = 1 AND tot = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         |  CAST(sum(CASE WHEN f2 = 1 AND tot = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o2,
         |  CAST(sum(CASE WHEN f3 = 1 AND tot = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o3,
         |  CAST(sum(CASE WHEN f4 = 1 AND tot = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o4,
         |  CAST(sum(CASE WHEN f1 = 1 THEN n ELSE 0 END) AS BIGINT) AS t1,
         |  CAST(sum(CASE WHEN f2 = 1 THEN n ELSE 0 END) AS BIGINT) AS t2,
         |  CAST(sum(CASE WHEN f3 = 1 THEN n ELSE 0 END) AS BIGINT) AS t3,
         |  CAST(sum(CASE WHEN f4 = 1 THEN n ELSE 0 END) AS BIGINT) AS t4
         | FROM d2)
         |SELECT rule, n_fail, n_fail_only, tokens_in_failed FROM (
         | SELECT '1_short_doc' AS rule, s1 AS n_fail, o1 AS n_fail_only,
         |  t1 AS tokens_in_failed FROM a
         | UNION ALL SELECT '2_high_punct', s2, o2, t2 FROM a
         | UNION ALL SELECT '3_stopword_band', s3, o3, t3 FROM a
         | UNION ALL SELECT '4_token_len_band', s4, o4, t4 FROM a)
         |ORDER BY rule""".stripMargin,

    // Theil-Sen: daily counts, all pairwise slopes, exact medians
    // (quantile_cont == Spark percentile, the q110 convention)
    "q195_robust_trend" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |pts AS (
        | SELECT event_type,
        |  CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
        |  CAST(y AS DOUBLE) AS y
        | FROM daily),
        |slopes AS (
        | SELECT l.event_type AS event_type,
        |  (r.y - l.y) / (r.x - l.x) AS s
        | FROM pts l JOIN pts r
        |  ON l.event_type = r.event_type AND l.x < r.x),
        |sl AS (SELECT event_type, quantile_cont(s, 0.5) AS slope
        |       FROM slopes GROUP BY 1),
        |md AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_points,
        |  quantile_cont(x, 0.5) AS mx, quantile_cont(y, 0.5) AS my
        | FROM pts GROUP BY 1)
        |SELECT md.event_type AS event_type, n_points,
        | slope,
        | my - slope * mx AS intercept
        |FROM md JOIN sl ON md.event_type = sl.event_type
        |ORDER BY md.event_type""".stripMargin,

    // trimmed/winsorized means: exact percentile cuts, clamped/inside
    // summands rounded to 6 and DECIMAL-summed
    "q196_trimmed_stats" ->
      s"""WITH ev AS (
         | SELECT source AS g, CAST(${tokenCountSql("text")} AS DOUBLE) AS v
         | FROM documents),
         |cuts AS (
         | SELECT g, quantile_cont(v, 0.1) AS lo, quantile_cont(v, 0.9) AS hi
         | FROM ev GROUP BY 1),
         |j AS (
         | SELECT ev.g AS g, v, lo, hi,
         |  CAST(round(greatest(least(v, hi), lo), 6) AS DECIMAL(25,6)) AS w,
         |  CASE WHEN v >= lo AND v <= hi
         |   THEN CAST(round(v, 6) AS DECIMAL(25,6)) END AS t
         | FROM ev JOIN cuts ON ev.g = cuts.g)
         |SELECT g AS source, CAST(count(*) AS BIGINT) AS n,
         | lo AS lo_cut, hi AS hi_cut,
         | CAST(sum(t) AS DOUBLE) / CAST(count(t) AS DOUBLE)
         |  AS trimmed_mean,
         | CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS winsorized_mean
         |FROM j GROUP BY g, lo, hi ORDER BY source""".stripMargin,

    // provenance union: pair chain + recursive CC, then a per-family
    // sorted distinct-source record (the attribution dedup keeps)
    "q197_provenance_union" ->
      s"""WITH RECURSIVE $q61Chain,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |prov AS (
         | SELECT doc_id, source FROM documents WHERE doc_id % 4 = 0
         | UNION ALL
         | SELECT doc_id + 1000000, 'recrawl' FROM documents
         | WHERE doc_id % 20 = 0),
         |fam AS (
         | SELECT doc_id, source, coalesce(cluster_id, doc_id) AS rep_id
         | FROM prov LEFT JOIN labels ON doc_id = labels.id)
         |SELECT rep_id, CAST(count(*) AS BIGINT) AS n_members,
         | CAST(len(list_distinct(list(source))) AS INT) AS n_sources,
         | array_to_string(list_sort(list_distinct(list(source))), ',')
         |  AS sources
         |FROM fam GROUP BY rep_id ORDER BY rep_id""".stripMargin,

    // dedup savings: q116's corpus with bytes-weighted ranking
    "q198_dedup_savings" ->
      """WITH c AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0),
        |f AS (
        | SELECT md5(text) AS digest, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(min(strlen(text)) AS BIGINT) AS doc_bytes,
        |  CAST(min(doc_id) AS BIGINT) AS first_id
        | FROM c GROUP BY 1)
        |SELECT digest, n_copies, doc_bytes,
        | (n_copies - 1) * doc_bytes AS wasted_bytes, first_id
        |FROM f WHERE n_copies > 1
        |ORDER BY wasted_bytes DESC, digest ASC LIMIT 20""".stripMargin,

    // audit card: five one-pass audits as (metric, value) rows — the
    // vocab/OOV and chi2 snippets replay their q183/q193 chains
    "q199_audit_card" ->
      s"""WITH b AS (
         | SELECT CAST(count(*) AS BIGINT) AS nd,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS nt,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS dist
         | FROM documents),
         |vocab AS (
         | SELECT token FROM (
         |  SELECT token, count(*) AS freq
         |  FROM (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents)
         |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 16)),
         |tok AS (
         | SELECT doc_id, unnest(${toksSql("lower(text)")}) AS token
         | FROM documents),
         |fl AS (
         | SELECT doc_id, CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END AS oov
         | FROM tok LEFT JOIN vocab ON tok.token = vocab.token),
         |pd AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(oov) AS BIGINT) AS o
         | FROM fl GROUP BY 1),
         |ov AS (
         | SELECT CAST(sum(o) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
         |  AS oov_rate
         | FROM pd),
         |occ AS (
         | SELECT ${ph("CAST(doc_id AS VARCHAR)", 12)} % 256 AS bk,
         |  CAST(count(*) AS BIGINT) AS cc
         | FROM documents GROUP BY 1),
         |grid AS (SELECT unnest(range(0, 256)) AS bk),
         |cnts AS (
         | SELECT grid.bk AS bk, CAST(coalesce(cc, 0) AS BIGINT) AS c
         | FROM grid LEFT JOIN occ ON grid.bk = occ.bk),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnts),
         |terms AS (
         | SELECT CAST(floor((CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 256.0)
         |    * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 256.0)
         |    / (CAST(n AS DOUBLE) / 256.0) * 1e6 + 0.5) / 1e6
         |   AS DECIMAL(25,6)) AS term
         | FROM cnts, tot),
         |chi AS (SELECT round(CAST(sum(term) AS DOUBLE), 6) AS chi2 FROM terms)
         |SELECT metric, value FROM (
         | SELECT 'n_docs' AS metric, CAST(nd AS DOUBLE) AS value FROM b
         | UNION ALL SELECT 'n_tokens', CAST(nt AS DOUBLE) FROM b
         | UNION ALL SELECT 'exact_dup_rate',
         |  CAST(nd - dist AS DOUBLE) / CAST(nd AS DOUBLE) FROM b
         | UNION ALL SELECT 'oov_rate_v16', oov_rate FROM ov
         | UNION ALL SELECT 'hash_chi2_256', chi2 FROM chi)
         |ORDER BY metric""".stripMargin,

    // code-switching: the q16 marker-hit CASE applied to the full doc
    // and to each token half (ceil split), switch = determined halves
    // disagreeing
    "q200_code_switch" -> {
      def hits(listExpr: String, sfx: String) = Seq(
        "en" -> "['the','and','of','to','is']",
        "es" -> "['el','la','de','que','los']",
        "fr" -> "['le','la','les','des','est']",
        "de" -> "['der','die','und','das','ist']",
        "zh" -> "['的','是','了','在','我']").map { case (l, m) =>
        s"len(list_filter($listExpr, x -> list_contains($m, x))) AS h_${l}_$sfx"
      }.mkString(",\n  ")
      def langCase(sfx: String) =
        s"""CASE WHEN h_en_$sfx + h_es_$sfx + h_fr_$sfx + h_de_$sfx + h_zh_$sfx = 0 THEN 'und'
           |      WHEN h_en_$sfx >= h_es_$sfx AND h_en_$sfx >= h_fr_$sfx AND h_en_$sfx >= h_de_$sfx AND h_en_$sfx >= h_zh_$sfx THEN 'en'
           |      WHEN h_es_$sfx >= h_fr_$sfx AND h_es_$sfx >= h_de_$sfx AND h_es_$sfx >= h_zh_$sfx THEN 'es'
           |      WHEN h_fr_$sfx >= h_de_$sfx AND h_fr_$sfx >= h_zh_$sfx THEN 'fr'
           |      WHEN h_de_$sfx >= h_zh_$sfx THEN 'de'
           |      ELSE 'zh' END""".stripMargin
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 95000000,
         |  'the and of to is the and of to is el la de que los el la de que los el la de que los'
         | FROM documents WHERE doc_id % 16 = 0),
         |tk AS (
         | SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM c),
         |sl AS (
         | SELECT doc_id, tk,
         |  list_slice(tk, 1, CAST(ceil(len(tk) / 2.0) AS INT)) AS hd,
         |  list_slice(tk, CAST(ceil(len(tk) / 2.0) AS INT) + 1, len(tk)) AS tl
         | FROM tk),
         |h AS (
         | SELECT doc_id,
         |  ${hits("tk", "f")},
         |  ${hits("hd", "h")},
         |  ${hits("tl", "t")}
         | FROM sl),
         |lg AS (
         | SELECT doc_id,
         |  ${langCase("f")} AS lang_full,
         |  ${langCase("h")} AS lang_head,
         |  ${langCase("t")} AS lang_tail
         | FROM h)
         |SELECT doc_id, lang_full, lang_head, lang_tail,
         | lang_head <> 'und' AND lang_tail <> 'und'
         |  AND lang_head <> lang_tail AS is_switch
         |FROM lg ORDER BY doc_id""".stripMargin
    },

    // MAP@5 curve: the q186 replay scored as average precision against
    // the brute top-5; precision@k terms DECIMAL-summed
    "q201_map_curve" ->
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         | WHERE vec_id < 10),
         |c AS (
         | SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0),
         |cents AS (
         | SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0
         | ORDER BY vec_id LIMIT 16),
         |cc AS (
         | SELECT neighbor_id, cent_id,
         |  CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS csim
         | FROM (
         |  SELECT neighbor_id, cent_id, ${dotSql("cv", "ce")} AS dp,
         |   ${normSql("cv")} * ${normSql("ce")} AS np
         |  FROM c, cents)),
         |casg AS (
         | SELECT neighbor_id, cent_id FROM (
         |  SELECT neighbor_id, cent_id, row_number() OVER (
         |    PARTITION BY neighbor_id ORDER BY csim DESC, cent_id ASC) AS rn
         |  FROM cc) WHERE rn = 1),
         |qc AS (
         | SELECT query_id, cent_id, row_number() OVER (
         |   PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS qrn
         | FROM (
         |  SELECT query_id, cent_id,
         |   CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS csim
         |  FROM (
         |   SELECT query_id, cent_id, ${dotSql("qv", "ce")} AS dp,
         |    ${normSql("qv")} * ${normSql("ce")} AS np
         |   FROM q, cents))),
         |vis AS (
         | SELECT s.query_id, s.neighbor_id, qc.qrn AS need,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM (
         |  SELECT q.query_id, c.neighbor_id,
         |   ${dotSql("qv", "cv")} AS dot_p,
         |   ${normSql("qv")} * ${normSql("cv")} AS norm_p
         |  FROM q, c WHERE c.neighbor_id <> q.query_id) s
         | JOIN casg ON casg.neighbor_id = s.neighbor_id
         | JOIN qc ON qc.query_id = s.query_id AND qc.cent_id = casg.cent_id),
         |pr AS (SELECT unnest([1, 2, 4, 16]) AS nprobe),
         |rk AS (
         | SELECT nprobe, query_id, neighbor_id, row_number() OVER (
         |   PARTITION BY nprobe, query_id ORDER BY sim DESC, neighbor_id ASC)
         |  AS rnk
         | FROM vis, pr WHERE need <= nprobe),
         |topv AS (SELECT nprobe, query_id, neighbor_id, rnk
         |         FROM rk WHERE rnk <= 5),
         |bsc AS (
         | SELECT query_id, neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM (
         |  SELECT query_id, neighbor_id, ${dotSql("qv", "cv")} AS dot_p,
         |   ${normSql("qv")} * ${normSql("cv")} AS norm_p
         |  FROM q, c WHERE neighbor_id <> query_id)),
         |brute5 AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
         |  FROM bsc) WHERE rnk <= 5),
         |hits AS (
         | SELECT nprobe, topv.query_id AS query_id, rnk,
         |  row_number() OVER (PARTITION BY nprobe, topv.query_id
         |    ORDER BY rnk) AS i
         | FROM topv JOIN brute5 USING (query_id, neighbor_id)),
         |terms AS (
         | SELECT nprobe, query_id,
         |  CAST(round(CAST(i AS DOUBLE) / CAST(rnk AS DOUBLE), 6)
         |   AS DECIMAL(10,6)) AS t
         | FROM hits),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS nqv FROM q)
         |SELECT nprobe,
         | nqv AS n_queries,
         | CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries_hit,
         | CAST(count(*) AS BIGINT) AS n_hits,
         | CAST(sum(t) AS DOUBLE) / (5.0 * CAST(nqv AS DOUBLE))
         |  AS map5
         |FROM terms, nq GROUP BY nprobe, nqv ORDER BY nprobe""".stripMargin,

    // lexicon screen: exact lowercased-token hits + per-1k density
    "q202_lexicon_screen" ->
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 96000000,
         |  text || ' badword1 badword2 badword1 slurx badword2'
         | FROM documents WHERE doc_id % 23 = 0),
         |t AS (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM c),
         |h AS (
         | SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(tk, x ->
         |    list_contains(['badword1', 'badword2', 'slurx'], x))) AS BIGINT)
         |   AS n_hits
         | FROM t),
         |d AS (
         | SELECT doc_id, n_tokens, n_hits,
         |  CASE WHEN n_tokens = 0 THEN 0.0
         |   ELSE CAST(n_hits AS DOUBLE) * 1000.0
         |     / CAST(n_tokens AS DOUBLE) END AS hits_per_1k
         | FROM h)
         |SELECT doc_id, n_tokens, n_hits, hits_per_1k,
         | hits_per_1k > 20.0 AS flagged
         |FROM d ORDER BY doc_id""".stripMargin,

    // normalization-insensitive decontamination: q159's canonical form
    // on both sides, then the q85 8-gram chain — the re-cased planted
    // copies must all flag
    "q203_norm_decontam" -> {
      def shg8(tokCte: String, pfx: String) =
        s"""${pfx}shg AS (
           | SELECT doc_id, CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
           |   ELSE list_transform(range(1, len(tk) - 6),
           |          i -> array_to_string(list_slice(tk, i, i + 7), ' ')) END AS sh
           | FROM $tokCte)""".stripMargin
      val norm = (c: String) =>
        s"trim(regexp_replace(lower(coalesce($c, '')), '[^a-z0-9]+', ' ', 'g'))"
      s"""WITH bench AS (
         | SELECT doc_id, ${norm("text")} AS text
         | FROM documents WHERE doc_id % 50 = 0),
         |train AS (
         | SELECT doc_id, ${norm("text")} AS text
         | FROM documents WHERE doc_id % 50 <> 0
         | UNION ALL
         | SELECT doc_id + 97000000,
         |  ${norm("regexp_replace(upper(text), ' ', ', ', 'g')")}
         | FROM documents WHERE doc_id % 50 = 0),
         |btok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM bench),
         |ttok AS (SELECT doc_id, ${toksSql("text")} AS tk FROM train),
         |${shg8("btok", "b")},
         |${shg8("ttok", "t")},
         |bset AS (SELECT DISTINCT unnest(sh) AS sh FROM bshg),
         |texp AS (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM tshg)
         |SELECT doc_id, count(*) AS n_hits
         |FROM texp JOIN bset USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // IVF list purity: the q186 seeded assignment (keep = 1) joined to
    // labels, majority label via first_value over (count desc, label
    // desc) == the Spark struct-max
    "q204_list_purity" ->
      s"""WITH c AS (
         | SELECT vec_id AS neighbor_id, embedding AS cv, label
         | FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0),
         |cents AS (
         | SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) > 0
         | ORDER BY vec_id LIMIT 16),
         |cc AS (
         | SELECT neighbor_id, cent_id,
         |  CASE WHEN np = 0 THEN 0.0 ELSE dp / np END AS csim
         | FROM (
         |  SELECT neighbor_id, cent_id, ${dotSql("cv", "ce")} AS dp,
         |   ${normSql("cv")} * ${normSql("ce")} AS np
         |  FROM c, cents)),
         |casg AS (
         | SELECT neighbor_id, cent_id FROM (
         |  SELECT neighbor_id, cent_id, row_number() OVER (
         |    PARTITION BY neighbor_id ORDER BY csim DESC, cent_id ASC) AS rn
         |  FROM cc) WHERE rn = 1),
         |lc AS (
         | SELECT casg.cent_id AS cent_id, c.label AS label,
         |  CAST(count(*) AS BIGINT) AS lcnt
         | FROM casg JOIN c ON casg.neighbor_id = c.neighbor_id
         | GROUP BY 1, 2),
         |la AS (
         | SELECT cent_id,
         |  first_value(label) OVER (PARTITION BY cent_id
         |    ORDER BY lcnt DESC, label DESC) AS top_label,
         |  first_value(lcnt) OVER (PARTITION BY cent_id
         |    ORDER BY lcnt DESC, label DESC) AS top_cnt,
         |  sum(lcnt) OVER (PARTITION BY cent_id) AS n_vectors
         | FROM lc),
         |ld AS (SELECT DISTINCT cent_id, top_label, top_cnt, n_vectors FROM la)
         |SELECT cent_id, CAST(n_vectors AS BIGINT) AS n_vectors, top_label,
         | CAST(top_cnt AS DOUBLE) / CAST(n_vectors AS DOUBLE)
         |  AS top_share
         |FROM ld ORDER BY cent_id""".stripMargin,

    // SFT stats: q179's turn CTEs aggregated per session — spans
    // partition the text, so sums of turn lengths are the span sums
    "q205_sft_stats" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |roled AS (
        | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  event_id,
        |  CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user'
        |       ELSE 'assistant' END AS role, event_type
        | FROM sessions),
        |turns AS (
        | SELECT user_id, session_seq, role,
        |  '<|' || role || '|>' || event_type || '#'
        |   || CAST(event_id AS VARCHAR) || '<|end|>' AS turn
        | FROM roled),
        |a AS (
        | SELECT user_id, session_seq,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(length(turn)) AS BIGINT) AS assembled_len,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN length(turn)
        |           ELSE 0 END) AS BIGINT) AS loss_chars
        | FROM turns GROUP BY 1, 2)
        |SELECT user_id, session_seq, n_turns, assembled_len, loss_chars,
        | CAST(loss_chars AS DOUBLE) / CAST(assembled_len AS DOUBLE)
        |  AS loss_share
        |FROM a ORDER BY user_id, session_seq""".stripMargin,

    // pair-similarity histogram: the q61 chain's verified pairs binned
    // on the 4-rounded similarity (the operator's output precision)
    "q207_sim_histogram" ->
      s"""WITH $q61Chain,
         |r AS (SELECT floor(sim * 1e4 + 0.5) / 1e4 AS sim FROM pairs),
         |b AS (SELECT CAST(floor(sim * 20) AS INT) AS bin, sim FROM r)
         |SELECT bin, round(CAST(bin AS DOUBLE) / 20.0, 6) AS bin_lo,
         | CAST(count(*) AS BIGINT) AS n_pairs,
         | min(sim) AS min_sim, max(sim) AS max_sim
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // k-anonymity over the (nation, segment) quasi-identifier
    "q206_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS group_size,
        | count(*) >= 10 AS meets_k
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // market-basket pair lift: distinct baskets -> within-order pairs
    // (p1 < p2, support >= 3) -> lift as ONE double division of exact
    // BIGINT products (mirrors Queries.q250BasketLift)
    "q250_basket_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
        |items AS (SELECT l_partkey, count(*) AS n_item FROM b GROUP BY 1),
        |pairs AS (
        | SELECT a.l_partkey AS p1, c.l_partkey AS p2, count(*) AS n_pair
        | FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
        |   AND a.l_partkey < c.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p1, p2, n_pair,
        | i1.n_item AS n1, i2.n_item AS n2,
        | CAST(n_pair * 1000000 // n_orders AS BIGINT) AS support_ppm,
        | CAST(n_pair * n_orders AS DOUBLE)
        |  / CAST(i1.n_item * i2.n_item AS DOUBLE) AS lift
        |FROM pairs
        |JOIN items i1 ON i1.l_partkey = p1
        |JOIN items i2 ON i2.l_partkey = p2
        |CROSS JOIN n
        |ORDER BY lift DESC, p1, p2""".stripMargin,

    // top 3-step event paths: two leads over the (ts, event_id) order,
    // trigram counts + integer-DIV shares
    "q251_top_paths" ->
      """WITH s AS (
        | SELECT event_type AS e0,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e1,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e2
        | FROM events),
        |p AS (
        | SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n
        | FROM s WHERE e2 IS NOT NULL GROUP BY 1)
        |SELECT path, n,
        | CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
        |FROM p ORDER BY n DESC, path""".stripMargin,

    // RFM segmentation: explicit row_number quintiles (NOT ntile) with
    // (metric, custkey) total orders, rolled up to labelled segments
    "q252_rfm" ->
      """WITH per AS (
        | SELECT o_custkey,
        |  date_diff('day', CAST(max(o_orderdate) AS DATE),
        |    DATE '1999-01-01') AS r_days,
        |  count(*) AS f,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS m_cents
        | FROM orders GROUP BY 1),
        |scored AS (
        | SELECT m_cents,
        |  CAST(5 - (row_number() OVER (ORDER BY r_days ASC, o_custkey ASC)
        |    - 1) * 5 // count(*) OVER () AS INT) AS r_score,
        |  CAST(5 - (row_number() OVER (ORDER BY f DESC, o_custkey ASC)
        |    - 1) * 5 // count(*) OVER () AS INT) AS f_score,
        |  CAST(5 - (row_number() OVER (ORDER BY m_cents DESC, o_custkey ASC)
        |    - 1) * 5 // count(*) OVER () AS INT) AS m_score
        | FROM per)
        |SELECT r_score, f_score, m_score,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(m_cents) AS BIGINT) AS total_cents,
        | CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |   THEN 'champion'
        |  WHEN f_score >= 4 THEN 'loyal'
        |  WHEN m_score >= 4 THEN 'big_spender'
        |  WHEN r_score <= 2 THEN 'at_risk'
        |  ELSE 'other' END AS segment
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin,

    // Benford first-digit audit: leading digit from the BIGINT cent
    // string (never double formatting); log10(1+1/d) ppm literals
    "q253_benford" ->
      """WITH c AS (
        | SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM orders),
        |d AS (
        | SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |  count(*) AS n
        | FROM c WHERE cents > 0 GROUP BY 1)
        |SELECT digit, n,
        | CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS obs_ppm,
        | CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |  WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |  WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |  WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm,
        | CAST(n * 1000000 // sum(n) OVER () AS BIGINT)
        |  - CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |     WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |     WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |     WHEN 9 THEN 45757 END AS BIGINT) AS dev_ppm
        |FROM d ORDER BY digit""".stripMargin,

    // truncated 8-lag EWMA on exact cents: weighted sum and present-
    // weight denominator as exact BIGINTs, ONE double division
    "q254_ewma" ->
      """WITH base AS (
        | SELECT user_id, ts, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |l AS (
        | SELECT user_id, event_id, cents,
        |  lag(cents, 1) OVER w AS x1, lag(cents, 2) OVER w AS x2,
        |  lag(cents, 3) OVER w AS x3, lag(cents, 4) OVER w AS x4,
        |  lag(cents, 5) OVER w AS x5, lag(cents, 6) OVER w AS x6,
        |  lag(cents, 7) OVER w AS x7
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, cents,
        | CAST(cents * 128 + coalesce(x1, 0) * 64 + coalesce(x2, 0) * 32
        |   + coalesce(x3, 0) * 16 + coalesce(x4, 0) * 8
        |   + coalesce(x5, 0) * 4 + coalesce(x6, 0) * 2
        |   + coalesce(x7, 0) AS DOUBLE)
        | / CAST(128 + CASE WHEN x1 IS NULL THEN 0 ELSE 64 END
        |   + CASE WHEN x2 IS NULL THEN 0 ELSE 32 END
        |   + CASE WHEN x3 IS NULL THEN 0 ELSE 16 END
        |   + CASE WHEN x4 IS NULL THEN 0 ELSE 8 END
        |   + CASE WHEN x5 IS NULL THEN 0 ELSE 4 END
        |   + CASE WHEN x6 IS NULL THEN 0 ELSE 2 END
        |   + CASE WHEN x7 IS NULL THEN 0 ELSE 1 END AS DOUBLE)
        | AS ewma_cents
        |FROM l ORDER BY user_id, event_id""".stripMargin,

    // l-diversity over the q206 quasi-identifier: distinct $1000
    // acctbal bands per class; floor on ONE double division of exact
    // ints so negative balances band identically in both engines
    "q255_l_diversity" ->
      """WITH b AS (
        | SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS DOUBLE) / 100000.0) AS BIGINT) AS band
        | FROM customer)
        |SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS group_size,
        | CAST(count(DISTINCT band) AS BIGINT) AS l_distinct,
        | count(DISTINCT band) >= 3 AS meets_l
        |FROM b GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // skew advisor: keyed counts + one stats row; hot flag and salt
    // factor in exact integer arithmetic (mirrors Skew.advisor)
    "q257_skew_advisor" ->
      """WITH c AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        | FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS keys FROM c)
        |SELECT user_id, n_rows,
        | CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
        | n_rows * keys > 2 * total AS is_hot,
        | CAST((n_rows + 49) // 50 AS BIGINT) AS salt_factor
        |FROM c, s ORDER BY n_rows DESC, user_id""".stripMargin,

    // two-proportion z-test: exact integer counts; z composed of
    // +,-,*,/ and sqrt only (all IEEE-correctly-rounded), mirrored
    // operation for operation against Queries.q258AbTest
    "q258_ab_test" ->
      """WITH pu AS (
        | SELECT user_id, user_id % 2 AS variant,
        |  max(CASE WHEN event_type = 'purchase' AND
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 15000
        |   THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1),
        |a AS (
        | SELECT
        |  CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |  CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        | FROM pu)
        |SELECT n_a, c_a, n_b, c_b,
        | CAST(c_a * 1000000 // n_a AS BIGINT) AS conv_ppm_a,
        | CAST(c_b * 1000000 // n_b AS BIGINT) AS conv_ppm_b,
        | (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |   - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        | / sqrt(CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |    * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
        |FROM a""".stripMargin,

    // chi-square independence cells: margins as window sums, expected
    // and contribution as pure IEEE arithmetic on exact BIGINT products;
    // DuckDB dayofweek is Sunday=0 vs Spark's Sunday=1, hence the +1
    "q259_chi_square" ->
      """WITH cells AS (
        | SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |m AS (
        | SELECT event_type, dow, o,
        |  CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS row_total,
        |  CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS col_total,
        |  CAST(sum(o) OVER () AS BIGINT) AS n_total
        | FROM cells)
        |SELECT event_type, dow, o, row_total, col_total, n_total,
        | CAST(row_total * col_total AS DOUBLE) / CAST(n_total AS DOUBLE)
        |  AS expected,
        | (CAST(o AS DOUBLE) - CAST(row_total * col_total AS DOUBLE)
        |    / CAST(n_total AS DOUBLE))
        |  * (CAST(o AS DOUBLE) - CAST(row_total * col_total AS DOUBLE)
        |    / CAST(n_total AS DOUBLE))
        |  / (CAST(row_total * col_total AS DOUBLE) / CAST(n_total AS DOUBLE))
        |  AS contrib
        |FROM m ORDER BY event_type, dow""".stripMargin,

    // seasonal index: cell mean over global mean as double ratios of
    // exact integer sums
    "q260_seasonal_index" ->
      """WITH cells AS (
        | SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hr, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        | FROM events GROUP BY 1, 2),
        |m AS (
        | SELECT *, CAST(sum(n) OVER () AS BIGINT) AS total_n,
        |  CAST(sum(sum_cents) OVER () AS BIGINT) AS total_cents
        | FROM cells)
        |SELECT dow, hr, n, sum_cents,
        | (CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(total_cents AS DOUBLE) / CAST(total_n AS DOUBLE))
        |  AS seasonal_index
        |FROM m ORDER BY dow, hr""".stripMargin,

    // ABC/Pareto classes: cumulative exact-cent shares compared
    // cross-multiplied — no division or double anywhere
    "q261_abc_classification" ->
      """WITH per AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS cents
        | FROM lineitem GROUP BY 1),
        |c AS (
        | SELECT l_partkey, cents,
        |  CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_cents,
        |  CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        | FROM per)
        |SELECT l_partkey, cents, cum_cents,
        | CASE WHEN cum_cents * 5 <= total_cents * 4 THEN 'A'
        |  WHEN cum_cents * 20 <= total_cents * 19 THEN 'B'
        |  ELSE 'C' END AS abc_class
        |FROM c ORDER BY cents DESC, l_partkey""".stripMargin,

    // Kaplan-Meier: per-duration at-risk counts via an exclusive prefix
    // window; ln S(t) as the running sum of round(ln,6)-micro terms
    "q262_kaplan_meier" ->
      """WITH pu AS (
        | SELECT user_id, epoch_us(min(ts)) AS first_us,
        |  epoch_us(max(ts)) AS last_us,
        |  epoch_us(min(CASE WHEN event_type = 'purchase' AND
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 20000
        |   THEN ts END)) AS conv_us
        | FROM events GROUP BY 1),
        |durs AS (
        | SELECT (coalesce(conv_us, last_us) - first_us) // 3600000000
        |   AS dur_h,
        |  CAST(count(*) AS BIGINT) AS u,
        |  CAST(sum(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS d
        | FROM pu GROUP BY 1),
        |risk AS (
        | SELECT dur_h, u, d,
        |  CAST(sum(u) OVER () AS BIGINT)
        |   - CAST(coalesce(sum(u) OVER (ORDER BY dur_h ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS BIGINT) AS n_risk
        | FROM durs),
        |terms AS (
        | SELECT dur_h, n_risk, d,
        |  CAST(round(round(ln(CAST(n_risk - d AS DOUBLE)
        |   / CAST(n_risk AS DOUBLE)), 6) * 1e6) AS BIGINT) AS term
        | FROM risk WHERE d > 0 AND n_risk > d)
        |SELECT dur_h, n_risk, d,
        | CAST(sum(term) OVER (ORDER BY dur_h ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS ln_surv_micro
        |FROM terms ORDER BY dur_h""".stripMargin,

    // DP Laplace release: noise derandomized through the portable
    // 60-bit md5 hash of the cell key, frozen by the ln-micros kernel
    "q263_dp_release" ->
      s"""WITH cells AS (
         | SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         | FROM documents GROUP BY 1, 2),
         |nz AS (
         | SELECT lang, source, n,
         |  CAST((${ph("lang || '|' || source", 4242)} % 1999999 - 999999)
         |    AS DOUBLE) / 1e6 AS u
         | FROM cells)
         |SELECT lang, source, n,
         | CAST(-sign(u) * round(round(ln(1.0 - abs(u)), 6) * 1e6)
         |   AS BIGINT) AS noise_micro,
         | n * 1000000 + CAST(-sign(u) * round(round(ln(1.0 - abs(u)), 6)
         |   * 1e6) AS BIGINT) AS released_micro
         |FROM nz ORDER BY lang, source""".stripMargin,

    // U-shaped multi-touch attribution: 40/20/40 ppm weights, middle
    // split by integer DIV with the remainder spread over the earliest
    // middles (weights sum to exactly 1e6 per purchase)
    "q264_multi_touch" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |p AS (
        | SELECT user_id, us AS p_us, event_id AS p_id, cents
        | FROM ev WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, us AS c_us, max(event_id) AS c_id
        | FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (
        | SELECT p.user_id, p_id, c_id, cents,
        |  row_number() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS pos,
        |  count(*) OVER (PARTITION BY p_id) AS k
        | FROM p JOIN c ON p.user_id = c.user_id
        |  AND c_us <= p_us AND c_us > p_us - 86400000000),
        |wts AS (
        | SELECT user_id, p_id, c_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(k AS BIGINT) AS k, cents,
        |  CAST(CASE WHEN k = 1 THEN 1000000
        |   WHEN k = 2 THEN 500000
        |   WHEN pos = 1 OR pos = k THEN 400000
        |   ELSE 200000 // (k - 2)
        |    + (CASE WHEN pos - 2 < 200000 % (k - 2) THEN 1 ELSE 0 END)
        |  END AS BIGINT) AS weight_ppm
        | FROM j)
        |SELECT user_id, p_id, c_id, pos, k, cents, weight_ppm,
        | CAST(cents * weight_ppm // 1000000 AS BIGINT) AS credited_cents
        |FROM wts ORDER BY p_id, pos""".stripMargin,

    // max drawdown per user over the signed cent balance: three exact
    // BIGINT windows (running sum, running max, peak minus balance)
    "q266_max_drawdown" ->
      """WITH f AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN event_type IN ('purchase', 'signup')
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  END AS flow
        | FROM events),
        |b1 AS (
        | SELECT user_id, ts, event_id, flow,
        |  CAST(sum(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS balance
        | FROM f),
        |b AS (
        | SELECT user_id, flow, balance,
        |  CAST(max(balance) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS peak
        | FROM b1)
        |SELECT user_id,
        | CAST(max(peak) AS BIGINT) AS peak_cents,
        | CAST(min(balance) AS BIGINT) AS trough_cents,
        | CAST(max(peak - balance) AS BIGINT) AS max_drawdown_cents,
        | CAST(sum(flow) AS BIGINT) AS final_cents
        |FROM b GROUP BY 1 ORDER BY user_id""".stripMargin,

    // ship latency by priority: EXACT median/p90 selected by
    // row_number index over a total order — no interpolation
    "q267_ship_latency" ->
      """WITH d AS (
        | SELECT o_orderpriority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
        |  l_orderkey, l_linenumber
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (
        | SELECT o_orderpriority, days,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY days, l_orderkey, l_linenumber) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        | FROM d)
        |SELECT o_orderpriority, max(n) AS n,
        | min(days) AS min_days,
        | max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS med_days,
        | max(CASE WHEN rn = (9 * n + 9) // 10 THEN days END) AS p90_days,
        | max(days) AS max_days
        |FROM r GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // duplicate-invoice screen over planted +2-day clones: equality
    // join on (custkey, cents), date predicate after
    "q268_duplicate_invoices" ->
      """WITH o AS (
        | SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents,
        |  CAST(o_orderdate AS DATE) AS d
        | FROM orders),
        |al AS (
        | SELECT * FROM o
        | UNION ALL
        | SELECT o_custkey, o_orderkey + 5000000, cents, d + 2
        | FROM o WHERE o_orderkey % 40 = 0)
        |SELECT a.o_custkey AS custkey, a.o_orderkey AS okey_a,
        | b.o_orderkey AS okey_b, a.cents AS cents,
        | CAST(date_diff('day', a.d, b.d) AS INT) AS gap_days
        |FROM al a JOIN al b ON a.o_custkey = b.o_custkey
        | AND a.cents = b.cents AND a.o_orderkey < b.o_orderkey
        |WHERE abs(date_diff('day', a.d, b.d)) <= 7
        |ORDER BY custkey, okey_a, okey_b""".stripMargin,

    // DAU/WAU/MAU: forward-contribution explode (each user-day serves
    // the <= 7/30 trailing windows that cover it), inner-joined to the
    // real activity-day spine
    "q269_active_users" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        | SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (
        | SELECT day, CAST(count(*) AS BIGINT) AS wau FROM (
        |  SELECT DISTINCT user_id, day + CAST(off AS INT) AS day
        |  FROM ud, (SELECT unnest(range(0, 7)) AS off))
        | GROUP BY 1),
        |mau AS (
        | SELECT day, CAST(count(*) AS BIGINT) AS mau FROM (
        |  SELECT DISTINCT user_id, day + CAST(off AS INT) AS day
        |  FROM ud, (SELECT unnest(range(0, 30)) AS off))
        | GROUP BY 1)
        |SELECT day, dau.dau, wau.wau, mau.mau,
        | CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau USING (day) JOIN mau USING (day)
        |ORDER BY day""".stripMargin,

    // cohort LTV: q96's week ordinal, purchase cents per (cohort,
    // offset), exact cumulative windows, integer-DIV per-member micros
    "q270_cohort_ltv" ->
      """WITH ev AS (
        | SELECT user_id,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |   AS week,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END AS cents
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        | FROM c GROUP BY 1),
        |g AS (
        | SELECT cohort_week, week - cohort_week AS week_offset,
        |  CAST(sum(cents) AS BIGINT) AS cents
        | FROM ev JOIN c USING (user_id) GROUP BY 1, 2),
        |cum AS (
        | SELECT cohort_week, week_offset, cents,
        |  CAST(sum(cents) OVER (PARTITION BY cohort_week
        |    ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_cents
        | FROM g)
        |SELECT cohort_week, week_offset, cohort_size, cents, cum_cents,
        | CAST(cum_cents * 1000000 // cohort_size AS BIGINT)
        |  AS ltv_micro_per_user
        |FROM cum JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // sorted-neighborhood blocking: rank over (segment, cents, id),
    // pairs via rank + offset equi-join, then the cent-gap screen
    "q271_sorted_neighborhood" ->
      """WITH c AS (
        | SELECT c_custkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM customer),
        |r AS (
        | SELECT c_custkey AS id, c_mktsegment AS seg, cents,
        |  CAST(row_number() OVER (ORDER BY c_mktsegment, cents, c_custkey)
        |   AS BIGINT) AS rn
        | FROM c),
        |p AS (
        | SELECT a.id AS id_a, b.id AS id_b, a.seg AS seg_a,
        |  b.seg AS seg_b, a.cents AS cents_a, b.cents AS cents_b,
        |  CAST(off AS INT) AS rank_gap
        | FROM r a
        | CROSS JOIN (SELECT unnest(range(1, 4)) AS off) o
        | JOIN r b ON b.rn = a.rn + off)
        |SELECT id_a, id_b, seg_a AS segment, cents_a, cents_b, rank_gap
        |FROM p
        |WHERE seg_a = seg_b AND abs(cents_a - cents_b) <= 100
        |ORDER BY id_a, id_b""".stripMargin,

    // nearest as-of: backward and forward candidate timestamps via
    // correlated extrema (ties to the earlier side), c_id joined back
    // on the chosen (user, ts)
    "q272_asof_nearest" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        | FROM events),
        |p AS (
        | SELECT user_id, us, event_id AS p_id
        | FROM ev WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, us AS c_us, max(event_id) AS c_id
        | FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        |cand AS (
        | SELECT p.user_id, p.us, p.p_id,
        |  (SELECT max(c_us) FROM c
        |   WHERE c.user_id = p.user_id AND c_us <= p.us) AS b_ts,
        |  (SELECT min(c_us) FROM c
        |   WHERE c.user_id = p.user_id AND c_us > p.us) AS f_ts
        | FROM p),
        |pick AS (
        | SELECT user_id, us, p_id,
        |  CASE WHEN f_ts IS NULL THEN b_ts
        |   WHEN b_ts IS NOT NULL AND us - b_ts <= f_ts - us THEN b_ts
        |   ELSE f_ts END AS matched_ts
        | FROM cand)
        |SELECT pick.user_id, p_id, c.c_id, matched_ts - us
        |  AS signed_lag_us
        |FROM pick LEFT JOIN c ON c.user_id = pick.user_id
        | AND c.c_us = pick.matched_ts
        |ORDER BY pick.user_id, p_id""".stripMargin,

    // growth accounting: one (user, day) distinct frame self-joined at
    // day-1; dau = new + retained + resurrected by construction
    "q273_growth_accounting" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |pv AS (SELECT user_id, day + 1 AS day, 1 AS was_prev FROM ud),
        |fl AS (
        | SELECT ud.day,
        |  CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END AS is_new,
        |  coalesce(pv.was_prev, 0) AS is_ret
        | FROM ud JOIN f USING (user_id)
        | LEFT JOIN pv ON pv.user_id = ud.user_id AND pv.day = ud.day),
        |byday AS (
        | SELECT day, CAST(count(*) AS BIGINT) AS dau,
        |  CAST(sum(is_new) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN is_new = 0 THEN is_ret ELSE 0 END) AS BIGINT)
        |   AS retained,
        |  CAST(sum(CASE WHEN is_new = 0 AND is_ret = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS resurrected
        | FROM fl GROUP BY 1),
        |ch AS (
        | SELECT a.day, CAST(count(*) AS BIGINT) AS churned_in FROM (
        |  SELECT user_id, day + 1 AS day FROM ud) a
        | LEFT JOIN ud b ON b.user_id = a.user_id AND b.day = a.day
        | WHERE b.user_id IS NULL GROUP BY 1)
        |SELECT byday.day, dau, new_users, retained, resurrected,
        | CAST(coalesce(churned_in, 0) AS BIGINT) AS churned_in
        |FROM byday LEFT JOIN ch USING (day)
        |ORDER BY day""".stripMargin,

    // grouping sets with per-column grouping flags (grouping_id bit
    // order is engine-specific; the per-column flags are not)
    "q274_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |  AS cents,
        | CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        | CAST(grouping(o_orderstatus) AS INT) AS g_status
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        | (o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus""".stripMargin,

    // deadline funnel: min-time chaining with 24h budgets per step
    "q275_deadline_funnel" ->
      """WITH ev AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        | SELECT user_id, min(us) AS t1 FROM ev
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        | SELECT ev.user_id, min(us) AS t2
        | FROM ev JOIN s1 USING (user_id)
        | WHERE event_type = 'click' AND us >= t1 AND us <= t1 + 86400000000
        | GROUP BY 1),
        |s3 AS (
        | SELECT ev.user_id, min(us) AS t3
        | FROM ev JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase' AND us >= t2
        |  AND us <= t2 + 86400000000
        | GROUP BY 1)
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
        | (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_24h,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_48h,
        | CAST((SELECT count(*) FROM s2) * 1000000
        |  // (SELECT count(*) FROM s1) AS BIGINT) AS click_ppm,
        | CAST((SELECT count(*) FROM s3) * 1000000
        |  // (SELECT count(*) FROM s2) AS BIGINT) AS purchase_ppm""".stripMargin,

    // class balance: share and size-vs-largest-class in integer ppm
    "q276_class_balance" ->
      """WITH c AS (
        | SELECT label, CAST(count(*) AS BIGINT) AS n
        | FROM embeddings GROUP BY 1)
        |SELECT label, n,
        | CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm,
        | CAST(n * 1000000 // max(n) OVER () AS BIGINT) AS vs_max_ppm
        |FROM c ORDER BY label""".stripMargin,

    // stratified folds: derandomized-shuffle rank within each label,
    // dealt round-robin -> per-(label, fold) counts differ by <= 1
    "q277_stratified_folds" ->
      s"""WITH r AS (
         | SELECT label, vec_id,
         |  row_number() OVER (PARTITION BY label
         |   ORDER BY ${ph("CAST(vec_id AS VARCHAR)", 97)}, vec_id)
         |   AS rn
         | FROM embeddings),
         |f AS (
         | SELECT label, CAST((rn - 1) % 5 AS INT) AS fold FROM r)
         |SELECT label, fold, CAST(count(*) AS BIGINT) AS n
         |FROM f GROUP BY 1, 2 ORDER BY label, fold""".stripMargin,

    // spend-band migration: explicit per-quarter quartiles (q252's
    // formula), consecutive-quarter transition counts + row ppm
    "q278_band_migration" ->
      """WITH pq AS (
        | SELECT o_custkey,
        |  CAST(year(o_orderdate) * 4 + (month(o_orderdate) - 1) // 3
        |   AS BIGINT) AS q,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS cents
        | FROM orders GROUP BY 1, 2),
        |b AS (
        | SELECT o_custkey, q,
        |  CAST(1 + (row_number() OVER (PARTITION BY q
        |    ORDER BY cents DESC, o_custkey ASC) - 1) * 4
        |   // count(*) OVER (PARTITION BY q) AS INT) AS band
        | FROM pq),
        |t AS (
        | SELECT a.band AS band_from, b2.band AS band_to,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM b a JOIN b b2 ON a.o_custkey = b2.o_custkey
        |  AND a.q + 1 = b2.q
        | GROUP BY 1, 2)
        |SELECT band_from, band_to, n,
        | CAST(n * 1000000 // sum(n) OVER (PARTITION BY band_from)
        |  AS BIGINT) AS row_ppm
        |FROM t ORDER BY band_from, band_to""".stripMargin,

    // Fano-factor burstiness: exact BIGINT numerator, one double
    // division; the bot flag compares cross-multiplied integers
    "q279_burstiness" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) // 3600000000 AS hour FROM events),
        |span AS (
        | SELECT max(hour) - min(hour) + 1 AS t_hours FROM ev),
        |ph AS (
        | SELECT user_id, hour, CAST(count(*) AS BIGINT) AS c
        | FROM ev GROUP BY 1, 2),
        |pu AS (
        | SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(c * c) AS BIGINT) AS sum_c2
        | FROM ph GROUP BY 1)
        |SELECT user_id, n, sum_c2,
        | CAST(t_hours * sum_c2 - n * n AS DOUBLE)
        |  / CAST(n * (t_hours - 1) AS DOUBLE) AS fano,
        | t_hours * sum_c2 - n * n > 2 * n * (t_hours - 1) AS is_bursty
        |FROM pu, span ORDER BY user_id""".stripMargin,

    // peak concurrency: +1/-1 boundary sweep, closed-interval
    // convention (starts apply before ends at the same instant)
    "q280_peak_concurrency" ->
      """WITH flagged AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |s AS (
        | SELECT user_id, session_seq,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        | FROM (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        | GROUP BY 1, 2),
        |bounds AS (
        | SELECT us, CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS starts,
        |  CAST(sum(d) AS BIGINT) AS net
        | FROM (
        |  SELECT start_us AS us, 1 AS d FROM s
        |  UNION ALL
        |  SELECT end_us AS us, -1 AS d FROM s)
        | GROUP BY 1),
        |pk AS (
        | SELECT us,
        |  CAST(coalesce(sum(net) OVER (ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   + starts AS BIGINT) AS peak,
        |  CAST(make_timestamp(us) AS DATE) AS day
        | FROM bounds),
        |r AS (
        | SELECT day, peak, us, row_number() OVER (PARTITION BY day
        |   ORDER BY peak DESC, us ASC) AS rn
        | FROM pk)
        |SELECT day, peak AS peak_concurrency, us AS peak_at_us
        |FROM r WHERE rn = 1 ORDER BY day""".stripMargin,

    // order reconciliation: exact DECIMAL(25,6) recomputed charge vs the
    // stored total; bands classified on cross-multiplied integers
    "q281_order_recon" ->
      """WITH ch AS (
        | SELECT l_orderkey,
        |  sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
        |   AS DECIMAL(25,6))) AS charge
        | FROM lineitem GROUP BY 1),
        |d AS (
        | SELECT CAST((CAST(o_totalprice AS DECIMAL(18,2)) - charge)
        |    * 1000000 AS BIGINT) AS diff_micros,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)
        |   AS total_micros
        | FROM orders JOIN ch ON o_orderkey = l_orderkey)
        |SELECT
        | CASE WHEN abs(diff_micros) * 100 < total_micros THEN 'lt1pct'
        |      WHEN abs(diff_micros) * 10 < total_micros THEN 'lt10pct'
        |      ELSE 'ge10pct' END AS band,
        | CASE WHEN diff_micros > 0 THEN 'over'
        |      WHEN diff_micros < 0 THEN 'under' ELSE 'exact' END
        |  AS direction,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(abs(diff_micros)) // 10000 AS BIGINT) AS abs_diff_cents
        |FROM d GROUP BY 1, 2 ORDER BY band, direction""".stripMargin,

    // per-brand skyline: sort-sweep dominance via one strictly-cheaper
    // RANGE running max + one equal-price partition max
    "q282_skyline" ->
      """WITH p AS (
        | SELECT p_partkey, p_brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS price_cents,
        |  CAST(p_size AS BIGINT) AS p_size
        | FROM part),
        |w AS (
        | SELECT *,
        |  max(p_size) OVER (PARTITION BY p_brand ORDER BY price_cents
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS cheaper_max,
        |  max(p_size) OVER (PARTITION BY p_brand, price_cents) AS same_max
        | FROM p)
        |SELECT p_brand, p_partkey, price_cents, p_size
        |FROM w
        |WHERE (cheaper_max IS NULL OR cheaper_max < p_size)
        | AND same_max <= p_size
        |ORDER BY p_brand, price_cents, p_partkey""".stripMargin,

    // gaps-and-islands: day_num - row_number constant within a
    // consecutive-day run; argmax by (length desc, start asc)
    "q283_longest_streak" ->
      """WITH d AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |n AS (
        | SELECT user_id, day,
        |  CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT)
        |   AS day_num
        | FROM d),
        |g AS (
        | SELECT user_id, day, day_num,
        |  day_num - row_number() OVER (PARTITION BY user_id
        |    ORDER BY day_num) AS grp
        | FROM n),
        |i AS (
        | SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_days,
        |  min(day) AS start_day, max(day) AS end_day
        | FROM g GROUP BY 1, 2),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY streak_days DESC, start_day ASC) AS rn
        | FROM i)
        |SELECT user_id, streak_days, start_day, end_day
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // split conformal: Knuth-hash halves, pooled |residual| order
    // statistic at ceil(0.9*(n+1)), integer-ppm held-out coverage
    "q284_conformal" ->
      """WITH p AS (
        | SELECT p_partkey, p_brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents,
        |  ((p_partkey * 2654435761) % 4294967296) % 2 AS half
        | FROM part),
        |m AS (
        | SELECT p_brand, CAST(sum(cents) // count(*) AS BIGINT)
        |   AS mean_cents,
        |  CAST(count(*) AS BIGINT) AS n_cal
        | FROM p WHERE half = 0 GROUP BY 1),
        |sc AS (
        | SELECT abs(cents - mean_cents) AS score
        | FROM p JOIN m USING (p_brand) WHERE half = 0),
        |k AS (SELECT (9 * (count(*) + 1) + 9) // 10 AS k FROM sc),
        |q AS (
        | SELECT score AS q_hat FROM (
        |  SELECT score, row_number() OVER (ORDER BY score ASC) AS rk
        |  FROM sc), k
        | WHERE rk = k)
        |SELECT p_brand, mean_cents, q_hat, n_cal,
        | CAST(count(*) AS BIGINT) AS n_eval,
        | CAST(sum(CASE WHEN abs(cents - mean_cents) <= q_hat
        |   THEN 1 ELSE 0 END) AS BIGINT) AS covered,
        | CAST(sum(CASE WHEN abs(cents - mean_cents) <= q_hat
        |   THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |  AS coverage_ppm
        |FROM p JOIN m USING (p_brand) CROSS JOIN q
        |WHERE half = 1
        |GROUP BY p_brand, mean_cents, q_hat, n_cal
        |ORDER BY p_brand""".stripMargin,

    // label-centroid cosines: exact integer-micro sum vectors (cosine is
    // scale-invariant, so no mean division), BIGINT dot/norms, one
    // IEEE-deterministic sqrt/mul/div finalization
    "q285_label_centroids" ->
      """WITH e AS (
        | SELECT label, embedding AS v FROM embeddings
        | WHERE embedding IS NOT NULL),
        |x AS (
        | SELECT label, unnest(list_transform(range(0, len(v)),
        |   i -> {'i': i,
        |         'x': CAST(round(CAST(v[i+1] AS DOUBLE), 6)
        |               AS DECIMAL(25,6))})) AS u
        | FROM e),
        |s AS (
        | SELECT label, u.i AS i,
        |  CAST(sum(u.x) * 1000000 AS BIGINT) AS s
        | FROM x GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |nrm AS (
        | SELECT label, CAST(sum(s * s) AS BIGINT) AS norm2
        | FROM s GROUP BY 1),
        |d AS (
        | SELECT a.label AS label_a, b.label AS label_b,
        |  CAST(sum(a.s * b.s) AS BIGINT) AS dot
        | FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
        | GROUP BY 1, 2)
        |SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b, dot,
        | CAST(dot AS DOUBLE)
        |  / (sqrt(CAST(ra.norm2 AS DOUBLE)) * sqrt(CAST(rb.norm2 AS DOUBLE)))
        |  AS cos
        |FROM d
        | JOIN n na ON na.label = label_a JOIN n nb ON nb.label = label_b
        | JOIN nrm ra ON ra.label = label_a JOIN nrm rb ON rb.label = label_b
        |ORDER BY label_a, label_b""".stripMargin,

    // kNN label agreement: the q21 brute-force replay over the every-10th
    // probe set, neighbors vote labels, per-label ppm agreement
    "q286_label_agreement" ->
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
         | FROM embeddings WHERE vec_id % 10 = 0),
         |c AS (
         | SELECT vec_id AS neighbor_id, embedding AS cv, label AS clabel
         | FROM embeddings),
         |scored AS (
         | SELECT query_id, qlabel, neighbor_id, clabel,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, qlabel, neighbor_id, clabel,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, neighbor_id ASC) AS rnk
         | FROM sims),
         |agree AS (
         | SELECT query_id, qlabel,
         |  CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |   AS matches
         | FROM ranked WHERE rnk <= 5 GROUP BY 1, 2)
         |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
         | CAST(sum(matches) AS BIGINT) AS n_matches,
         | CAST(sum(matches) * 200000 // count(*) AS BIGINT)
         |  AS mean_agree_ppm,
         | CAST(sum(CASE WHEN matches < 2 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_flagged
         |FROM agree GROUP BY 1 ORDER BY label""".stripMargin,

    // discount elasticity: closed-form OLS slope with exact BIGINT
    // numerator/denominator, one double division; direction from the
    // exact numerator sign
    "q287_discount_elasticity" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT) AS x,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        | FROM lineitem),
        |a AS (
        | SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |f AS (
        | SELECT p_brand, n,
        |  n * sxy - sx * sy AS slope_num,
        |  n * sxx - sx * sx AS slope_den
        | FROM a)
        |SELECT p_brand, n, slope_num, slope_den,
        | CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE) AS slope,
        | CASE WHEN slope_num < 0 THEN 'negative'
        |      WHEN slope_num > 0 THEN 'positive' ELSE 'flat' END
        |  AS direction
        |FROM f ORDER BY p_brand""".stripMargin,

    // weighted median / p90 by cumulative-weight crossing on collapsed
    // price runs; thresholds cross-multiplied, no division
    "q288_weighted_median" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS price_cents,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        | FROM lineitem),
        |runs AS (
        | SELECT p_brand, price_cents, CAST(sum(w) AS BIGINT) AS w
        | FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |c AS (
        | SELECT p_brand, price_cents, w,
        |  CAST(sum(w) OVER (PARTITION BY p_brand ORDER BY price_cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cw,
        |  CAST(sum(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tot
        | FROM runs)
        |SELECT p_brand, max(tot) AS total_w,
        | min(CASE WHEN cw * 2 >= tot THEN price_cents END)
        |  AS wmedian_cents,
        | min(CASE WHEN cw * 10 >= tot * 9 THEN price_cents END)
        |  AS wp90_cents
        |FROM c GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Newman modularity of the %700 email partition over the q245
    // contact graph: per-community 4m*L_c - d_c^2 in exact BIGINT
    "q289_modularity" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |e0 AS (
        | SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |e AS (SELECT a, b, a % 700 AS ca, b % 700 AS cb FROM e0),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |ends AS (
        | SELECT a AS id, ca AS c FROM e
        | UNION ALL SELECT b, cb FROM e),
        |d AS (
        | SELECT c, CAST(count(*) AS BIGINT) AS d_c,
        |  CAST(count(DISTINCT id) AS BIGINT) AS n_nodes
        | FROM ends GROUP BY 1),
        |l AS (
        | SELECT ca AS c, CAST(count(*) AS BIGINT) AS l_c
        | FROM e WHERE ca = cb GROUP BY 1)
        |SELECT d.c AS community, n_nodes, d_c,
        | coalesce(l_c, 0) AS l_c,
        | 4 * m * coalesce(l_c, 0) - d_c * d_c AS contrib_scaled,
        | CAST(4 * m * coalesce(l_c, 0) - d_c * d_c AS DOUBLE)
        |  / CAST(4 * m * m AS DOUBLE) AS contrib_q
        |FROM d LEFT JOIN l ON d.c = l.c CROSS JOIN m
        |ORDER BY community""".stripMargin,

    // rendezvous sharding 8 -> 9: portable-md5 argmax per doc; the HRW
    // reshard guarantee (every move lands on the new shard) exact
    "q290_rendezvous" ->
      """WITH dd AS (
        | SELECT doc_id, s FROM documents,
        |  (SELECT unnest(range(0, 9)) AS s)),
        |h AS (
        | SELECT doc_id, s,
        |  CAST('0x' || substr(md5(CAST(s AS VARCHAR) || ':'
        |    || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        | FROM dd),
        |s8 AS (
        | SELECT doc_id, s AS shard8 FROM (
        |  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, s DESC) AS rn
        |  FROM h WHERE s < 8) WHERE rn = 1),
        |s9 AS (
        | SELECT doc_id, s AS shard9 FROM (
        |  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, s DESC) AS rn
        |  FROM h) WHERE rn = 1)
        |SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_moved,
        | CAST(sum(CASE WHEN shard8 <> shard9 AND shard9 = 8
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new,
        | CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
        |  * 1000000 // count(*) AS BIGINT) AS moved_ppm
        |FROM s8 JOIN s9 USING (doc_id)
        |GROUP BY 1 ORDER BY shard""".stripMargin,

    // information gain via N*1e6-scaled entropies over frozen ln-micros
    // terms; one double division at the end
    "q291_info_gain" ->
      """WITH d1 AS (SELECT source AS x, lang AS y FROM documents),
        |d2 AS (
        | SELECT n_chars // 500 AS x, lang AS y FROM documents),
        |f1 AS (
        | WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d1),
        | hy AS (
        |  SELECT CAST(-sum(n_y * CAST(round(round(ln(
        |     CAST(n_y AS DOUBLE) / n_total), 6) * 1e6) AS BIGINT))
        |    AS BIGINT) AS h_y_scaled
        |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS n_y
        |        FROM d1 GROUP BY 1), n),
        | nx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_x
        |        FROM d1 GROUP BY 1),
        | hc AS (
        |  SELECT CAST(-sum(n_xy * CAST(round(round(ln(
        |     CAST(n_xy AS DOUBLE) / n_x), 6) * 1e6) AS BIGINT))
        |    AS BIGINT) AS h_cond_scaled
        |  FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
        |        FROM d1 GROUP BY 1, 2) JOIN nx USING (x))
        | SELECT 'source' AS feature, n_total, h_y_scaled, h_cond_scaled,
        |  h_y_scaled - h_cond_scaled AS ig_scaled,
        |  CAST(h_y_scaled - h_cond_scaled AS DOUBLE)
        |   / (CAST(n_total AS DOUBLE) * 1e6) AS ig_nats
        | FROM hy, hc, n),
        |f2 AS (
        | WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d2),
        | hy AS (
        |  SELECT CAST(-sum(n_y * CAST(round(round(ln(
        |     CAST(n_y AS DOUBLE) / n_total), 6) * 1e6) AS BIGINT))
        |    AS BIGINT) AS h_y_scaled
        |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS n_y
        |        FROM d2 GROUP BY 1), n),
        | nx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_x
        |        FROM d2 GROUP BY 1),
        | hc AS (
        |  SELECT CAST(-sum(n_xy * CAST(round(round(ln(
        |     CAST(n_xy AS DOUBLE) / n_x), 6) * 1e6) AS BIGINT))
        |    AS BIGINT) AS h_cond_scaled
        |  FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
        |        FROM d2 GROUP BY 1, 2) JOIN nx USING (x))
        | SELECT 'len_band' AS feature, n_total, h_y_scaled, h_cond_scaled,
        |  h_y_scaled - h_cond_scaled AS ig_scaled,
        |  CAST(h_y_scaled - h_cond_scaled AS DOUBLE)
        |   / (CAST(n_total AS DOUBLE) * 1e6) AS ig_nats
        | FROM hy, hc, n)
        |SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |ORDER BY feature""".stripMargin,

    // half-life decayed popularity: dyadic 2^(30-w) weights via integer
    // shifts — exact BIGINT scores, integer ranking
    "q292_decayed_popularity" ->
      """WITH mx AS (
        | SELECT max(CAST(o_orderdate AS DATE)) AS max_d FROM orders),
        |sc AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
        |  (CAST(1 AS BIGINT) << CAST(30 - least(
        |    date_diff('day', CAST(o_orderdate AS DATE), max_d) // 7, 30)
        |   AS INT)) AS wt
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  CROSS JOIN mx),
        |agg AS (
        | SELECT l_partkey, CAST(sum(q * wt) AS BIGINT) AS score_scaled
        | FROM sc GROUP BY 1),
        |r AS (
        | SELECT *, row_number() OVER (ORDER BY score_scaled DESC,
        |   l_partkey ASC) AS "rank"
        | FROM agg)
        |SELECT "rank", l_partkey, score_scaled,
        | CAST(score_scaled AS DOUBLE) / 107374182400.0 AS decayed_units
        |FROM r WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // mutual top-1 (reciprocal best match) on the every-5th subset — the
    // q21 brute-force replay, self-joined for reciprocity
    "q293_mutual_nn" ->
      s"""WITH u AS (
         | SELECT vec_id, embedding, label FROM embeddings
         | WHERE vec_id % 5 = 0),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM u),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM u),
         |scored AS (
         | SELECT query_id, neighbor_id,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |nn1 AS (
         | SELECT query_id, neighbor_id, round(sim, 6) AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sims)
         | WHERE rnk = 1)
         |SELECT a.query_id AS id_a, a.neighbor_id AS id_b, a.cos,
         | la.label = lb.label AS same_label
         |FROM nn1 a JOIN nn1 b
         |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |  AND a.query_id < a.neighbor_id
         | JOIN u la ON la.vec_id = a.query_id
         | JOIN u lb ON lb.vec_id = a.neighbor_id
         |ORDER BY id_a""".stripMargin,

    // RBO@d curve, p = 1/2: dyadic weights -> exact integer terms
    // X_d * 2^(20-d) * (lcm(1..20)/d); one double division per row
    "q294_rbo" ->
      s"""WITH lex AS (
         | SELECT doc_id, CAST("rank" AS BIGINT) AS ra FROM ($q76Sql)),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |      FROM embeddings),
         |scored AS (
         | SELECT neighbor_id,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c, q WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |dense AS (
         | SELECT neighbor_id AS doc_id, CAST(rnk AS BIGINT) AS rb
         | FROM (SELECT neighbor_id, row_number() OVER
         |   (ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sims)
         | WHERE rnk <= 20),
         |ov AS (
         | SELECT d, CAST(count(*) AS BIGINT) AS overlap_d FROM (
         |  SELECT unnest(range(greatest(ra, rb), 21)) AS d
         |  FROM lex JOIN dense USING (doc_id))
         | GROUP BY 1),
         |spine AS (SELECT unnest(range(1, 21)) AS d),
         |terms AS (
         | SELECT spine.d AS d, coalesce(overlap_d, 0) AS overlap_d,
         |  coalesce(overlap_d, 0)
         |   * (CAST(1 AS BIGINT) << CAST(20 - spine.d AS INT))
         |   * (232792560 // spine.d) AS term_scaled
         | FROM spine LEFT JOIN ov ON spine.d = ov.d)
         |SELECT CAST(d AS BIGINT) AS d, overlap_d,
         | CAST(term_scaled AS BIGINT) AS term_scaled,
         | CAST(sum(term_scaled) OVER (ORDER BY d
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |  / CAST(CAST(232792560 AS BIGINT) << 20 AS DOUBLE) AS rbo_cum
         |FROM terms ORDER BY d""".stripMargin,

    // hot-set drift: early/late halves split at the exact micro-epoch
    // midpoint; rising/falling decided on cross-multiplied counts
    "q295_hotset_drift" ->
      """WITH ev AS (
        | SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        | FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
        |h AS (
        | SELECT event_type,
        |  CAST(sum(CASE WHEN us < mid_us THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_early,
        |  CAST(sum(CASE WHEN us >= mid_us THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_late
        | FROM ev, mid GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n_early) AS BIGINT) AS tot_early,
        |  CAST(sum(n_late) AS BIGINT) AS tot_late FROM h)
        |SELECT event_type, n_early, n_late,
        | CASE WHEN n_early = 0 AND n_late > 0 THEN 'new'
        |      WHEN n_late = 0 AND n_early > 0 THEN 'gone'
        |      WHEN n_late * tot_early > n_early * tot_late THEN 'rising'
        |      WHEN n_late * tot_early < n_early * tot_late THEN 'falling'
        |      ELSE 'stable' END AS trend,
        | CASE WHEN n_early > 0 THEN
        |  CAST(n_late * tot_early * 1000000 // (n_early * tot_late)
        |   AS BIGINT) END AS rate_ratio_ppm
        |FROM h, tot ORDER BY event_type""".stripMargin,

    // Kendall tau-b: sign-logic pair census over the brand dimension,
    // exact C/D/tie counts, IEEE-deterministic sqrt finalization
    "q296_kendall_tau" ->
      """WITH b AS (
        | SELECT p_brand,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS qty
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |p AS (
        | SELECT CAST(sign(a.rev - b2.rev) AS BIGINT) AS sx,
        |  CAST(sign(a.qty - b2.qty) AS BIGINT) AS sy
        | FROM b a JOIN b b2 ON a.p_brand < b2.p_brand),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_brands FROM b),
        |agg AS (
        | SELECT
        |  CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS concordant,
        |  CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS discordant,
        |  CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS ties_x,
        |  CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS ties_y
        | FROM p)
        |SELECT n_brands, n_brands * (n_brands - 1) // 2 AS n0,
        | concordant, discordant, ties_x, ties_y,
        | CAST(concordant - discordant AS DOUBLE)
        |  / (sqrt(CAST(n_brands * (n_brands - 1) // 2 - ties_x AS DOUBLE))
        |   * sqrt(CAST(n_brands * (n_brands - 1) // 2 - ties_y AS DOUBLE)))
        |  AS tau_b
        |FROM agg, n""".stripMargin,

    // per-source KS + 1-D EMD vs complement: CDF deviations as
    // cross-multiplied integers |cumA*Nb - cumB*Na|
    "q297_dist_drift" ->
      """WITH docs AS (SELECT source, n_chars FROM documents),
        |h AS (
        | SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        | FROM docs GROUP BY 1, 2),
        |g AS (
        | SELECT n_chars, CAST(count(*) AS BIGINT) AS gcnt
        | FROM docs GROUP BY 1),
        |grid AS (
        | SELECT s.source, g.n_chars, coalesce(h.cnt, 0) AS cnt, g.gcnt
        | FROM g CROSS JOIN (SELECT DISTINCT source FROM docs) s
        |  LEFT JOIN h ON h.source = s.source AND h.n_chars = g.n_chars),
        |cum AS (
        | SELECT source, n_chars,
        |  sum(cnt) OVER w AS cum_a, sum(gcnt) OVER w AS cum_t,
        |  coalesce(lead(n_chars, 1) OVER w - n_chars, 0) AS gap
        | FROM grid
        | WINDOW w AS (PARTITION BY source ORDER BY n_chars
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |na AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_s
        | FROM docs GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM docs),
        |dev AS (
        | SELECT cum.source, n_s, n_all,
        |  abs(cum_a * (n_all - n_s) - (cum_t - cum_a) * n_s) AS dev, gap
        | FROM cum JOIN na ON cum.source = na.source CROSS JOIN nt)
        |SELECT source, n_s,
        | CAST(max(dev) AS BIGINT) AS ks_scaled,
        | CAST(max(dev) AS DOUBLE)
        |  / CAST(n_s * (max(n_all) - n_s) AS DOUBLE) AS ks,
        | CAST(sum(dev * gap) AS BIGINT) AS emd_scaled,
        | CAST(sum(dev * gap) AS DOUBLE)
        |  / CAST(n_s * (max(n_all) - n_s) AS DOUBLE) AS emd_chars
        |FROM dev GROUP BY source, n_s ORDER BY source""".stripMargin,

    // Mann-Whitney U / AUC, exact under ties via doubled midranks
    "q298_mann_whitney" ->
      """WITH byv AS (
        | SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS pos_cnt
        | FROM documents GROUP BY 1),
        |r AS (
        | SELECT *,
        |  2 * (sum(cnt) OVER (ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |   + cnt + 1 AS midrank2
        | FROM byv),
        |agg AS (
        | SELECT CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
        |  CAST(sum(cnt - pos_cnt) AS BIGINT) AS n_neg,
        |  CAST(sum(pos_cnt * midrank2) AS BIGINT) AS r1_2
        | FROM r)
        |SELECT n_pos, n_neg,
        | r1_2 - n_pos * (n_pos + 1) AS u2,
        | CAST(r1_2 - n_pos * (n_pos + 1) AS DOUBLE)
        |  / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
        |FROM agg""".stripMargin,

    // exact largest-remainder revenue proration across the order ->
    // latest-ship month range; allocations sum exactly to the total
    "q299_revenue_proration" ->
      """WITH o AS (
        | SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS total_cents,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
        |   AS sm
        | FROM orders),
        |se AS (
        | SELECT l_orderkey,
        |  CAST(max(year(l_shipdate) * 12 + month(l_shipdate) - 1)
        |   AS BIGINT) AS em
        | FROM lineitem GROUP BY 1),
        |spans AS (
        | SELECT total_cents, sm,
        |  greatest(em, sm) - sm + 1 AS m
        | FROM o JOIN se ON o_orderkey = l_orderkey),
        |alloc AS (
        | SELECT (sm + i) // 12 * 100 + (sm + i) % 12 + 1 AS ym,
        |  total_cents // m
        |   + CASE WHEN i < total_cents % m THEN 1 ELSE 0 END AS alloc
        | FROM (SELECT total_cents, sm, m, unnest(range(0, m)) AS i
        |       FROM spans))
        |SELECT ym, CAST(count(*) AS BIGINT) AS n_slices,
        | CAST(sum(alloc) AS BIGINT) AS recognized_cents
        |FROM alloc GROUP BY 1 ORDER BY ym""".stripMargin,

    // Lorenz deciles: ascending explicit row_number deciles over exact
    // cent spend (zero-spend customers included), cumulative ppm share
    "q300_lorenz_deciles" ->
      """WITH spend AS (
        | SELECT c_custkey, coalesce(cents, 0) AS cents
        | FROM customer LEFT JOIN (
        |  SELECT o_custkey,
        |   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |     AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
        |n AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM spend),
        |d AS (
        | SELECT CAST(1 + (row_number() OVER (ORDER BY cents ASC,
        |    c_custkey ASC) - 1) * 10 // n_cust AS INT) AS decile,
        |  cents, total_cents
        | FROM spend, n),
        |agg AS (
        | SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS decile_cents,
        |  max(total_cents) AS total_cents
        | FROM d GROUP BY 1)
        |SELECT decile, n_customers, decile_cents,
        | CAST(sum(decile_cents) OVER (ORDER BY decile
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_cents,
        | CAST(sum(decile_cents) OVER (ORDER BY decile
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  * 1000000 // total_cents AS BIGINT) AS cum_share_ppm
        |FROM agg ORDER BY decile""".stripMargin,

    // 3-player Shapley attribution: exposure masks, ppm coalition
    // values, exact {2,1,1,2}/6 weights as 6-scaled BIGINTs
    "q301_shapley_attribution" ->
      """WITH ev AS (
        | SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        | FROM events),
        |fb AS (
        | SELECT user_id, min(ts) AS buy_ts FROM ev
        | WHERE event_type = 'purchase' GROUP BY 1),
        |mk AS (
        | SELECT e.user_id, fb.buy_ts IS NOT NULL AS converted,
        |  CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |   + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |   + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS mask
        | FROM ev e LEFT JOIN fb ON e.user_id = fb.user_id
        | WHERE fb.buy_ts IS NULL OR e.ts < fb.buy_ts
        | GROUP BY 1, 2),
        |v AS (
        | SELECT mask,
        |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS v_ppm
        | FROM mk GROUP BY 1),
        |terms AS (
        | SELECT b, m AS s_mask, m + bv AS si_mask,
        |  CAST(CASE WHEN m % 2 + (m // 2) % 2 + (m // 4) % 2 = 1
        |   THEN 1 ELSE 2 END AS BIGINT) AS w6
        | FROM (
        |  SELECT b, CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS bv,
        |   m
        |  FROM (SELECT unnest(range(0, 3)) AS b),
        |   (SELECT unnest(range(0, 8)) AS m))
        | WHERE (m // bv) % 2 = 0),
        |phi AS (
        | SELECT b,
        |  CAST(sum(w6 * (coalesce(v2.v_ppm, 0) - coalesce(v1.v_ppm, 0)))
        |   AS BIGINT) AS phi_scaled6
        | FROM terms LEFT JOIN v v1 ON v1.mask = terms.s_mask
        |  LEFT JOIN v v2 ON v2.mask = terms.si_mask
        | GROUP BY 1)
        |SELECT CASE b WHEN 0 THEN 'click' WHEN 1 THEN 'view'
        |  ELSE 'signup' END AS channel,
        | phi_scaled6, CAST(phi_scaled6 AS DOUBLE) / 6.0 AS phi_ppm
        |FROM phi ORDER BY channel""".stripMargin,

    // Oaxaca mix/rate decomposition: exact integer inputs, fixed-shape
    // double expression trees (the q258 discipline)
    "q302_metric_decomposition" ->
      """WITH o AS (
        | SELECT o_orderpriority AS seg,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        | FROM orders),
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM o),
        |seg AS (
        | SELECT seg,
        |  CAST(sum(CASE WHEN day < mid_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_early,
        |  CAST(sum(CASE WHEN day < mid_day THEN cents ELSE 0 END)
        |   AS BIGINT) AS rev_early,
        |  CAST(sum(CASE WHEN day >= mid_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_late,
        |  CAST(sum(CASE WHEN day >= mid_day THEN cents ELSE 0 END)
        |   AS BIGINT) AS rev_late
        | FROM o, mid GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n_early) AS BIGINT) AS te,
        |  CAST(sum(n_late) AS BIGINT) AS tl FROM seg)
        |SELECT seg, n_early, n_late, rev_early, rev_late,
        | (CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE)
        |  - CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE))
        |  * (CAST(rev_early AS DOUBLE) / CAST(n_early AS DOUBLE))
        |  AS mix_effect,
        | (CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE))
        |  * (CAST(rev_late AS DOUBLE) / CAST(n_late AS DOUBLE)
        |   - CAST(rev_early AS DOUBLE) / CAST(n_early AS DOUBLE))
        |  AS rate_effect
        |FROM seg, tot ORDER BY seg""".stripMargin,

    // Simpson screen: per-brand exact slope-numerator sign vs pooled
    "q303_simpson_flags" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT) AS x,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        | FROM lineitem),
        |j AS (
        | SELECT p_brand, x, y
        | FROM li JOIN part ON l_partkey = p_partkey),
        |b AS (
        | SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS HUGEINT) * CAST(sum(x * y) AS HUGEINT)
        |   - CAST(sum(x) AS HUGEINT) * CAST(sum(y) AS HUGEINT) AS num
        | FROM j GROUP BY 1),
        |p AS (
        | SELECT CAST(count(*) AS HUGEINT) * CAST(sum(x * y) AS HUGEINT)
        |  - CAST(sum(x) AS HUGEINT) * CAST(sum(y) AS HUGEINT) AS pooled_num
        | FROM j)
        |SELECT p_brand, n,
        | CAST(sign(num) AS BIGINT) AS brand_sign,
        | CAST(sign(pooled_num) AS BIGINT) AS pooled_sign,
        | sign(num) * sign(pooled_num) = -1 AS simpson_flip
        |FROM b, p ORDER BY p_brand""".stripMargin,

    // per-priority exact latency order stats + 90-day breach ppm
    "q304_priority_sla" ->
      """WITH lat AS (
        | SELECT o_orderpriority AS priority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (
        | SELECT priority, days,
        |  CAST(row_number() OVER (PARTITION BY priority ORDER BY days ASC)
        |   AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
        | FROM lat)
        |SELECT priority, n,
        | min(CASE WHEN rk * 2 >= n THEN days END) AS p50_days,
        | min(CASE WHEN rk * 10 >= n * 9 THEN days END) AS p90_days,
        | min(CASE WHEN rk * 100 >= n * 99 THEN days END) AS p99_days,
        | CAST(sum(CASE WHEN days > 90 THEN 1 ELSE 0 END) * 1000000
        |  // max(n) AS BIGINT) AS breach_ppm
        |FROM r GROUP BY priority, n ORDER BY priority""".stripMargin,

    // prefix-cache audit: shared leading-2-token groups, exact
    // (g-1)*prefix_tokens savings
    "q305_prefix_cache" ->
      s"""WITH pre AS (
         | SELECT doc_id,
         |  array_to_string(${toksSql("text")}[1:2], ' ') AS prefix,
         |  CAST(least(len(${toksSql("text")}), 2) AS BIGINT) AS p_tokens
         | FROM documents),
         |g AS (
         | SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(p_tokens) AS prefix_tokens
         | FROM pre GROUP BY 1)
         |SELECT prefix, n_docs, prefix_tokens,
         | (n_docs - 1) * prefix_tokens AS saved_tokens
         |FROM g WHERE n_docs >= 2
         |ORDER BY saved_tokens DESC, prefix ASC""".stripMargin,

    // per-source embedding norm audit: q151 micro-product discipline,
    // cross-multiplied 20% deviation flag
    "q306_norm_audit" ->
      """WITH e AS (
        | SELECT d.source, em.embedding AS v
        | FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id
        | WHERE em.embedding IS NOT NULL),
        |p AS (
        | SELECT source, unnest(list_transform(range(1, len(v)+1),
        |   i -> CAST(round(CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE), 6)
        |        AS DECIMAL(25,6)))) AS p2
        | FROM e),
        |n AS (
        | SELECT source, CAST(sum(p2) * 1000000 AS BIGINT) AS s_micros,
        |  CAST(count(*) // 64 AS BIGINT) AS n_vecs
        | FROM p GROUP BY 1),
        |g AS (
        | SELECT CAST(sum(s_micros) AS BIGINT) AS g_micros,
        |  CAST(sum(n_vecs) AS BIGINT) AS g_vecs FROM n)
        |SELECT source, n_vecs, s_micros,
        | CAST(s_micros AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e6)
        |  AS mean_norm2,
        | abs(5 * s_micros * g_vecs - 5 * g_micros * n_vecs)
        |  > g_micros * n_vecs AS deviates
        |FROM n, g ORDER BY source""".stripMargin,

    // grouped Pearson: exact BIGINT num/d1/d2, IEEE sqrt finalization
    "q307_grouped_pearson" ->
      s"""WITH d AS (
         | SELECT source, CAST(n_chars AS BIGINT) AS x,
         |  CAST(${tokenCountSql("text")} AS BIGINT) AS y
         | FROM documents),
         |a AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx,
         |  CAST(sum(y * y) AS BIGINT) AS syy
         | FROM d GROUP BY 1)
         |SELECT source, n,
         | n * sxy - sx * sy AS num,
         | n * sxx - sx * sx AS d1,
         | n * syy - sy * sy AS d2,
         | CAST(n * sxy - sx * sy AS DOUBLE)
         |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
         |FROM a ORDER BY source""".stripMargin,

    // click position-bias: q18 session gap rule, (ts, event_id)-ordered
    // positions, cross-multiplied ratio vs position 1
    "q308_position_bias" ->
      """WITH f AS (
        | SELECT user_id, event_id, event_type, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |s2 AS (
        | SELECT user_id, event_id, event_type, ts,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS session_seq
        | FROM f),
        |pos AS (
        | SELECT CAST(rn AS BIGINT) AS pos, event_type FROM (
        |  SELECT event_type, row_number() OVER (PARTITION BY user_id,
        |    session_seq ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM s2) WHERE rn <= 10),
        |agg AS (
        | SELECT pos, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_clicks
        | FROM pos GROUP BY 1),
        |p1 AS (
        | SELECT n_events AS n1, n_clicks AS c1 FROM agg WHERE pos = 1)
        |SELECT pos, n_events, n_clicks,
        | CAST(n_clicks * 1000000 // n_events AS BIGINT) AS click_ppm,
        | CASE WHEN c1 > 0 THEN
        |  CAST(n_clicks * n1 * 1000000 // (n_events * c1) AS BIGINT)
        | END AS vs_pos1_ppm
        |FROM agg, p1 ORDER BY pos""".stripMargin,

    // two-way (year x priority) effects in integer micro-cents via
    // floor DIV of exact cent sums
    "q309_two_way_effects" ->
      """WITH o AS (
        | SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  o_orderpriority AS pri,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM orders),
        |cell AS (
        | SELECT yr, pri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) * 1000000 // count(*) AS BIGINT) AS cell_micro
        | FROM o GROUP BY 1, 2),
        |r AS (
        | SELECT yr, CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
        |   AS row_micro
        | FROM o GROUP BY 1),
        |c AS (
        | SELECT pri, CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
        |   AS col_micro
        | FROM o GROUP BY 1),
        |g AS (
        | SELECT CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
        |   AS grand_micro
        | FROM o)
        |SELECT cell.yr, cell.pri, n, cell_micro,
        | row_micro - grand_micro AS year_effect_micro,
        | col_micro - grand_micro AS pri_effect_micro,
        | cell_micro - row_micro - col_micro + grand_micro AS resid_micro
        |FROM cell JOIN r ON cell.yr = r.yr JOIN c ON cell.pri = c.pri
        | CROSS JOIN g
        |ORDER BY 1, 2""".stripMargin,

    // binary-segmentation changepoint: exact HUGEINT d = S1*n2 - S2*n1
    // (sf1 overflows BIGINT), double via the exact-digit-string parse
    // (the only decimal->double path correctly rounded in both engines),
    // day-tiebroken argmax, top 3
    "q310_changepoint" ->
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS dn,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS ds
        | FROM orders GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(dn) AS BIGINT) AS n_all,
        |  CAST(sum(ds) AS BIGINT) AS s_all FROM daily),
        |cum AS (
        | SELECT day,
        |  CAST(sum(dn) OVER w AS BIGINT) AS n1,
        |  CAST(sum(ds) OVER w AS BIGINT) AS s1
        | FROM daily
        | WINDOW w AS (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |stat AS (
        | SELECT day, n1, s1, n_all - n1 AS n2, s_all - s1 AS s2,
        |  CAST(s1 AS HUGEINT) * (n_all - n1)
        |   - CAST(s_all - s1 AS HUGEINT) * n1 AS d_stat
        | FROM cum, tot WHERE n1 < n_all),
        |gain AS (
        | SELECT day, n1, n2, s1, s2,
        |  (CAST(CAST(d_stat AS VARCHAR) AS DOUBLE)
        |    * CAST(CAST(d_stat AS VARCHAR) AS DOUBLE))
        |   / CAST(n1 * n2 AS DOUBLE) AS gain
        | FROM stat)
        |SELECT CAST(rk AS BIGINT) AS rk, day, n1, n2, s1, s2, gain
        |FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, day ASC)
        |       AS rk FROM gain)
        |WHERE rk <= 3 ORDER BY rk""".stripMargin,

    // Lincoln-Petersen + Chapman capture-recapture vs the true count
    "q311_capture_recapture" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        | FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
        |mk AS (
        | SELECT user_id,
        |  max(CASE WHEN us < mid_us THEN 1 ELSE 0 END) AS in_early,
        |  max(CASE WHEN us >= mid_us THEN 1 ELSE 0 END) AS in_late
        | FROM ev, mid GROUP BY 1),
        |a AS (
        | SELECT CAST(sum(in_early) AS BIGINT) AS n1,
        |  CAST(sum(in_late) AS BIGINT) AS n2,
        |  CAST(sum(in_early * in_late) AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS true_total
        | FROM mk)
        |SELECT n1, n2, m, n1 * n2 // m AS lincoln_est,
        | (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman_est, true_total
        |FROM a""".stripMargin,

    // diff-in-differences on purchase value: four exact cells, one
    // fixed-shape double tree
    "q312_diff_in_diff" ->
      """WITH ev AS (
        | SELECT user_id, event_type,
        |  CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        | FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
        |tr AS (SELECT DISTINCT user_id FROM ev
        |       WHERE event_type = 'signup'),
        |cells AS (
        | SELECT tr.user_id IS NOT NULL AS treated, us >= mid_us AS post,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        | FROM ev LEFT JOIN tr ON ev.user_id = tr.user_id CROSS JOIN mid
        | WHERE event_type = 'purchase'
        | GROUP BY 1, 2),
        |w AS (
        | SELECT
        |  sum(CASE WHEN treated AND post THEN s END) AS s_tp,
        |  sum(CASE WHEN treated AND post THEN n END) AS n_tp,
        |  sum(CASE WHEN treated AND NOT post THEN s END) AS s_t0,
        |  sum(CASE WHEN treated AND NOT post THEN n END) AS n_t0,
        |  sum(CASE WHEN NOT treated AND post THEN s END) AS s_cp,
        |  sum(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
        |  sum(CASE WHEN NOT treated AND NOT post THEN s END) AS s_c0,
        |  sum(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c0
        | FROM cells)
        |SELECT CAST(n_tp AS BIGINT) AS n_tp, CAST(n_t0 AS BIGINT) AS n_t0,
        | CAST(n_cp AS BIGINT) AS n_cp, CAST(n_c0 AS BIGINT) AS n_c0,
        | (CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
        |  - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
        | - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
        |  - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) AS did_cents
        |FROM w""".stripMargin,

    // dormant-entity audit: anti-join counts + ppm per dimension
    "q313_dormant_entities" ->
      """WITH p AS (
        | SELECT 'part' AS dimension,
        |  CAST((SELECT count(*) FROM part) AS BIGINT) AS n_total,
        |  CAST((SELECT count(*) FROM part WHERE p_partkey NOT IN
        |    (SELECT DISTINCT l_partkey FROM lineitem)) AS BIGINT)
        |   AS n_dormant),
        |c AS (
        | SELECT 'customer' AS dimension,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
        |  CAST((SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |    (SELECT DISTINCT o_custkey FROM orders)) AS BIGINT)
        |   AS n_dormant),
        |s AS (
        | SELECT 'supplier' AS dimension,
        |  CAST((SELECT count(*) FROM supplier) AS BIGINT) AS n_total,
        |  CAST((SELECT count(*) FROM supplier WHERE s_suppkey NOT IN
        |    (SELECT DISTINCT l_suppkey FROM lineitem)) AS BIGINT)
        |   AS n_dormant),
        |u AS (
        | SELECT * FROM p UNION ALL SELECT * FROM c
        | UNION ALL SELECT * FROM s)
        |SELECT dimension, n_total, n_dormant,
        | CAST(n_dormant * 1000000 // n_total AS BIGINT) AS dormant_ppm
        |FROM u ORDER BY dimension""".stripMargin,

    // additive seasonal split: centered 7-day trend (exact calendar
    // span check), weekly-phase effect by truncating DIV, residual
    "q314_seasonal_decompose" ->
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num
        | FROM orders GROUP BY 1, 3),
        |tr AS (
        | SELECT day, rev_cents, day_num,
        |  CAST(sum(rev_cents) OVER w AS BIGINT) AS win_sum,
        |  max(day_num) OVER w - min(day_num) OVER w AS win_span,
        |  count(*) OVER w AS win_n
        | FROM daily
        | WINDOW w AS (ORDER BY day_num
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        | SELECT day, rev_cents, day_num,
        |  win_sum * 1000000 // 7 AS trend_micro,
        |  rev_cents * 1000000 - win_sum * 1000000 // 7 AS detr_micro,
        |  day_num % 7 AS phase
        | FROM tr WHERE win_n = 7 AND win_span = 6),
        |pe AS (
        | SELECT phase, CAST(sum(detr_micro) // count(*) AS BIGINT)
        |   AS phase_micro
        | FROM d GROUP BY 1)
        |SELECT day, rev_cents, trend_micro, d.phase, phase_micro,
        | detr_micro - phase_micro AS resid_micro
        |FROM d JOIN pe ON d.phase = pe.phase
        |ORDER BY day""".stripMargin,

    // Laspeyres/Paasche/Fisher over milli-cent frozen unit prices;
    // basket sums exact BIGINT, indices in integer ppm
    "q315_price_index" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS rev,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM li),
        |per AS (
        | SELECT l_partkey,
        |  CAST(sum(CASE WHEN day < mid_day THEN rev ELSE 0 END) AS BIGINT)
        |   AS rev0,
        |  CAST(sum(CASE WHEN day < mid_day THEN qty ELSE 0 END) AS BIGINT)
        |   AS qty0,
        |  CAST(sum(CASE WHEN day >= mid_day THEN rev ELSE 0 END)
        |   AS BIGINT) AS rev1,
        |  CAST(sum(CASE WHEN day >= mid_day THEN qty ELSE 0 END)
        |   AS BIGINT) AS qty1
        | FROM li, mid GROUP BY 1),
        |pp AS (
        | SELECT l_partkey, qty0, qty1,
        |  rev0 * 1000 // qty0 AS p0, rev1 * 1000 // qty1 AS p1
        | FROM per WHERE qty0 > 0 AND qty1 > 0),
        |agg AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(p1 * qty0) AS BIGINT) AS l_num,
        |  CAST(sum(p0 * qty0) AS BIGINT) AS l_den,
        |  CAST(sum(p1 * qty1) AS BIGINT) AS p_num,
        |  CAST(sum(p0 * qty1) AS BIGINT) AS p_den
        | FROM pp)
        |SELECT n_parts,
        | CAST(CAST(l_num AS HUGEINT) * 1000000 // l_den AS BIGINT)
        |  AS laspeyres_ppm,
        | CAST(CAST(p_num AS HUGEINT) * 1000000 // p_den AS BIGINT)
        |  AS paasche_ppm,
        | sqrt(CAST(CAST(CAST(l_num AS HUGEINT) * 1000000 // l_den AS BIGINT)
        |  * CAST(CAST(p_num AS HUGEINT) * 1000000 // p_den AS BIGINT)
        |  AS DOUBLE)) AS fisher_ppm
        |FROM agg""".stripMargin,

    // brand audience Jaccard: (cust, brand) dedup, pair intersection,
    // inclusion-exclusion union, integer ppm
    "q316_audience_overlap" ->
      """WITH bc AS (
        | SELECT DISTINCT o_custkey AS cust, p_brand
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey),
        |sz AS (
        | SELECT p_brand, CAST(count(*) AS BIGINT) AS n
        | FROM bc GROUP BY 1),
        |inter AS (
        | SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |  CAST(count(*) AS BIGINT) AS n_both
        | FROM bc a JOIN bc b ON a.cust = b.cust
        |  AND a.p_brand < b.p_brand
        | GROUP BY 1, 2)
        |SELECT brand_a, brand_b, sa.n AS n_a, sb.n AS n_b, n_both,
        | CAST(n_both * 1000000 // (sa.n + sb.n - n_both) AS BIGINT)
        |  AS jaccard_ppm
        |FROM inter
        | JOIN sz sa ON sa.p_brand = brand_a
        | JOIN sz sb ON sb.p_brand = brand_b
        |ORDER BY brand_a, brand_b""".stripMargin,

    // melt part metrics long (UNION ALL = the unpivot), profile per metric
    "q317_unpivot" ->
      """WITH long AS (
        | SELECT p_partkey, 'size' AS metric,
        |  CAST(p_size AS BIGINT) AS value FROM part
        | UNION ALL
        | SELECT p_partkey, 'retail_cents',
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        | FROM part
        | UNION ALL
        | SELECT p_partkey, 'name_chars',
        |  CAST(length(p_name) AS BIGINT) FROM part)
        |SELECT metric, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT value) AS BIGINT) AS ndv,
        | min(value) AS vmin, max(value) AS vmax,
        | CAST(sum(value) AS BIGINT) AS vsum
        |FROM long GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-customer fulfillment-window pair overlaps, per-customer rollup
    "q318_interval_overlap" ->
      """WITH se AS (
        | SELECT l_orderkey,
        |  max(CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(l_shipdate AS DATE)) AS BIGINT)) AS e
        | FROM lineitem GROUP BY 1),
        |ord AS (
        | SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS s, e
        | FROM orders JOIN se ON o_orderkey = l_orderkey),
        |pr AS (
        | SELECT a.o_custkey,
        |  least(a.e, b.e) - greatest(a.s, b.s) + 1 AS ov
        | FROM ord a JOIN ord b ON a.o_custkey = b.o_custkey
        |  AND a.o_orderkey < b.o_orderkey)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_overlapping,
        | CAST(sum(CASE WHEN ov > 0 THEN ov ELSE 0 END) AS BIGINT)
        |  AS sum_overlap_days,
        | CAST(max(CASE WHEN ov > 0 THEN ov ELSE 0 END) AS BIGINT)
        |  AS max_overlap_days
        |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin,

    // daily-revenue ACF lags 1..14: frozen-dollar series, frozen integer
    // mean, exact BIGINT num/den, ppm via HUGEINT floor division
    "q319_acf" ->
      """WITH daily AS (
        | SELECT CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) // 100 AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) // count(*) AS BIGINT) AS m FROM daily),
        |dev AS (
        | SELECT day_num, x - m AS dev FROM daily, st),
        |dn AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM dev),
        |ks AS (SELECT unnest(range(1, 15)) AS k),
        |pairs AS (
        | SELECT k.k, a.dev AS dev_a, b.dev AS dev_b
        | FROM dev a CROSS JOIN ks k
        |  JOIN dev b ON b.day_num = a.day_num + k.k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(CASE WHEN sum(dev_a * dev_b) < 0
        |  THEN -((-sum(dev_a * dev_b)) // 1000000)
        |  ELSE sum(dev_a * dev_b) // 1000000 END AS BIGINT) AS num_e6,
        | CAST(den // 1000000 AS BIGINT) AS den_e6,
        | CAST(CAST(CAST(sum(dev_a * dev_b) AS BIGINT) AS HUGEINT)
        |  * 1000000 // den AS BIGINT) AS acf_ppm
        |FROM pairs, dn GROUP BY k, den ORDER BY k""".stripMargin,

    // seasonal-naive backtest: lag-7 forecast, lag-1 MASE reference,
    // truncating-DIV ppm ratios
    "q320_backtest" ->
      """WITH daily AS (
        | SELECT CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |sc AS (
        | SELECT t.x, f.x AS f, abs(t.x - f.x) AS ae,
        |  abs(t.x - p.x) AS ae1
        | FROM daily t
        |  JOIN daily f ON t.day_num = f.day_num + 7
        |  JOIN daily p ON t.day_num = p.day_num + 1),
        |agg AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(ae) AS BIGINT) AS sum_ae_cents,
        |  CAST(sum(ae1) AS BIGINT) AS sum_ae1_cents,
        |  CAST(sum(ae * 1000000 // x) AS BIGINT) AS sum_ape_ppm,
        |  CAST(sum(ae * 2000000 // (x + f)) AS BIGINT) AS sum_sape_ppm
        | FROM sc)
        |SELECT n_days, sum_ae_cents,
        | sum_ape_ppm // n_days AS mape_ppm,
        | sum_sape_ppm // n_days AS smape_ppm,
        | CAST(CAST(sum_ae_cents AS HUGEINT) * 1000000
        |  // sum_ae1_cents AS BIGINT) AS mase_ppm
        |FROM agg""".stripMargin,

    // PSI of the discount distribution, early vs late half: ppm shares,
    // frozen ln-micros, exact pico-nat terms
    "q321_psi" ->
      """WITH li AS (
        | SELECT CAST(round(l_discount * 100) AS BIGINT) AS bin_centi,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM li),
        |cnt AS (
        | SELECT bin_centi,
        |  CAST(sum(CASE WHEN day < mid_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_early,
        |  CAST(sum(CASE WHEN day >= mid_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_late
        | FROM li, mid GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n_early) AS BIGINT) AS na,
        |  CAST(sum(n_late) AS BIGINT) AS nb FROM cnt),
        |terms AS (
        | SELECT bin_centi, n_early, n_late,
        |  n_early * 1000000 // na AS p_ppm,
        |  n_late * 1000000 // nb AS q_ppm,
        |  CAST(round(round(ln(CAST(n_early * 1000000 // na AS DOUBLE)
        |    / (n_late * 1000000 // nb)), 6) * 1e6) AS BIGINT) AS woe_micro
        | FROM cnt, tot WHERE n_early > 0 AND n_late > 0)
        |SELECT bin_centi, n_early, n_late, p_ppm, q_ppm, woe_micro,
        | (p_ppm - q_ppm) * woe_micro AS term_pico,
        | (SELECT CAST(sum((p_ppm - q_ppm) * woe_micro) AS BIGINT)
        |  FROM terms) AS psi_pico
        |FROM terms ORDER BY bin_centi""".stripMargin,

    // Cohen's kappa between the priority rater and the order-size rater
    "q322_cohens_kappa" ->
      """WITH r AS (
        | SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END AS a,
        |  CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT) >= 15000000 THEN 1 ELSE 0 END AS b
        | FROM orders),
        |cells AS (
        | SELECT
        |  CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n11,
        |  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n10,
        |  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n01,
        |  CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n00
        | FROM r),
        |m AS (
        | SELECT n11, n10, n01, n00,
        |  n11 + n10 + n01 + n00 AS n,
        |  (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        |   AS pe_scaled
        | FROM cells)
        |SELECT n11, n10, n01, n00,
        | (n11 + n00) * 1000000 // n AS po_ppm,
        | CAST(CAST(pe_scaled AS HUGEINT) * 1000000 // (n * n) AS BIGINT)
        |  AS pe_ppm,
        | CAST(CAST(n * (n11 + n00) - pe_scaled AS HUGEINT) * 1000000
        |  // (n * n - pe_scaled) AS BIGINT) AS kappa_ppm
        |FROM m""".stripMargin,

    // t-closeness: per-nation EMD of the acctbal-band distribution vs
    // global, cross-multiplied integer CDF deviations, ppm
    "q323_t_closeness" ->
      """WITH c AS (
        | SELECT c_nationkey,
        |  CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 3000 THEN 1
        |   WHEN c_acctbal < 7000 THEN 2 ELSE 3 END AS band
        | FROM customer),
        |bb AS (
        | SELECT c_nationkey, band, CAST(count(*) AS BIGINT) AS cnt
        | FROM c GROUP BY 1, 2),
        |gb AS (
        | SELECT band, CAST(count(*) AS BIGINT) AS gcnt
        | FROM c GROUP BY 1),
        |grid AS (
        | SELECT n.c_nationkey, g.band,
        |  coalesce(bb.cnt, 0) AS cnt, g.gcnt
        | FROM (SELECT DISTINCT c_nationkey FROM c) n
        |  CROSS JOIN gb g
        |  LEFT JOIN bb ON bb.c_nationkey = n.c_nationkey
        |   AND bb.band = g.band),
        |cum AS (
        | SELECT c_nationkey, band,
        |  sum(cnt) OVER (PARTITION BY c_nationkey ORDER BY band)
        |   AS cum_g,
        |  sum(gcnt) OVER (PARTITION BY c_nationkey ORDER BY band)
        |   AS cum_t
        | FROM grid),
        |ng AS (
        | SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_g
        | FROM c GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM c),
        |emd AS (
        | SELECT cum.c_nationkey, ng.n_g,
        |  CAST(sum(abs(cum_g * n_all - cum_t * n_g)) AS BIGINT)
        |   AS emd_scaled,
        |  max(n_all) AS n_all
        | FROM cum JOIN ng ON cum.c_nationkey = ng.c_nationkey, na
        | WHERE band < 3
        | GROUP BY 1, 2),
        |fin AS (
        | SELECT c_nationkey, n_g, emd_scaled,
        |  CAST(CAST(emd_scaled AS HUGEINT) * 1000000 // (n_g * n_all)
        |   AS BIGINT) AS emd_ppm
        | FROM emd)
        |SELECT c_nationkey, n_g, emd_scaled, emd_ppm,
        | (SELECT max(emd_ppm) FROM fin) AS t_ppm
        |FROM fin ORDER BY c_nationkey""".stripMargin,

    // holdout calibration: early-half return-rate model scored late,
    // exact ppm gaps + Brier numerator
    "q324_calibration" ->
      """WITH li AS (
        | SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS qbin,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM li),
        |model AS (
        | SELECT qbin, CAST(count(*) AS BIGINT) AS n_train,
        |  CAST(sum(y) AS BIGINT) * 1000000 // count(*) AS p_ppm
        | FROM li, mid WHERE day < mid_day GROUP BY 1),
        |bins AS (
        | SELECT li.qbin, n_train, p_ppm,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(y) AS BIGINT) AS y_eval,
        |  CAST(sum((p_ppm - y * 1000000) * (p_ppm - y * 1000000))
        |   AS BIGINT) AS se_sum
        | FROM li JOIN model ON li.qbin = model.qbin, mid
        | WHERE day >= mid_day
        | GROUP BY 1, 2, 3)
        |SELECT qbin, n_train, p_ppm, n_eval, y_eval,
        | y_eval * 1000000 // n_eval AS obs_ppm,
        | p_ppm - y_eval * 1000000 // n_eval AS gap_ppm,
        | CAST(se_sum // n_eval AS BIGINT) AS bin_mse_e12,
        | (SELECT CAST(sum(se_sum) // sum(n_eval) AS BIGINT) FROM bins)
        |  AS brier_e12
        |FROM bins ORDER BY qbin""".stripMargin,

    // coordinated key-hash sample: per-table retained counts/value;
    // orders decide membership locally from o_custkey
    "q325_coordinated_sample" ->
      s"""WITH c AS (
        | SELECT 'customer' AS entity, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN ${ph("CAST(c_custkey AS VARCHAR)", 4242)}
        |    % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN ${ph("CAST(c_custkey AS VARCHAR)", 4242)}
        |    % 100 < 10 THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |    AS BIGINT) ELSE 0 END) AS BIGINT) AS value_kept_cents
        | FROM customer),
        |o AS (
        | SELECT 'orders', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN ${ph("CAST(o_custkey AS VARCHAR)", 4242)}
        |    % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN ${ph("CAST(o_custkey AS VARCHAR)", 4242)}
        |    % 100 < 10 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) ELSE 0 END) AS BIGINT)
        | FROM orders),
        |so AS (
        | SELECT o_orderkey FROM orders
        | WHERE ${ph("CAST(o_custkey AS VARCHAR)", 4242)} % 100 < 10),
        |l AS (
        | SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderkey IS NOT NULL
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) ELSE 0 END) AS BIGINT)
        | FROM lineitem LEFT JOIN so ON l_orderkey = o_orderkey),
        |u AS (
        | SELECT * FROM c UNION ALL SELECT * FROM o
        | UNION ALL SELECT * FROM l)
        |SELECT entity, n_total, n_kept,
        | n_kept * 1000000 // n_total AS kept_ppm, value_kept_cents
        |FROM u ORDER BY entity""".stripMargin,

    // Wald SPRT on the daily return rate: frozen micro-nat LLR
    // constants from literal ratios (e-notation = true doubles)
    "q326_sprt" ->
      """WITH daily AS (
        | SELECT CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
        |  CAST(count(*) AS BIGINT) AS n_tot,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_ret
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1),
        |k AS (
        | SELECT CAST(round(round(ln(0.26e0 / 0.24e0), 6) * 1e6)
        |   AS BIGINT) AS l1,
        |  CAST(round(round(ln(0.74e0 / 0.76e0), 6) * 1e6)
        |   AS BIGINT) AS l0),
        |cum AS (
        | SELECT day_num, n_tot, n_ret,
        |  n_ret * l1 + (n_tot - n_ret) * l0 AS llr_day_micro,
        |  CAST(sum(n_ret * l1 + (n_tot - n_ret) * l0)
        |   OVER (ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_micro
        | FROM daily, k)
        |SELECT day_num, n_tot, n_ret, llr_day_micro, cum_micro,
        | CASE WHEN cum_micro >= 2944439 THEN 'h1'
        |  WHEN cum_micro <= -2944439 THEN 'h0'
        |  ELSE 'continue' END AS state
        |FROM cum ORDER BY day_num""".stripMargin,

    // embedding-collapse audit: hash-bucketed deterministic pairing,
    // portable value-rounded cosine, banded histogram
    "q327_sim_audit" ->
      s"""WITH e AS (
        | SELECT vec_id, embedding FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |r AS (
        | SELECT vec_id, embedding,
        |  ${ph("CAST(vec_id AS VARCHAR)", 909)} AS r FROM e),
        |bk AS (
        | SELECT vec_id, embedding, r, r % 64 AS bkt,
        |  row_number() OVER (PARTITION BY r % 64 ORDER BY r, vec_id)
        |   AS rn
        | FROM r),
        |p AS (
        | SELECT bkt, (rn + 1) // 2 AS pair_id, rn % 2 AS side,
        |  vec_id, embedding
        | FROM bk),
        |j AS (
        | SELECT a.embedding AS va, b.embedding AS vb
        | FROM p a JOIN p b ON a.bkt = b.bkt AND a.pair_id = b.pair_id
        |  AND a.side = 1 AND b.side = 0),
        |cv AS (
        | SELECT floor((${dotSql("va", "vb")}
        |   / (${normSql("va")} * ${normSql("vb")})) * 1e6 + 0.5) / 1e6
        |   AS c6
        | FROM j),
        |bands AS (
        | SELECT CAST(floor(c6 * 10) AS BIGINT) AS band_deci,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CAST(round(c6 * 1e6) AS BIGINT)) AS BIGINT)
        |   AS sum_cos_micro
        | FROM cv GROUP BY 1)
        |SELECT band_deci, n_pairs, sum_cos_micro,
        | (SELECT CAST(sum(n_pairs) AS BIGINT) FROM bands) AS n_total,
        | (SELECT CAST(sum(sum_cos_micro) // sum(n_pairs) AS BIGINT)
        |  FROM bands) AS mean_cos_micro
        |FROM bands ORDER BY band_deci""".stripMargin,

    // 3-round synchronous label propagation over the q289 contact
    // graph, rounds unrolled; modal label, ties -> smallest
    "q328_label_propagation" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |e0 AS (
        | SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |ends AS (
        | SELECT a AS src, b AS dst FROM e0
        | UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT c_custkey AS id, c_custkey AS label FROM contacts),
        |n1 AS (
        | SELECT dst AS id, label, CAST(count(*) AS BIGINT) AS cnt
        | FROM ends JOIN l0 ON src = l0.id GROUP BY 1, 2),
        |p1 AS (
        | SELECT id, label FROM (
        |  SELECT id, label, row_number() OVER (PARTITION BY id
        |   ORDER BY cnt DESC, label) AS rn FROM n1) WHERE rn = 1),
        |l1 AS (
        | SELECT l0.id, coalesce(p1.label, l0.label) AS label
        | FROM l0 LEFT JOIN p1 ON l0.id = p1.id),
        |n2 AS (
        | SELECT dst AS id, label, CAST(count(*) AS BIGINT) AS cnt
        | FROM ends JOIN l1 ON src = l1.id GROUP BY 1, 2),
        |p2 AS (
        | SELECT id, label FROM (
        |  SELECT id, label, row_number() OVER (PARTITION BY id
        |   ORDER BY cnt DESC, label) AS rn FROM n2) WHERE rn = 1),
        |l2 AS (
        | SELECT l1.id, coalesce(p2.label, l1.label) AS label
        | FROM l1 LEFT JOIN p2 ON l1.id = p2.id),
        |n3 AS (
        | SELECT dst AS id, label, CAST(count(*) AS BIGINT) AS cnt
        | FROM ends JOIN l2 ON src = l2.id GROUP BY 1, 2),
        |p3 AS (
        | SELECT id, label FROM (
        |  SELECT id, label, row_number() OVER (PARTITION BY id
        |   ORDER BY cnt DESC, label) AS rn FROM n3) WHERE rn = 1),
        |l3 AS (
        | SELECT l2.id, coalesce(p3.label, l2.label) AS label
        | FROM l2 LEFT JOIN p3 ON l2.id = p3.id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
        | min(id) AS min_id
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // fuzzy-dedup precision/recall/F1 vs the planted %700 identity
    "q329_dedup_eval" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |e0 AS (
        | SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |pa AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |  CAST(sum(CASE WHEN a % 700 = b % 700 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS tp
        | FROM e0),
        |ta AS (
        | SELECT CAST(sum(n_g * (n_g - 1) // 2) AS BIGINT) AS n_true
        | FROM (SELECT CAST(count(*) AS BIGINT) AS n_g FROM contacts
        |       GROUP BY c_custkey % 700))
        |SELECT n_pred, n_true, tp, n_pred - tp AS fp, n_true - tp AS fn,
        | tp * 1000000 // n_pred AS precision_ppm,
        | tp * 1000000 // n_true AS recall_ppm,
        | 2 * (tp * 1000000 // n_pred) * (tp * 1000000 // n_true)
        |  // ((tp * 1000000 // n_pred) + (tp * 1000000 // n_true))
        |  AS f1_ppm
        |FROM pa, ta""".stripMargin,

    // Heaps-law curve: doc-id decile buckets, token volume + first-seen
    // vocabulary types, running totals
    "q330_vocab_growth" ->
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |tk AS (
        | SELECT doc_id * 10 // (mx + 1) AS decile, doc_id,
        |  unnest(${toksSql("lower(text)")}) AS token
        | FROM documents, mx),
        |vol AS (
        | SELECT decile, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        | FROM tk GROUP BY 1),
        |fs AS (SELECT min(decile) AS decile FROM tk GROUP BY token),
        |nw AS (
        | SELECT decile, CAST(count(*) AS BIGINT) AS new_types
        | FROM fs GROUP BY 1)
        |SELECT v.decile, n_docs, n_tokens,
        | coalesce(new_types, 0) AS new_types,
        | CAST(sum(n_tokens) OVER (ORDER BY v.decile) AS BIGINT)
        |  AS cum_tokens,
        | CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY v.decile)
        |  AS BIGINT) AS cum_types
        |FROM vol v LEFT JOIN nw ON v.decile = nw.decile
        |ORDER BY 1""".stripMargin,

    // one-pass Poisson bootstrap: /256-quantized Poisson(1) hash draws,
    // exact truncating-DIV replicate means, min/max envelope
    "q331_poisson_bootstrap" ->
      s"""WITH base AS (
        | SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM orders),
        |drawn AS (
        | SELECT b, cents,
        |  CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
        |   WHEN u < 235 THEN 2 WHEN u < 251 THEN 3
        |   WHEN u < 255 THEN 4 ELSE 5 END AS w
        | FROM (
        |  SELECT cents, b,
        |   ${ph("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 7777)}
        |    % 256 AS u
        |  FROM base, (SELECT unnest(range(0, 16)) AS b))),
        |reps AS (
        | SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
        | FROM drawn GROUP BY b),
        |pt AS (
        | SELECT CAST(sum(cents) // count(*) AS BIGINT) AS point_cents
        | FROM base),
        |env AS (
        | SELECT min(mean_cents) AS lo_cents, max(mean_cents) AS hi_cents
        | FROM reps)
        |SELECT b, n_eff, mean_cents, point_cents, lo_cents, hi_cents
        |FROM reps, pt, env ORDER BY b""".stripMargin,

    // seasonality strength: 1 - SS_resid/SS_detr in ppm, exact HUGEINT
    // squares over the q314 components
    "q332_seasonal_strength" ->
      """WITH daily AS (
        | SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num
        | FROM orders GROUP BY 2),
        |tr AS (
        | SELECT rev_cents, day_num,
        |  CAST(sum(rev_cents) OVER w AS BIGINT) AS win_sum,
        |  max(day_num) OVER w - min(day_num) OVER w AS win_span,
        |  count(*) OVER w AS win_n
        | FROM daily
        | WINDOW w AS (ORDER BY day_num
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        | SELECT day_num,
        |  rev_cents * 1000 - win_sum * 1000 // 7 AS detr_milli,
        |  day_num % 7 AS phase
        | FROM tr WHERE win_n = 7 AND win_span = 6),
        |pe AS (
        | SELECT phase, CAST(CASE WHEN sum(detr_milli) < 0 THEN -1
        |    ELSE 1 END * (abs(sum(detr_milli)) // count(*)) AS BIGINT)
        |   AS phase_milli
        | FROM d GROUP BY 1),
        |j AS (
        | SELECT detr_milli, detr_milli - phase_milli AS resid_milli
        | FROM d JOIN pe ON d.phase = pe.phase)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        | CAST(1000000 - sum(CAST(resid_milli AS HUGEINT) * resid_milli)
        |  * 1000000 // sum(CAST(detr_milli AS HUGEINT) * detr_milli)
        |  AS BIGINT) AS strength_ppm
        |FROM j""".stripMargin,

    // HHI concentration per customer-nation market, brand revenue
    // shares squared through HUGEINT
    "q333_hhi" ->
      """WITH rev AS (
        | SELECT c_nationkey, p_brand,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN part ON l_partkey = p_partkey
        | GROUP BY 1, 2)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_brands,
        | CAST(sum(rev) AS BIGINT) AS total_cents,
        | CAST(sum(CAST(rev AS HUGEINT) * rev) * 1000000000000
        |  // (CAST(sum(rev) AS HUGEINT) * sum(rev)) AS BIGINT)
        |  AS hhi_e12
        |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin,

    // effective rank of the q151 covariance: frozen cells, exact
    // trace^2 / Frobenius^2 in milli
    "q334_effective_rank" ->
      """WITH e AS (
        | SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (
        | SELECT unnest(flatten(list_transform(range(0, len(v)), i ->
        |   list_transform(range(i, len(v)), j ->
        |     {'i': i, 'j': j,
        |      'xy': CAST(round(CAST(v[i+1] AS DOUBLE)*CAST(v[j+1] AS DOUBLE), 6)
        |                 AS DECIMAL(25,6))})))) AS s
        | FROM e),
        |sp AS (SELECT s.i AS i, s.j AS j, sum(s.xy) AS sxy FROM p GROUP BY 1, 2),
        |xs AS (
        | SELECT unnest(list_transform(range(0, len(v)),
        |   i -> {'i': i,
        |         'x': CAST(round(CAST(v[i+1] AS DOUBLE), 6) AS DECIMAL(25,6))})) AS u
        | FROM e),
        |s2 AS (SELECT u.i AS i, sum(u.x) AS si, count(*) AS n FROM xs GROUP BY 1),
        |cells AS (
        | SELECT CAST(sp.i AS INT) AS i, CAST(sp.j AS INT) AS j,
        |  CAST(CAST(round(
        |         CAST(CAST(a.n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(20,6))
        |              AS DECIMAL(37,12))
        |         - CAST(a.si AS DECIMAL(16,6)) * CAST(b.si AS DECIMAL(16,6)),
        |       6) AS DECIMAL(20,6)) AS DOUBLE)
        |    / CAST(a.n * (a.n - 1) AS DOUBLE) AS cov
        | FROM sp JOIN s2 a ON sp.i = a.i JOIN s2 b ON sp.j = b.i),
        |fz AS (
        | SELECT i, j,
        |  CAST(round((floor(cov * 1e6 + 0.5) / 1e6) * 1e6) AS BIGINT)
        |   AS micro
        | FROM cells)
        |SELECT max(j) + 1 AS d,
        | CAST(sum(CASE WHEN i = j THEN micro ELSE 0 END) AS BIGINT)
        |  AS trace_micro,
        | CAST(sum(micro * micro * CASE WHEN i = j THEN 1 ELSE 2 END)
        |  AS BIGINT) AS frob2,
        | CAST(sum(CASE WHEN i = j THEN micro ELSE 0 END)
        |  * sum(CASE WHEN i = j THEN micro ELSE 0 END) * 1000
        |  // sum(micro * micro * CASE WHEN i = j THEN 1 ELSE 2 END)
        |  AS BIGINT) AS eff_rank_milli
        |FROM fz""".stripMargin,

    // item-item co-purchase top-3, baskets capped at 30 parts
    "q335_item_cf" ->
      """WITH baskets AS (
        | SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (
        | SELECT cust FROM baskets GROUP BY 1 HAVING count(*) <= 30),
        |b AS (
        | SELECT baskets.cust, baskets.part
        | FROM baskets JOIN small ON baskets.cust = small.cust),
        |co AS (
        | SELECT a.part AS part_a, b2.part AS part_b,
        |  CAST(count(*) AS BIGINT) AS co_cnt
        | FROM b a JOIN b b2 ON a.cust = b2.cust AND a.part <> b2.part
        | GROUP BY 1, 2)
        |SELECT part_a, part_b, co_cnt, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT part_a, part_b, co_cnt, row_number() OVER (
        |   PARTITION BY part_a ORDER BY co_cnt DESC, part_b) AS rn
        | FROM co)
        |WHERE rn <= 3 ORDER BY part_a, rn""".stripMargin,

    // Zipf fit over top-1000 ranks: milli-nat frozen logs, exact
    // HUGEINT least-squares slope and r^2
    "q336_zipf_fit" ->
      s"""WITH freqs AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS freq
        | FROM (SELECT unnest(${toksSql("lower(text)")}) AS token
        |       FROM documents)
        | GROUP BY 1),
        |ranked AS (
        | SELECT CAST(round(round(ln(CAST(rn AS DOUBLE)), 3) * 1e3)
        |   AS BIGINT) AS x,
        |  CAST(round(round(ln(CAST(freq AS DOUBLE)), 3) * 1e3)
        |   AS BIGINT) AS y
        | FROM (SELECT freq, row_number() OVER (
        |    ORDER BY freq DESC, token) AS rn FROM freqs)
        | WHERE rn <= 1000),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy
        | FROM ranked)
        |SELECT n,
        | CAST(CAST(n * sxy - sx * sy AS HUGEINT) * 1000
        |  // (n * sxx - sx * sx) AS BIGINT) AS slope_milli,
        | CAST(CAST(n * sxy - sx * sy AS HUGEINT)
        |  * CAST(n * sxy - sx * sy AS HUGEINT) * 1000
        |  // (CAST(n * sxx - sx * sx AS HUGEINT)
        |     * CAST(n * syy - sy * sy AS HUGEINT)) AS BIGINT) AS r2_milli
        |FROM st""".stripMargin,

    // sample-ratio mismatch over three hash-split seeds: exact chi2
    // micro + cross-multiplied alpha=0.05 flag
    "q337_srm_check" ->
      s"""WITH a AS (
        | SELECT seed,
        |  CASE WHEN ${ph("CAST(c_custkey AS VARCHAR) || ':' || CAST(seed AS VARCHAR)", 555)}
        |   % 100 < 50 THEN 1 ELSE 0 END AS arm
        | FROM customer, (SELECT unnest([11, 22, 33]) AS seed)),
        |c AS (
        | SELECT seed, CAST(sum(arm) AS BIGINT) AS n_a,
        |  CAST(sum(1 - arm) AS BIGINT) AS n_b
        | FROM a GROUP BY 1)
        |SELECT CAST(seed AS BIGINT) AS seed, n_a, n_b,
        | CAST(CAST(n_a - n_b AS HUGEINT) * CAST(n_a - n_b AS HUGEINT)
        |  * 1000000 // (n_a + n_b) AS BIGINT) AS chi2_micro,
        | CAST(n_a - n_b AS HUGEINT) * CAST(n_a - n_b AS HUGEINT) * 100
        |  > CAST(384 AS HUGEINT) * (n_a + n_b) AS srm_flag
        |FROM c ORDER BY seed""".stripMargin,

    // Fano overdispersion of daily order counts per nation; zero days
    // enter through the calendar span n
    "q338_dispersion" ->
      """WITH daily AS (
        | SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS x
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2),
        |span AS (
        | SELECT CAST(date_diff('day', min(CAST(o_orderdate AS DATE)),
        |   max(CAST(o_orderdate AS DATE))) + 1 AS BIGINT) AS n_days
        | FROM orders),
        |agg AS (
        | SELECT c_nationkey, CAST(sum(x) AS BIGINT) AS s,
        |  CAST(sum(x * x) AS BIGINT) AS q,
        |  CAST(count(*) AS BIGINT) AS n_active_days
        | FROM daily GROUP BY 1)
        |SELECT c_nationkey, n_days, n_active_days, s, q,
        | CAST(CAST(n_days * q - s * s AS HUGEINT) * 1000000
        |  // ((n_days - 1) * s) AS BIGINT) AS fano_ppm
        |FROM agg, span ORDER BY c_nationkey""".stripMargin,

    // knee of the top-100 cumulative revenue curve: integer
    // chord-cross-product argmax, ties -> smallest rank
    "q339_knee" ->
      """WITH revs AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev
        | FROM lineitem GROUP BY 1),
        |top AS (
        | SELECT rev, rn FROM (
        |  SELECT rev, row_number() OVER (ORDER BY rev DESC, l_partkey)
        |   AS rn FROM revs)
        | WHERE rn <= 100),
        |curve AS (
        | SELECT CAST(rn AS BIGINT) AS rn,
        |  CAST(sum(rev) OVER (ORDER BY rn) AS BIGINT) AS cum
        | FROM top),
        |ends AS (
        | SELECT min(cum) AS c1, max(rn) AS n_pts, max(cum) AS cn
        | FROM curve)
        |SELECT rn, cum,
        | (cn - c1) * (rn - 1) - (n_pts - 1) * (cum - c1)
        |  AS cross_scaled
        |FROM curve, ends
        |ORDER BY cross_scaled DESC, rn LIMIT 1""".stripMargin,

    // CF coverage + popularity bias over the q335 chain
    "q340_rec_coverage" ->
      """WITH baskets AS (
        | SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (
        | SELECT cust FROM baskets GROUP BY 1 HAVING count(*) <= 30),
        |b AS (
        | SELECT baskets.cust, baskets.part
        | FROM baskets JOIN small ON baskets.cust = small.cust),
        |recs AS (
        | SELECT part_a, part_b FROM (
        |  SELECT part_a, part_b, row_number() OVER (
        |    PARTITION BY part_a ORDER BY co_cnt DESC, part_b) AS rn
        |  FROM (
        |   SELECT a.part AS part_a, b2.part AS part_b,
        |    CAST(count(*) AS BIGINT) AS co_cnt
        |   FROM b a JOIN b b2 ON a.cust = b2.cust AND a.part <> b2.part
        |   GROUP BY 1, 2))
        | WHERE rn <= 3),
        |popr AS (
        | SELECT part, row_number() OVER (ORDER BY buyers DESC, part)
        |   AS prank, count(*) OVER () AS n_ranked
        | FROM (SELECT part, CAST(count(*) AS BIGINT) AS buyers
        |       FROM baskets GROUP BY 1)),
        |topd AS (
        | SELECT part FROM popr WHERE prank * 10 <= n_ranked),
        |cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
        |cov AS (
        | SELECT CAST(count(DISTINCT part_a) AS BIGINT) AS n_covered
        | FROM recs),
        |bias AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_recs,
        |  CAST(sum(CASE WHEN t.part IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_top_decile_recs
        | FROM recs LEFT JOIN topd t ON recs.part_b = t.part)
        |SELECT n_catalog, n_covered,
        | n_covered * 1000000 // n_catalog AS coverage_ppm,
        | n_recs, n_top_decile_recs,
        | n_top_decile_recs * 1000000 // n_recs AS popbias_ppm
        |FROM cat, cov, bias""".stripMargin,

    // cohort retention triangle: absolute weeks (epoch-day DIV 7),
    // distinct (user, week) activity, exact ppm rates
    "q341_retention_triangle" ->
      """WITH weeks AS (
        | SELECT DISTINCT user_id,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
        |   AS BIGINT) AS week
        | FROM events),
        |cohorts AS (
        | SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1),
        |active AS (
        | SELECT c.cohort_week, w.week - c.cohort_week AS age_weeks,
        |  CAST(count(*) AS BIGINT) AS n_active
        | FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
        | GROUP BY 1, 2),
        |sizes AS (
        | SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
        | FROM cohorts GROUP BY 1)
        |SELECT a.cohort_week, a.age_weeks, a.n_active, s.n_cohort,
        | a.n_active * 1000000 // s.n_cohort AS retention_ppm
        |FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
        |ORDER BY 1, 2""".stripMargin,

    // CUPED: kilodollar pre/post revenue per customer (zero-filled
    // population), theta and rho^2 as exact HUGEINT ratios with
    // operand-level casts (no BIGINT product anywhere)
    "q342_cuped" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(sum(CASE WHEN o_orderdate < DATE '1997-01-01'
        |   THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END) // 100000 AS BIGINT) AS xc,
        |  CAST(sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
        |   THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END) // 100000 AS BIGINT) AS yc
        | FROM orders GROUP BY 1),
        |xy AS (
        | SELECT coalesce(pc.xc, 0) AS x, coalesce(pc.yc, 0) AS y
        | FROM customer LEFT JOIN pc ON c_custkey = pc.o_custkey),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM xy)
        |SELECT n, sx, sy,
        | CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |  * 1000 // (CAST(n AS HUGEINT) * sxx
        |   - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS theta_milli,
        | CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |  * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |  * 1000000
        |  // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |     * (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy))
        |  AS BIGINT) AS var_reduction_ppm
        |FROM st""".stripMargin,

    // uplift by acctbal decile: hash arms, exact decile by
    // (rank-1)*10 DIV n, cross-multiplied rate differences in ppm
    "q343_uplift_deciles" ->
      s"""WITH resp AS (
        | SELECT DISTINCT o_custkey FROM orders
        | WHERE o_orderdate >= DATE '1997-01-01'),
        |ranked AS (
        | SELECT c_custkey,
        |  ${ph("CAST(c_custkey AS VARCHAR)", 777)} % 100 < 50 AS treated,
        |  row_number() OVER (ORDER BY CAST(c_acctbal AS DECIMAL(18,2))
        |    DESC, c_custkey) AS rank,
        |  count(*) OVER () AS n_all
        | FROM customer),
        |cells AS (
        | SELECT (rank - 1) * 10 // n_all + 1 AS decile,
        |  CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |  CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
        |  CAST(sum(CASE WHEN treated AND resp.o_custkey IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS r_t,
        |  CAST(sum(CASE WHEN NOT treated AND resp.o_custkey IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS r_c
        | FROM ranked LEFT JOIN resp ON ranked.c_custkey = resp.o_custkey
        | GROUP BY 1),
        |cum AS (
        | SELECT decile, n_t, n_c, r_t, r_c,
        |  CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT) AS ct,
        |  CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT) AS cc,
        |  CAST(sum(r_t) OVER (ORDER BY decile) AS BIGINT) AS crt,
        |  CAST(sum(r_c) OVER (ORDER BY decile) AS BIGINT) AS crc
        | FROM cells)
        |SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, r_t, r_c,
        | CAST(CAST(r_t * n_c - r_c * n_t AS HUGEINT) * 1000000
        |  // CAST(n_t * n_c AS HUGEINT) AS BIGINT) AS uplift_ppm,
        | CAST(CAST(crt * cc - crc * ct AS HUGEINT) * 1000000
        |  // CAST(ct * cc AS HUGEINT) AS BIGINT) AS cum_uplift_ppm
        |FROM cum ORDER BY decile""".stripMargin,

    // degree assortativity over the q239 edge set: both orientations,
    // exact integer Pearson ratio in milli (marginals coincide)
    "q344_assortativity" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey % 700 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey % 50 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey % 60 AS VARCHAR) AS phone
        | FROM customer),
        |e AS (
        | SELECT DISTINCT l.c_custkey AS id_a, r.c_custkey AS id_b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |deg AS (
        | SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
        | GROUP BY 1),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(da.deg + db.deg) AS BIGINT) AS s,
        |  CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS sxx,
        |  CAST(sum(da.deg * db.deg * 2) AS BIGINT) AS sxy
        | FROM e JOIN deg da ON e.id_a = da.id
        |  JOIN deg db ON e.id_b = db.id)
        |SELECT n_edges,
        | CAST((CAST(2 * n_edges AS HUGEINT) * sxy
        |   - CAST(s AS HUGEINT) * s) * 1000
        |  // (CAST(2 * n_edges AS HUGEINT) * sxx
        |   - CAST(s AS HUGEINT) * s) AS BIGINT)
        |  AS assortativity_milli
        |FROM st""".stripMargin,

    // JL sign projection over the q327 pairs: value-rounded coord
    // diffs, exact DECIMAL projected sums, distortion ppm vs k*orig
    "q345_jl_distortion" ->
      s"""WITH e AS (
        | SELECT vec_id, embedding FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |r AS (
        | SELECT vec_id, embedding,
        |  ${ph("CAST(vec_id AS VARCHAR)", 909)} AS r FROM e),
        |bk AS (
        | SELECT vec_id, embedding, r, r % 64 AS bkt,
        |  row_number() OVER (PARTITION BY r % 64 ORDER BY r, vec_id)
        |   AS rn
        | FROM r),
        |p AS (
        | SELECT bkt, (rn + 1) // 2 AS pair_id, rn % 2 AS side,
        |  vec_id, embedding
        | FROM bk),
        |j AS (
        | SELECT a.bkt, a.vec_id AS id_a, b.vec_id AS id_b,
        |  a.embedding AS va, b.embedding AS vb
        | FROM p a JOIN p b ON a.bkt = b.bkt AND a.pair_id = b.pair_id
        |  AND a.side = 1 AND b.side = 0),
        |coords AS (
        | SELECT bkt, id_a, id_b, unnest(range(1, len(va) + 1)) AS i,
        |  va, vb
        | FROM j),
        |d AS (
        | SELECT bkt, id_a, id_b, i,
        |  CAST(round(CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE), 6)
        |   AS DECIMAL(25,6)) AS d6
        | FROM coords),
        |orig AS (
        | SELECT bkt, id_a, id_b,
        |  CAST(sum(CAST(d6 * 1000000 AS BIGINT)
        |   * CAST(d6 * 1000000 AS BIGINT)) AS BIGINT) AS ssq_orig
        | FROM d GROUP BY 1, 2, 3),
        |pr AS (
        | SELECT bkt, id_a, id_b, o,
        |  CAST(sum(d6 * (${ph(
             "CAST(i - 1 AS VARCHAR) || ':' || CAST(o AS VARCHAR)", 1213)}
        |    % 2 * 2 - 1)) * 1000000 AS BIGINT) AS pm
        | FROM d, (SELECT unnest(range(1, 17)) AS o)
        | GROUP BY 1, 2, 3, 4),
        |proj AS (
        | SELECT bkt, id_a, id_b,
        |  CAST(sum(pm * pm) AS BIGINT) AS ssq_proj
        | FROM pr GROUP BY 1, 2, 3)
        |SELECT orig.bkt, orig.id_a, orig.id_b, ssq_orig, ssq_proj,
        | CAST(CAST(ssq_proj AS HUGEINT) * 1000000
        |  // (16 * CAST(ssq_orig AS HUGEINT)) AS BIGINT)
        |  AS distortion_ppm
        |FROM orig JOIN proj ON orig.bkt = proj.bkt
        | AND orig.id_a = proj.id_a AND orig.id_b = proj.id_b
        |ORDER BY orig.bkt""".stripMargin,

    // leave-one-out nation target encode of order counts: exact
    // truncating milli ratio, NULL for singleton groups
    "q346_target_encoding" ->
      """WITH y AS (
        | SELECT c_custkey, c_nationkey,
        |  CAST(coalesce(o.n_ord, 0) AS BIGINT) AS y
        | FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_ord FROM orders GROUP BY 1) o
        |  ON c_custkey = o.o_custkey),
        |g AS (
        | SELECT c_nationkey, CAST(sum(y) AS BIGINT) AS s_g,
        |  CAST(count(*) AS BIGINT) AS n_g
        | FROM y GROUP BY 1)
        |SELECT y.c_custkey, y.c_nationkey, y.y,
        | CASE WHEN g.n_g > 1
        |  THEN (g.s_g - y.y) * 1000 // (g.n_g - 1)
        |  ELSE NULL END AS loo_encode_milli
        |FROM y JOIN g ON y.c_nationkey = g.c_nationkey
        |ORDER BY y.c_custkey""".stripMargin,

    // ABC (cumulative revenue share, cross-multiplied) x XYZ (weekly
    // CV^2 ppm with calendar zero-weeks in closed form)
    "q347_abc_xyz" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS rev_c,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS qty_c,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(l_shipdate AS DATE)) // 7 AS BIGINT) AS week
        | FROM lineitem),
        |span AS (
        | SELECT CAST(max(week) - min(week) + 1 AS BIGINT) AS n_weeks
        | FROM li),
        |weekly AS (
        | SELECT l_partkey, week, CAST(sum(qty_c) AS BIGINT) AS x
        | FROM li GROUP BY 1, 2),
        |vp AS (
        | SELECT l_partkey,
        |  CAST(n_weeks * CAST(n_weeks * qq - sq * sq AS HUGEINT)
        |   * 1000000 // ((n_weeks - 1)
        |   * CAST(sq * sq AS HUGEINT)) AS BIGINT) AS cv2_ppm
        | FROM (
        |  SELECT l_partkey, CAST(sum(x) AS BIGINT) AS sq,
        |   CAST(sum(x * x) AS BIGINT) AS qq
        |  FROM weekly GROUP BY 1), span),
        |rev AS (
        | SELECT l_partkey, CAST(sum(rev_c) AS BIGINT) AS rev
        | FROM li GROUP BY 1),
        |cumr AS (
        | SELECT l_partkey, rev,
        |  CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS BIGINT)
        |   AS cum
        | FROM rev),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM rev),
        |vr AS (
        | SELECT l_partkey,
        |  row_number() OVER (ORDER BY cv2_ppm, l_partkey) AS vrank,
        |  count(*) OVER () AS n_var
        | FROM vp),
        |classed AS (
        | SELECT c.l_partkey, c.rev,
        |  CASE WHEN CAST(c.cum AS HUGEINT) * 100
        |    <= CAST(t.total AS HUGEINT) * 80 THEN 'A'
        |   WHEN CAST(c.cum AS HUGEINT) * 100
        |    <= CAST(t.total AS HUGEINT) * 95 THEN 'B'
        |   ELSE 'C' END AS abc,
        |  CASE (v.vrank - 1) * 3 // v.n_var WHEN 0 THEN 'X'
        |   WHEN 1 THEN 'Y' ELSE 'Z' END AS xyz
        | FROM cumr c CROSS JOIN tot t
        |  JOIN vr v ON c.l_partkey = v.l_partkey)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(sum(rev) AS BIGINT) AS rev_cents,
        | CAST(CAST(sum(rev) AS HUGEINT) * 1000000
        |  // (SELECT total FROM tot) AS BIGINT) AS rev_share_ppm
        |FROM classed GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin,

    // triplet-violation rate: label-partitioned hash pairing for
    // (anchor, positive), 32-bucket distinct-label reps for negatives,
    // exact micro^2 distance comparison
    "q348_triplet_violation" ->
      s"""WITH e AS (
        | SELECT vec_id, label, embedding,
        |  ${ph("CAST(vec_id AS VARCHAR)", 414)} AS r
        | FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) > 0
        |  AND label IS NOT NULL),
        |ranked AS (
        | SELECT vec_id, label, embedding, r,
        |  row_number() OVER (PARTITION BY label ORDER BY r, vec_id)
        |   AS rn
        | FROM e),
        |anchors AS (
        | SELECT label, (rn + 1) // 2 AS pair_id, vec_id AS id_a,
        |  embedding AS va,
        |  ${ph("CAST(vec_id AS VARCHAR)", 131)} % 32 AS nbkt
        | FROM ranked WHERE rn % 2 = 1),
        |pos AS (
        | SELECT label, (rn + 1) // 2 AS pair_id, embedding AS vp
        | FROM ranked WHERE rn % 2 = 0),
        |bkt AS (
        | SELECT vec_id, label, embedding, r,
        |  ${ph("CAST(vec_id AS VARCHAR)", 737)} % 32 AS nbkt
        | FROM e),
        |bro AS (
        | SELECT vec_id, label, embedding, nbkt,
        |  row_number() OVER (PARTITION BY nbkt ORDER BY r, vec_id)
        |   AS brn,
        |  first_value(label) OVER (PARTITION BY nbkt
        |    ORDER BY r, vec_id) AS lab1
        | FROM bkt),
        |rep1 AS (
        | SELECT nbkt, label AS lab_n1, embedding AS vn1
        | FROM bro WHERE brn = 1),
        |rep2 AS (
        | SELECT nbkt, embedding AS vn2 FROM (
        |  SELECT nbkt, embedding,
        |   row_number() OVER (PARTITION BY nbkt ORDER BY brn) AS arn
        |  FROM bro WHERE label <> lab1)
        | WHERE arn = 1),
        |triplets AS (
        | SELECT a.id_a, a.va, p.vp,
        |  CASE WHEN r1.lab_n1 <> a.label THEN r1.vn1 ELSE r2.vn2 END
        |   AS vn
        | FROM anchors a
        |  JOIN pos p ON a.label = p.label AND a.pair_id = p.pair_id
        |  JOIN rep1 r1 ON a.nbkt = r1.nbkt
        |  LEFT JOIN rep2 r2 ON a.nbkt = r2.nbkt),
        |tf AS (SELECT * FROM triplets WHERE vn IS NOT NULL),
        |coords AS (
        | SELECT id_a, unnest(range(1, len(va) + 1)) AS i, va, vp, vn
        | FROM tf),
        |d AS (
        | SELECT id_a,
        |  CAST(CAST(round(CAST(va[i] AS DOUBLE) - CAST(vp[i] AS DOUBLE),
        |   6) AS DECIMAL(25,6)) * 1000000 AS BIGINT) AS dpm,
        |  CAST(CAST(round(CAST(va[i] AS DOUBLE) - CAST(vn[i] AS DOUBLE),
        |   6) AS DECIMAL(25,6)) * 1000000 AS BIGINT) AS dnm
        | FROM coords),
        |dist AS (
        | SELECT id_a, CAST(sum(dpm * dpm) AS BIGINT) AS d_ap,
        |  CAST(sum(dnm * dnm) AS BIGINT) AS d_an
        | FROM d GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_triplets,
        | CAST(sum(CASE WHEN d_ap >= d_an THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_violations,
        | CAST(sum(CASE WHEN d_ap >= d_an THEN 1 ELSE 0 END) AS BIGINT)
        |  * 1000000 // CAST(count(*) AS BIGINT) AS violation_ppm
        |FROM dist""".stripMargin,

    // stationary distribution: micro transition matrix, uniform pi0,
    // four unrolled integer power-iteration rounds
    "q349_stationary_dist" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |c AS (
        | SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        | FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |p AS (
        | SELECT prev, next,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev)
        |   AS BIGINT) AS p_micro
        | FROM c),
        |k AS (SELECT CAST(count(DISTINCT prev) AS BIGINT) AS n_states
        |      FROM p),
        |r0 AS (
        | SELECT DISTINCT prev AS state,
        |  CAST(1000000 // n_states AS BIGINT) AS pi_micro
        | FROM p, k),
        |r1 AS (
        | SELECT p.next AS state,
        |  CAST(sum(pi_micro * p_micro) // 1000000 AS BIGINT) AS pi_micro
        | FROM r0 JOIN p ON r0.state = p.prev GROUP BY 1),
        |r2 AS (
        | SELECT p.next AS state,
        |  CAST(sum(pi_micro * p_micro) // 1000000 AS BIGINT) AS pi_micro
        | FROM r1 JOIN p ON r1.state = p.prev GROUP BY 1),
        |r3 AS (
        | SELECT p.next AS state,
        |  CAST(sum(pi_micro * p_micro) // 1000000 AS BIGINT) AS pi_micro
        | FROM r2 JOIN p ON r2.state = p.prev GROUP BY 1),
        |r4 AS (
        | SELECT p.next AS state,
        |  CAST(sum(pi_micro * p_micro) // 1000000 AS BIGINT) AS pi_micro
        | FROM r3 JOIN p ON r3.state = p.prev GROUP BY 1)
        |SELECT state, pi_micro FROM r4 ORDER BY state""".stripMargin,

    // rule metrics over the capped baskets: exact ppm/ppb/milli
    // ratios; conviction NULL at the deterministic-rule pole
    "q350_rule_metrics" ->
      """WITH baskets AS (
        | SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (
        | SELECT cust FROM baskets GROUP BY 1 HAVING count(*) <= 30),
        |b AS (
        | SELECT baskets.cust, baskets.part
        | FROM baskets JOIN small ON baskets.cust = small.cust),
        |ntot AS (
        | SELECT CAST(count(DISTINCT cust) AS BIGINT) AS n_total FROM b),
        |buyers AS (
        | SELECT part, CAST(count(*) AS BIGINT) AS buyers
        | FROM b GROUP BY 1),
        |co AS (
        | SELECT x.part AS part_a, y.part AS part_b,
        |  CAST(count(*) AS BIGINT) AS co
        | FROM b x JOIN b y ON x.cust = y.cust AND x.part < y.part
        | GROUP BY 1, 2
        | ORDER BY co DESC, part_a, part_b LIMIT 20)
        |SELECT part_a, part_b, co, na.buyers AS n_a, nb.buyers AS n_b,
        | co * 1000000 // na.buyers AS confidence_ppm,
        | CAST((CAST(co AS HUGEINT) * n_total
        |   - CAST(na.buyers AS HUGEINT) * nb.buyers) * 1000000000
        |  // (CAST(n_total AS HUGEINT) * n_total) AS BIGINT)
        |  AS leverage_ppb,
        | CASE WHEN na.buyers = co THEN NULL ELSE
        |  CAST(CAST(n_total - nb.buyers AS HUGEINT) * na.buyers * 1000
        |   // (CAST(n_total AS HUGEINT) * (na.buyers - co)) AS BIGINT)
        |  END AS conviction_milli
        |FROM co
        | JOIN buyers na ON co.part_a = na.part
        | JOIN buyers nb ON co.part_b = nb.part
        | CROSS JOIN ntot
        |ORDER BY co DESC, part_a, part_b""".stripMargin,

    // Neyman allocation: exact stratum variance, one IEEE sqrt per
    // stratum, value-rounded weight, exact shares
    "q351_neyman_alloc" ->
      """WITH st AS (
        | SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_h,
        |  CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM (SELECT c_nationkey,
        |   CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM customer)
        | GROUP BY 1),
        |v AS (
        | SELECT c_nationkey, n_h,
        |  CAST((CAST(n_h AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |   // (CAST(n_h AS HUGEINT) * (n_h - 1)) AS BIGINT)
        |   AS var_cents2
        | FROM st),
        |w AS (
        | SELECT c_nationkey, n_h, var_cents2,
        |  CAST(round(n_h * sqrt(CAST(var_cents2 AS DOUBLE)))
        |   AS BIGINT) AS w
        | FROM v),
        |ws AS (SELECT CAST(sum(w) AS BIGINT) AS w_sum FROM w)
        |SELECT c_nationkey, n_h, var_cents2, w,
        | CAST(CAST(w AS HUGEINT) * 1000000 // w_sum AS BIGINT)
        |  AS alloc_ppm,
        | CAST(CAST(w AS HUGEINT) * 1000 // w_sum AS BIGINT)
        |  AS n_alloc_of_1000
        |FROM w, ws ORDER BY c_nationkey""".stripMargin,

    // Good-Turing over 3-shingles (q122's kernel): count-of-counts,
    // p0 = N1/N ppm, r* milli
    "q352_good_turing" ->
      s"""WITH tok AS (
        | SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
        |shg AS (
        | SELECT doc_id,
        |  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |   ELSE list_transform(range(1, len(tk) - 1),
        |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END
        |   AS sh
        | FROM tok),
        |freqs AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS freq
        | FROM (SELECT unnest(sh) AS token FROM shg)
        | GROUP BY 1),
        |nn AS (
        | SELECT freq AS r, CAST(count(*) AS BIGINT) AS n_r
        | FROM freqs WHERE freq <= 6 GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_1
        | FROM freqs)
        |SELECT a.r, a.n_r, coalesce(b.n_r, 0) AS n_r_next,
        | CASE WHEN a.n_r = 0 THEN NULL ELSE
        |  (a.r + 1) * coalesce(b.n_r, 0) * 1000 // a.n_r END
        |  AS r_star_milli,
        | n_tokens, n_1 * 1000000 // n_tokens AS p0_ppm
        |FROM nn a LEFT JOIN nn b ON a.r + 1 = b.r CROSS JOIN tot
        |WHERE a.r <= 5 ORDER BY a.r""".stripMargin,

    // two-proportion MDE curve: exact counts, one double division,
    // frozen z-sum literal, IEEE sqrt chain, q327 value-rounding
    "q353_mde_power" ->
      """WITH conv AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(sum(CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_conv
        | FROM customer LEFT JOIN (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= DATE '1997-01-01') r
        |  ON c_custkey = r.o_custkey),
        |grid AS (
        | SELECT n_all, n_conv, unnest([1000, 10000, 100000, 1000000])
        |   AS n_per_arm,
        |  CAST(n_conv AS DOUBLE) / CAST(n_all AS DOUBLE) AS p
        | FROM conv)
        |SELECT n_all, n_conv, n_conv * 1000000 // n_all AS p_ppm,
        | CAST(n_per_arm AS BIGINT) AS n_per_arm,
        | CAST(round(floor(sqrt(2.0e0 * p * (1.0e0 - p)
        |    / CAST(n_per_arm AS DOUBLE)) * 2.801585218728082e0
        |   * 1e6 + 0.5) / 1e6 * 1e6) AS BIGINT) AS mde_micro
        |FROM grid ORDER BY n_per_arm""".stripMargin,

    // fixed-size per-stratum hash sample: exactly min(6, n_h) per
    // nation, pure key function
    "q354_group_sample" ->
      s"""WITH r AS (
        | SELECT c_nationkey, c_custkey,
        |  ${ph("CAST(c_custkey AS VARCHAR)", 606)} AS r
        | FROM customer),
        |rk AS (
        | SELECT c_nationkey, c_custkey,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY r, c_custkey) AS rn
        | FROM r)
        |SELECT c_nationkey, CAST(rn AS BIGINT) AS rn, c_custkey
        |FROM rk WHERE rn <= 6 ORDER BY c_nationkey, rn""".stripMargin,

    // Kish ESS under language-balance weights: integer micro weights,
    // exact (sum w)^2 / sum w^2 via HUGEINT
    "q355_ess_balance" ->
      """WITH byl AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n_g
        | FROM documents GROUP BY 1),
        |k AS (
        | SELECT CAST(count(*) AS BIGINT) AS k_classes,
        |  CAST(sum(n_g) AS BIGINT) AS n_total FROM byl),
        |w AS (
        | SELECT lang, n_g,
        |  CAST(CAST(n_total AS HUGEINT) * 1000000
        |   // (k_classes * n_g) AS BIGINT) AS w_micro,
        |  n_total
        | FROM byl, k),
        |g AS (
        | SELECT CAST(sum(CAST(n_g AS HUGEINT) * w_micro) AS HUGEINT)
        |   AS sw,
        |  CAST(sum(CAST(n_g AS HUGEINT) * w_micro * w_micro) AS HUGEINT)
        |   AS sw2
        | FROM w)
        |SELECT lang, n_g, w_micro,
        | CAST(sw * sw // sw2 AS BIGINT) AS ess_count,
        | CAST(sw * sw * 1000000
        |  // (CAST(n_total AS HUGEINT) * sw2) AS BIGINT)
        |  AS ess_share_ppm
        |FROM w, g ORDER BY lang""".stripMargin,

    // window funnel: ordered signup -> view -> click -> purchase
    // within 7 days of the signup; strictly advancing timestamps
    "q356_window_funnel" ->
      """WITH e AS (
        | SELECT user_id, event_type, ts FROM events),
        |t1 AS (
        | SELECT user_id, min(ts) AS t1,
        |  min(ts) + INTERVAL 7 DAY AS t_end
        | FROM e WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (
        | SELECT e.user_id, min(e.ts) AS t2
        | FROM e JOIN t1 ON e.user_id = t1.user_id
        | WHERE e.event_type = 'view' AND e.ts > t1.t1
        |  AND e.ts <= t1.t_end
        | GROUP BY 1),
        |t3 AS (
        | SELECT e.user_id, min(e.ts) AS t3
        | FROM e JOIN t1 ON e.user_id = t1.user_id
        |  JOIN t2 ON e.user_id = t2.user_id
        | WHERE e.event_type = 'click' AND e.ts > t2.t2
        |  AND e.ts <= t1.t_end
        | GROUP BY 1),
        |t4 AS (
        | SELECT e.user_id, min(e.ts) AS t4
        | FROM e JOIN t1 ON e.user_id = t1.user_id
        |  JOIN t3 ON e.user_id = t3.user_id
        | WHERE e.event_type = 'purchase' AND e.ts > t3.t3
        |  AND e.ts <= t1.t_end
        | GROUP BY 1),
        |d AS (
        | SELECT CASE WHEN t4.user_id IS NOT NULL THEN 4
        |  WHEN t3.user_id IS NOT NULL THEN 3
        |  WHEN t2.user_id IS NOT NULL THEN 2
        |  WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS depth
        | FROM (SELECT DISTINCT user_id FROM e) u
        |  LEFT JOIN t1 ON u.user_id = t1.user_id
        |  LEFT JOIN t2 ON u.user_id = t2.user_id
        |  LEFT JOIN t3 ON u.user_id = t3.user_id
        |  LEFT JOIN t4 ON u.user_id = t4.user_id),
        |cells AS (
        | SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(count(*) AS BIGINT) AS n_users
        | FROM d GROUP BY 1)
        |SELECT depth, n_users,
        | (SELECT CAST(sum(n_users) AS BIGINT) FROM cells) AS n_total,
        | CAST(n_users * 1000000
        |  // (SELECT sum(n_users) FROM cells) AS BIGINT) AS share_ppm
        |FROM cells ORDER BY depth""".stripMargin,

    // seasonal-adjusted MAD anomaly days: q332 milli residuals,
    // integer lower-median fences
    "q357_seasonal_mad" ->
      """WITH daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num
        | FROM orders GROUP BY 1, 3),
        |tr AS (
        | SELECT day, rev_cents, day_num,
        |  CAST(sum(rev_cents) OVER w AS BIGINT) AS win_sum,
        |  max(day_num) OVER w - min(day_num) OVER w AS win_span,
        |  count(*) OVER w AS win_n
        | FROM daily
        | WINDOW w AS (ORDER BY day_num
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        | SELECT day, day_num,
        |  rev_cents * 1000 - win_sum * 1000 // 7 AS detr_milli,
        |  day_num % 7 AS phase
        | FROM tr WHERE win_n = 7 AND win_span = 6),
        |pe AS (
        | SELECT phase, CAST(CASE WHEN sum(detr_milli) < 0 THEN -1
        |    ELSE 1 END * (abs(sum(detr_milli)) // count(*)) AS BIGINT)
        |   AS phase_milli
        | FROM d GROUP BY 1),
        |resid AS (
        | SELECT day, day_num, detr_milli - phase_milli AS resid_milli
        | FROM d JOIN pe ON d.phase = pe.phase),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM resid),
        |med AS (
        | SELECT resid_milli AS med FROM (
        |  SELECT resid_milli, row_number() OVER (
        |    ORDER BY resid_milli, day_num) AS rn
        |  FROM resid), n
        | WHERE rn = (n_days + 1) // 2),
        |dev AS (
        | SELECT day, day_num, resid_milli, med,
        |  abs(resid_milli - med) AS adev
        | FROM resid, med),
        |mad AS (
        | SELECT adev AS mad FROM (
        |  SELECT adev, row_number() OVER (ORDER BY adev, day_num) AS rn
        |  FROM dev), n
        | WHERE rn = (n_days + 1) // 2)
        |SELECT day, resid_milli, med, mad
        |FROM dev, mad WHERE adev > 3 * mad
        |ORDER BY day""".stripMargin,

    // histogram join-cardinality calibration: exact sum c(k)^2 vs the
    // equi-width uniform-within-bucket estimate, err in ppm
    "q358_join_card_estimate" ->
      """WITH pk AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
        | FROM orders GROUP BY 1),
        |actual AS (
        | SELECT CAST(sum(c * c) AS BIGINT) AS actual_pairs FROM pk),
        |est AS (
        | SELECT width, CAST(sum(CAST(cb AS HUGEINT) * cb // db)
        |   AS BIGINT) AS est_pairs
        | FROM (
        |  SELECT width, o_custkey // width AS bucket,
        |   CAST(sum(c) AS BIGINT) AS cb, CAST(count(*) AS BIGINT) AS db
        |  FROM pk, (SELECT unnest([16, 64, 256]) AS width)
        |  GROUP BY 1, 2)
        | GROUP BY 1)
        |SELECT CAST(width AS BIGINT) AS width, actual_pairs, est_pairs,
        | CAST(abs(CAST(est_pairs AS HUGEINT) - actual_pairs) * 1000000
        |  // actual_pairs AS BIGINT) AS err_ppm
        |FROM est, actual ORDER BY width""".stripMargin,

    // customer feature matrix: RFM + tenure + balance decile + LOO
    // nation encode + conversion label, all exact
    "q359_feature_matrix" ->
      """WITH maxd AS (
        | SELECT max(CAST(o_orderdate AS DATE)) AS d_max FROM orders),
        |pc AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS monetary_cents,
        |  min(CAST(o_orderdate AS DATE)) AS d_first,
        |  max(CAST(o_orderdate AS DATE)) AS d_last,
        |  CAST(sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n97
        | FROM orders GROUP BY 1),
        |base AS (
        | SELECT c_custkey, c_nationkey,
        |  coalesce(pc.frequency, 0) AS frequency,
        |  coalesce(pc.monetary_cents, 0) AS monetary_cents,
        |  CASE WHEN pc.d_last IS NOT NULL THEN
        |   CAST(date_diff('day', pc.d_last, maxd.d_max) AS BIGINT)
        |   ELSE NULL END AS recency_days,
        |  CASE WHEN pc.d_first IS NOT NULL THEN
        |   CAST(date_diff('day', pc.d_first, pc.d_last) AS BIGINT)
        |   ELSE NULL END AS tenure_days,
        |  coalesce(pc.n97, 0) > 0 AS label_converted,
        |  row_number() OVER (ORDER BY CAST(c_acctbal AS DECIMAL(18,2))
        |    DESC, c_custkey) AS bal_rank,
        |  count(*) OVER () AS n_all
        | FROM customer
        |  LEFT JOIN pc ON c_custkey = pc.o_custkey
        |  CROSS JOIN maxd),
        |g AS (
        | SELECT c_nationkey, CAST(sum(frequency) AS BIGINT) AS s_g,
        |  CAST(count(*) AS BIGINT) AS n_g
        | FROM base GROUP BY 1)
        |SELECT b.c_custkey, b.c_nationkey, b.recency_days, b.frequency,
        | b.monetary_cents, b.tenure_days,
        | (b.bal_rank - 1) * 10 // b.n_all + 1 AS bal_decile,
        | CASE WHEN g.n_g > 1
        |  THEN (g.s_g - b.frequency) * 1000 // (g.n_g - 1)
        |  ELSE NULL END AS nation_loo_milli,
        | b.label_converted
        |FROM base b JOIN g ON b.c_nationkey = g.c_nationkey
        |ORDER BY b.c_custkey""".stripMargin,

    // bloom sizing planner: frozen -ln(p)/ln^2(2) and -log2(p)
    // coefficients, floor(x+0.5) value-round
    "q360_bloom_planner" ->
      """WITH ns AS (
        | SELECT 'custkey' AS key_col,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_keys
        | FROM orders
        | UNION ALL
        | SELECT 'orderkey',
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        | UNION ALL
        | SELECT 'partkey',
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem),
        |fpps AS (
        | SELECT * FROM (VALUES
        |  ('p_1e-2', 9.585058960443727e0, 6.643856189774724e0),
        |  ('p_1e-3', 1.4377588440665591e1, 9.965784284662087e0),
        |  ('p_1e-6', 2.8755176881331182e1, 1.9931568569324174e1))
        |  t(fpp, c_bits, k_exact))
        |SELECT key_col, n_keys, fpp,
        | CAST(floor(CAST(n_keys AS DOUBLE) * c_bits + 0.5) AS BIGINT)
        |  AS m_bits,
        | CAST(floor(k_exact + 0.5) AS BIGINT) AS k_hashes
        |FROM ns, fpps ORDER BY key_col, fpp""".stripMargin,

    // sessionized bounce rate + exact depth order statistics over the
    // q18 session chain
    "q361_bounce_rate" ->
      """WITH flagged AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |   OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sess AS (
        | SELECT user_id, sum(is_new) OVER (PARTITION BY user_id
        |   ORDER BY ts ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS session_seq, ts
        | FROM flagged),
        |depths AS (
        | SELECT user_id, session_seq, CAST(count(*) AS BIGINT)
        |   AS n_events
        | FROM sess GROUP BY 1, 2),
        |ranked AS (
        | SELECT n_events, row_number() OVER (
        |   ORDER BY n_events, user_id, session_seq) AS rn
        | FROM depths),
        |n AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bounces
        | FROM depths),
        |med AS (
        | SELECT n_events AS median_depth FROM ranked, n
        | WHERE rn = (n_sessions + 1) // 2),
        |p90 AS (
        | SELECT n_events AS p90_depth FROM ranked, n
        | WHERE rn = (n_sessions * 9 + 9) // 10)
        |SELECT n_sessions, n_bounces,
        | n_bounces * 1000000 // n_sessions AS bounce_ppm,
        | median_depth, p90_depth
        |FROM n, med, p90""".stripMargin,

    // truncated absorption horizon: purchase absorbing, five unrolled
    // integer survival rounds, Neumann-prefix expected steps
    "q362_absorption_horizon" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |c AS (
        | SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        | FROM seq WHERE prev IS NOT NULL AND prev <> 'purchase'
        | GROUP BY 1, 2),
        |p AS (
        | SELECT prev, next,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev)
        |   AS BIGINT) AS p_micro
        | FROM c),
        |st AS (SELECT DISTINCT prev AS state FROM p),
        |s1 AS (
        | SELECT p.prev AS state,
        |  CAST(sum(p_micro * 1000000) // 1000000 AS BIGINT) AS s
        | FROM p JOIN st ON p.next = st.state
        | WHERE p.next <> 'purchase' GROUP BY 1),
        |s2 AS (
        | SELECT p.prev AS state,
        |  CAST(sum(p_micro * s1.s) // 1000000 AS BIGINT) AS s
        | FROM p JOIN s1 ON p.next = s1.state
        | WHERE p.next <> 'purchase' GROUP BY 1),
        |s3 AS (
        | SELECT p.prev AS state,
        |  CAST(sum(p_micro * s2.s) // 1000000 AS BIGINT) AS s
        | FROM p JOIN s2 ON p.next = s2.state
        | WHERE p.next <> 'purchase' GROUP BY 1),
        |s4 AS (
        | SELECT p.prev AS state,
        |  CAST(sum(p_micro * s3.s) // 1000000 AS BIGINT) AS s
        | FROM p JOIN s3 ON p.next = s3.state
        | WHERE p.next <> 'purchase' GROUP BY 1),
        |s5 AS (
        | SELECT p.prev AS state,
        |  CAST(sum(p_micro * s4.s) // 1000000 AS BIGINT) AS s
        | FROM p JOIN s4 ON p.next = s4.state
        | WHERE p.next <> 'purchase' GROUP BY 1)
        |SELECT st.state, CAST(coalesce(s5.s, 0) AS BIGINT)
        |  AS survive_5_micro,
        | CAST(1000000 + coalesce(s1.s, 0) + coalesce(s2.s, 0)
        |  + coalesce(s3.s, 0) + coalesce(s4.s, 0) + coalesce(s5.s, 0)
        |  AS BIGINT) AS exp_steps_6h_micro
        |FROM st
        | LEFT JOIN s1 ON st.state = s1.state
        | LEFT JOIN s2 ON st.state = s2.state
        | LEFT JOIN s3 ON st.state = s3.state
        | LEFT JOIN s4 ON st.state = s4.state
        | LEFT JOIN s5 ON st.state = s5.state
        |ORDER BY st.state""".stripMargin,

    // CF holdout eval vs the popularity baseline: 80/20 hash split,
    // q335 train chain, exact hit counts and lift
    "q363_rec_holdout" ->
      s"""WITH baskets AS (
        | SELECT DISTINCT o_custkey AS cust, l_partkey AS part,
        |  ${ph("CAST(o_custkey AS VARCHAR)", 909)} % 5 = 0 AS is_test
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |train AS (
        | SELECT cust, part FROM baskets WHERE NOT is_test),
        |small AS (
        | SELECT cust FROM train GROUP BY 1 HAVING count(*) <= 30),
        |b AS (
        | SELECT train.cust, train.part
        | FROM train JOIN small ON train.cust = small.cust),
        |recs AS (
        | SELECT part_a, part_b FROM (
        |  SELECT x.part AS part_a, y.part AS part_b,
        |   row_number() OVER (PARTITION BY x.part
        |     ORDER BY count(*) DESC, y.part) AS rn
        |  FROM b x JOIN b y ON x.cust = y.cust AND x.part <> y.part
        |  GROUP BY x.part, y.part)
        | WHERE rn <= 3),
        |poptop AS (
        | SELECT part AS part_b FROM train
        | GROUP BY 1 ORDER BY count(*) DESC, part LIMIT 3),
        |testb AS (
        | SELECT cust, part FROM baskets WHERE is_test),
        |multi AS (
        | SELECT cust FROM testb GROUP BY 1 HAVING count(*) >= 2),
        |probes AS (
        | SELECT testb.cust, testb.part
        | FROM testb JOIN multi ON testb.cust = multi.cust),
        |cf AS (
        | SELECT CAST(count(*) AS BIGINT) AS cf_hits FROM (
        |  SELECT DISTINCT pr.cust, pr.part
        |  FROM probes pr
        |   JOIN recs r ON pr.part = r.part_a
        |   JOIN testb tb ON tb.cust = pr.cust AND tb.part = r.part_b
        |  WHERE r.part_b <> pr.part)),
        |pop AS (
        | SELECT CAST(count(*) AS BIGINT) AS pop_hits FROM (
        |  SELECT DISTINCT pr.cust, pr.part
        |  FROM probes pr
        |   CROSS JOIN poptop pt
        |   JOIN testb tb ON tb.cust = pr.cust AND tb.part = pt.part_b
        |  WHERE pt.part_b <> pr.part)),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes)
        |SELECT n_probes, cf_hits, pop_hits,
        | cf_hits * 1000000 // n_probes AS cf_hit_ppm,
        | pop_hits * 1000000 // n_probes AS pop_hit_ppm,
        | CASE WHEN pop_hits = 0 THEN NULL ELSE
        |  CAST(CAST(cf_hits AS HUGEINT) * 1000 // pop_hits AS BIGINT)
        |  END AS lift_milli
        |FROM np, cf, pop""".stripMargin,

    // churn label factory: two cutoffs, 300-day horizon, explicit
    // censoring (NULL label past the data edge)
    "q364_churn_labels" ->
      """WITH o AS (
        | SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, cutoff
        | FROM orders,
        |  (SELECT unnest([DATE '1997-06-01', DATE '2001-03-01'])
        |    AS cutoff)),
        |maxd AS (SELECT max(d) AS d_max FROM o),
        |pre AS (
        | SELECT cutoff, o_custkey, CAST(count(*) AS BIGINT)
        |   AS freq_before,
        |  max(d) AS d_last_before
        | FROM o WHERE d < cutoff GROUP BY 1, 2),
        |post AS (
        | SELECT DISTINCT cutoff, o_custkey FROM o
        | WHERE d >= cutoff AND d < cutoff + INTERVAL 300 DAY)
        |SELECT pre.cutoff, pre.o_custkey AS c_custkey,
        | CAST(date_diff('day', pre.d_last_before, pre.cutoff) AS BIGINT)
        |  AS recency_at_cutoff,
        | pre.freq_before,
        | pre.cutoff + INTERVAL 300 DAY > maxd.d_max AS censored,
        | CASE WHEN pre.cutoff + INTERVAL 300 DAY > maxd.d_max THEN NULL
        |  ELSE post.o_custkey IS NULL END AS label_churned
        |FROM pre
        | LEFT JOIN post ON pre.cutoff = post.cutoff
        |  AND pre.o_custkey = post.o_custkey
        | CROSS JOIN maxd
        |ORDER BY pre.cutoff, c_custkey""".stripMargin,

    // feature-label leakage screen: exact point-biserial r^2 ppm per
    // q359 feature against the binary conversion label
    "q365_leakage_screen" ->
      """WITH maxd AS (
        | SELECT max(CAST(o_orderdate AS DATE)) AS d_max FROM orders),
        |pc AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS monetary_cents,
        |  min(CAST(o_orderdate AS DATE)) AS d_first,
        |  max(CAST(o_orderdate AS DATE)) AS d_last,
        |  CAST(sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n97
        | FROM orders GROUP BY 1),
        |m AS (
        | SELECT c_custkey,
        |  CASE WHEN pc.d_last IS NOT NULL THEN
        |   CAST(date_diff('day', pc.d_last, maxd.d_max) AS BIGINT)
        |   ELSE 0 END AS recency_days,
        |  coalesce(pc.frequency, 0) AS frequency,
        |  coalesce(pc.monetary_cents, 0) AS monetary_cents,
        |  CASE WHEN pc.d_first IS NOT NULL THEN
        |   CAST(date_diff('day', pc.d_first, pc.d_last) AS BIGINT)
        |   ELSE 0 END AS tenure_days,
        |  CASE WHEN coalesce(pc.n97, 0) > 0 THEN 1 ELSE 0 END AS y
        | FROM customer
        |  LEFT JOIN pc ON c_custkey = pc.o_custkey
        |  CROSS JOIN maxd),
        |melted AS (
        | SELECT y, 'recency_days' AS feature, recency_days AS x FROM m
        | UNION ALL
        | SELECT y, 'frequency', frequency FROM m
        | UNION ALL
        | SELECT y, 'monetary_kusd', monetary_cents // 100000 FROM m
        | UNION ALL
        | SELECT y, 'tenure_days', tenure_days FROM m),
        |st AS (
        | SELECT feature, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy
        | FROM melted GROUP BY 1),
        |r2 AS (
        | SELECT feature,
        |  CASE WHEN CAST(n AS HUGEINT) * sy - CAST(sy AS HUGEINT) * sy
        |     = 0
        |   OR CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
        |   THEN NULL ELSE
        |   CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |    * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |    * 1000000
        |    // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |      * (CAST(n AS HUGEINT) * sy - CAST(sy AS HUGEINT) * sy))
        |    AS BIGINT) END AS r2_ppm
        | FROM st)
        |SELECT feature, r2_ppm, r2_ppm > 900000 AS leak_flag
        |FROM r2 ORDER BY feature""".stripMargin,

    // time-decayed co-occurrence: exact power-of-two half-life weights
    // (right shift by whole 180-day half-lives), q335 cap policy
    "q366_decayed_cf" ->
      """WITH maxd AS (
        | SELECT max(CAST(o_orderdate AS DATE)) AS d_max FROM orders),
        |baskets AS (
        | SELECT o_custkey AS cust, l_partkey AS part,
        |  CAST(1000000 // (1 << CAST(date_diff('day',
        |    max(CAST(o_orderdate AS DATE)), maxd.d_max) // 180 AS INT))
        |   AS BIGINT) AS w
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  CROSS JOIN maxd
        | GROUP BY o_custkey, l_partkey, maxd.d_max),
        |small AS (
        | SELECT cust FROM baskets GROUP BY 1 HAVING count(*) <= 30),
        |b AS (
        | SELECT baskets.cust, baskets.part, baskets.w
        | FROM baskets JOIN small ON baskets.cust = small.cust),
        |co AS (
        | SELECT x.part AS part_a, y.part AS part_b,
        |  CAST(sum(least(x.w, y.w)) AS BIGINT) AS decayed_micro,
        |  CAST(count(*) AS BIGINT) AS co_cnt
        | FROM b x JOIN b y ON x.cust = y.cust AND x.part <> y.part
        | GROUP BY 1, 2),
        |rk AS (
        | SELECT part_a, part_b, decayed_micro, co_cnt,
        |  CAST(row_number() OVER (PARTITION BY part_a
        |    ORDER BY decayed_micro DESC, co_cnt DESC, part_b)
        |   AS BIGINT) AS rn
        | FROM co)
        |SELECT part_a, part_b, decayed_micro, co_cnt, rn
        |FROM rk WHERE rn <= 3 ORDER BY part_a, rn""".stripMargin,

    // transition lift vs independence: exact cross-multiplied
    // (n_ij * N) / (n_i * n_j) in ppm
    "q367_transition_lift" ->
      """WITH pairs AS (
        | SELECT prev, event_type AS next FROM (
        |  SELECT event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev
        |  FROM events)
        | WHERE prev IS NOT NULL),
        |c AS (
        | SELECT prev, next, CAST(count(*) AS BIGINT) AS n_ij
        | FROM pairs GROUP BY 1, 2),
        |rt AS (SELECT prev, CAST(count(*) AS BIGINT) AS n_i
        |       FROM pairs GROUP BY 1),
        |ct AS (SELECT next, CAST(count(*) AS BIGINT) AS n_j
        |       FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pairs)
        |SELECT c.prev, c.next, c.n_ij, rt.n_i, ct.n_j,
        | CAST(CAST(c.n_ij AS HUGEINT) * n_total * 1000000
        |  // (CAST(rt.n_i AS HUGEINT) * ct.n_j) AS BIGINT) AS lift_ppm
        |FROM c JOIN rt ON c.prev = rt.prev
        | JOIN ct ON c.next = ct.next
        | CROSS JOIN tot
        |ORDER BY c.prev, c.next""".stripMargin,

    // k-arm SRM: exact chi2 micro vs the frozen chi2_3 95% quantile,
    // decided by integer cross-multiplication
    "q368_karm_srm" ->
      s"""WITH arms AS (
        | SELECT ${ph("CAST(c_custkey AS VARCHAR)", 881)} % 4 AS arm,
        |  CAST(count(*) AS BIGINT) AS n_a
        | FROM customer GROUP BY 1),
        |n AS (SELECT CAST(sum(n_a) AS BIGINT) AS n FROM arms),
        |ss AS (
        | SELECT CAST(sum(CAST(4 * n_a - n.n AS HUGEINT)
        |   * CAST(4 * n_a - n.n AS HUGEINT)) AS HUGEINT) AS ss,
        |  max(n.n) AS n
        | FROM arms, n)
        |SELECT n,
        | CAST(ss * 1000000 // (4 * n) AS BIGINT) AS chi2_micro,
        | ss * 1000 > CAST(7815 AS HUGEINT) * 4 * n AS srm_flag
        |FROM ss""".stripMargin,

    // AMS F2 sketch vs exact: four portable sign estimates, exact
    // squares, mean vs sum c(k)^2 in ppm
    "q369_ams_f2" ->
      s"""WITH pk AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
        | FROM orders GROUP BY 1),
        |actual AS (
        | SELECT CAST(sum(c * c) AS BIGINT) AS actual_f2 FROM pk),
        |z AS (
        | SELECT r, CAST(sum((${ph(
             "CAST(o_custkey AS VARCHAR) || ':' || CAST(r AS VARCHAR)",
             997)} % 2 * 2 - 1) * c) AS BIGINT) AS z
        | FROM pk, (SELECT unnest([1, 2, 3, 4]) AS r)
        | GROUP BY 1),
        |est AS (
        | SELECT r, CAST(z AS HUGEINT) * z AS est_r FROM z),
        |mean AS (
        | SELECT CAST(sum(est_r) // count(*) AS HUGEINT) AS est_f2_mean,
        |  CAST(count(*) AS BIGINT) AS n_seeds
        | FROM est)
        |SELECT n_seeds, actual_f2,
        | CAST(est_f2_mean AS BIGINT) AS est_f2,
        | CAST(abs(est_f2_mean - actual_f2) * 1000000 // actual_f2
        |  AS BIGINT) AS err_ppm
        |FROM mean, actual""".stripMargin,

    // batch-replay anchor for the streaming quality router: the
    // textMetrics kernel (quality + lang heuristic) and the keep/reject
    // contract replayed per document
    "q370_quality_router" ->
      s"""WITH h AS (
         | SELECT doc_id,
         |  CAST(${qualitySql("text")} AS BIGINT) AS quality_score,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['the','and','of','to','is'], x))) AS h_en,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['el','la','de','que','los'], x))) AS h_es,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['le','la','les','des','est'], x))) AS h_fr,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['der','die','und','das','ist'], x))) AS h_de,
         |  len(list_filter(${toksSql("lower(text)")}, x -> list_contains(['的','是','了','在','我'], x))) AS h_zh
         | FROM documents)
         |SELECT doc_id, quality_score,
         | CASE WHEN h_en + h_es + h_fr + h_de + h_zh = 0 THEN 'und'
         |      WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
         |      WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
         |      WHEN h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
         |      WHEN h_de >= h_zh THEN 'de'
         |      ELSE 'zh' END AS lang,
         | (quality_score >= 50) AS keep,
         | CASE WHEN quality_score >= 50 THEN NULL
         |      ELSE 'quality_below_50' END AS reject_reason
         |FROM h ORDER BY doc_id""".stripMargin,

    // batch-replay anchor for the streaming session metrics: gap-split
    // sessions at micros-exact diff >= 5 min, window end = last event +
    // gap, exact DECIMAL(18,2) score average (scores clamp to [0,100]
    // through the cleanEvent contract)
    "q371_session_metrics" ->
      """WITH ev AS (
        | SELECT CAST(user_id AS VARCHAR) AS student_id, ts,
        |  CASE WHEN value IS NULL OR NOT isfinite(value) THEN NULL
        |       ELSE LEAST(GREATEST(value, 0.0), 100.0) END AS clean_score
        | FROM events),
        |flagged AS (
        | SELECT student_id, ts, clean_score,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 300000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM ev WINDOW w AS (PARTITION BY student_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY student_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        | FROM flagged)
        |SELECT min(ts) AS session_start,
        | max(ts) + INTERVAL 5 MINUTE AS session_end,
        | student_id, count(*) AS n_events,
        | CAST(sum(CAST(clean_score AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(clean_score) AS avg_score
        |FROM sessions GROUP BY student_id, seq
        |ORDER BY student_id, session_start""".stripMargin,

    // batch-replay anchor for the streaming per-minute metrics: tumbling
    // 1-minute windows, exact DECIMAL(18,2) average
    "q372_per_minute_metrics" ->
      """WITH ev AS (
        | SELECT ts, user_id,
        |  CASE WHEN value IS NULL OR NOT isfinite(value) THEN NULL
        |       ELSE LEAST(GREATEST(value, 0.0), 100.0) END AS clean_score
        | FROM events)
        |SELECT date_trunc('minute', ts) AS window_start,
        | CAST(user_id AS VARCHAR) AS student_id,
        | count(*) AS events_per_minute,
        | CAST(sum(CAST(clean_score AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(clean_score) AS rolling_avg_score
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // batch-replay anchor for the streaming per-student rolling metrics
    // + alert predicate: error events carry an unparseable score, so
    // is_valid=false exactly on event_type='error'
    "q373_student_metrics" ->
      """SELECT CAST(user_id AS VARCHAR) AS student_id,
        | count(*) AS event_count,
        | CAST(sum(COALESCE(
        |   TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT), 0))
        |  AS BIGINT) AS total_duration,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
        |  / GREATEST(count(*), 1) AS error_rate,
        | (CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
        |  / GREATEST(count(*), 1)) > 0.2 AS is_anomalous
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // batch-replay anchor for the sliding-window linear-counting sketch:
    // hash -> bucket -> occupied per 5-min/1-min window -> estimator,
    // all replayed (the q68 anchor extended to the windowed shape)
    "q374_active_sketch" ->
      s"""WITH w AS (
         | SELECT DISTINCT
         |  date_trunc('minute', ts) - k * INTERVAL 1 MINUTE AS window_start,
         |  ${ph("CAST(user_id AS VARCHAR)", 7)} % 4096 AS bucket
         | FROM events, (SELECT unnest(range(0, 5)) AS k)
         | WHERE CAST(ts AS DATE) = DATE '2024-01-01')
         |SELECT window_start, count(*) AS occupied,
         | CASE WHEN count(*) < 4096 THEN
         |  round(-4096 * ln((4096 - count(*)) / 4096.0), 6) END AS est_active
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // batch-replay anchor for the streaming session-sequence assembler:
    // gap sessions at micros-exact diff >= 30 min, (ts, id)-ordered
    // sentences
    "q375_session_sequences" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sessions AS (
        | SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        | FROM flagged)
        |SELECT min(ts) AS session_start, user_id,
        | count(*) AS n_events,
        | string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq
        |FROM sessions GROUP BY user_id, seq
        |ORDER BY user_id, session_start""".stripMargin,

    // batch-replay anchor for the stream-stream attribution join:
    // click -> purchase pairs per user, purchase within [click,
    // click + 10 min] — the two-sided time bound replayed verbatim
    "q376_interval_join" ->
      """SELECT l.user_id, l.ts AS left_time, r.ts AS right_time
        |FROM events l JOIN events r
        | ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin,

    // block-size-capped fuzzy pairing: the count-gate (HAVING <= 100)
    // must drop EXACTLY the two planted hot blocks (shared email on
    // every 3rd customer, unknown name+phone on every 7th) and keep
    // every honest block's pairs; per-reason census replayed verbatim
    "q377_capped_pairs" ->
      """WITH c AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'hot@x.com'
        |       ELSE 'u' || (c_custkey % 400) || '@x.com' END AS email,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'n_unk'
        |       ELSE 'n' || (c_custkey % 40) END AS name,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'p_unk'
        |       ELSE 'p' || (c_custkey % 55) END AS phone
        | FROM customer),
        |ek AS (SELECT email FROM c GROUP BY email HAVING count(*) <= 40),
        |nk AS (SELECT name, phone FROM c GROUP BY name, phone
        |       HAVING count(*) <= 40),
        |ce AS (SELECT c.* FROM c JOIN ek USING (email)),
        |cn AS (SELECT c.* FROM c JOIN nk USING (name, phone)),
        |p AS (
        | SELECT l.c_custkey AS id_a, r.c_custkey AS id_b,
        |        'email' AS match_reason
        | FROM ce l JOIN ce r
        |   ON l.email = r.email AND l.c_custkey < r.c_custkey
        | UNION
        | SELECT l.c_custkey, r.c_custkey, 'name_phone'
        | FROM cn l JOIN cn r
        |   ON l.name = r.name AND l.phone = r.phone
        |  AND l.c_custkey < r.c_custkey),
        |i AS (SELECT match_reason, id_a AS id FROM p
        |      UNION ALL SELECT match_reason, id_b FROM p)
        |SELECT p.match_reason,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | (SELECT CAST(count(DISTINCT id) AS BIGINT) FROM i
        |   WHERE i.match_reason = p.match_reason) AS n_ids,
        | min(id_a) AS min_id, max(id_b) AS max_id
        |FROM p GROUP BY p.match_reason ORDER BY p.match_reason""".stripMargin,

    // capped-pair triangle census: replay the row-proportional dup-group
    // fixture, the <=40 block gate per reason key, both self-joins, the
    // distinct undirected edge union, and the full triangle join; counts
    // exact, clustering one double division of two exact longs
    "q378_capped_triangles" ->
      """WITH c AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'hot@x.com'
        |       ELSE 'u' || (c_custkey // 5) || '@x.com' END AS email,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'n_unk'
        |       ELSE 'n' || (c_custkey // 4) END AS name,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'p_unk'
        |       ELSE 'p' || (c_custkey // 4) END AS phone
        | FROM customer),
        |ek AS (SELECT email FROM c GROUP BY email HAVING count(*) <= 40),
        |nk AS (SELECT name, phone FROM c GROUP BY name, phone
        |       HAVING count(*) <= 40),
        |ce AS (SELECT c.* FROM c JOIN ek USING (email)),
        |cn AS (SELECT c.* FROM c JOIN nk USING (name, phone)),
        |e AS (
        | SELECT DISTINCT a, b FROM (
        |  SELECT l.c_custkey AS a, r.c_custkey AS b
        |  FROM ce l JOIN ce r
        |    ON l.email = r.email AND l.c_custkey < r.c_custkey
        |  UNION ALL
        |  SELECT l.c_custkey, r.c_custkey
        |  FROM cn l JOIN cn r
        |    ON l.name = r.name AND l.phone = r.phone
        |   AND l.c_custkey < r.c_custkey)),
        |deg AS (
        | SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        | GROUP BY 1),
        |ds AS (
        | SELECT count(*) AS n_nodes,
        |  COALESCE(sum(deg * (deg - 1) // 2), 0) AS n_wedges FROM deg),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |tr AS (
        | SELECT count(*) AS n_triangles
        | FROM e x JOIN e y ON x.b = y.a
        |  JOIN e z ON z.a = x.a AND z.b = y.b)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(n_wedges AS BIGINT) AS n_wedges,
        | CAST(n_triangles AS BIGINT) AS n_triangles,
        | CASE WHEN n_wedges = 0 THEN 0.0
        |  ELSE CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |  END AS clustering
        |FROM ds CROSS JOIN m CROSS JOIN tr""".stripMargin,

    // degree-oriented triangle census over the hub fixture: replay the
    // fixture, the (deg, id) edge orientation, the oriented wedge join
    // and the out-degree wedge census; n_triangles must equal q380's
    "q379_oriented_triangles" ->
      """WITH ids AS (SELECT c_custkey AS id FROM customer),
        |h AS (SELECT max(id) // 2 AS hub FROM ids),
        |raw AS (
        | SELECT least(hub, id) AS id_a, greatest(hub, id) AS id_b
        | FROM ids CROSS JOIN h WHERE id % 7 = 2 AND id <> hub
        | UNION ALL
        | SELECT l.id, l.id + 1 FROM ids l JOIN ids r ON r.id = l.id + 1
        |  WHERE l.id // 5 = (l.id + 1) // 5
        | UNION ALL
        | SELECT l.id, l.id + 2 FROM ids l JOIN ids r ON r.id = l.id + 2
        |  WHERE l.id // 5 = (l.id + 2) // 5),
        |e AS (SELECT DISTINCT least(id_a, id_b) AS a,
        |       greatest(id_a, id_b) AS b FROM raw WHERE id_a <> id_b),
        |deg AS (
        | SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        | GROUP BY 1),
        |ds AS (
        | SELECT count(*) AS n_nodes,
        |  COALESCE(sum(deg * (deg - 1) // 2), 0) AS n_wedges FROM deg),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |o AS (
        | SELECT CASE WHEN da < db OR (da = db AND a < b)
        |             THEN a ELSE b END AS src,
        |        CASE WHEN da < db OR (da = db AND a < b)
        |             THEN b ELSE a END AS dst,
        |        CASE WHEN da < db OR (da = db AND a < b)
        |             THEN db ELSE da END AS dd
        | FROM (SELECT e.a, e.b, x.deg AS da, y.deg AS db
        |       FROM e JOIN deg x ON x.id = e.a
        |        JOIN deg y ON y.id = e.b)),
        |tr AS (
        | SELECT count(*) AS n_triangles
        | FROM o x JOIN o y ON x.src = y.src
        |   AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))
        |  JOIN o z ON z.src = x.dst AND z.dst = y.dst),
        |ow AS (
        | SELECT coalesce(sum(od * (od - 1) // 2), 0)
        |   AS n_wedges_oriented
        | FROM (SELECT src, count(*) AS od FROM o GROUP BY 1))
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(n_wedges AS BIGINT) AS n_wedges,
        | CAST(n_wedges_oriented AS BIGINT) AS n_wedges_oriented,
        | CAST(n_triangles AS BIGINT) AS n_triangles,
        | CASE WHEN n_wedges = 0 THEN 0.0
        |  ELSE CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |  END AS clustering
        |FROM ds CROSS JOIN m CROSS JOIN ow CROSS JOIN tr""".stripMargin,

    // id-oriented twin on the same hub fixture (the q239 census form):
    // correct at gated SFs, quadratic in rows — the contrast q379 is
    // measured against
    "q380_hub_triangles" ->
      """WITH ids AS (SELECT c_custkey AS id FROM customer),
        |h AS (SELECT max(id) // 2 AS hub FROM ids),
        |raw AS (
        | SELECT least(hub, id) AS id_a, greatest(hub, id) AS id_b
        | FROM ids CROSS JOIN h WHERE id % 7 = 2 AND id <> hub
        | UNION ALL
        | SELECT l.id, l.id + 1 FROM ids l JOIN ids r ON r.id = l.id + 1
        |  WHERE l.id // 5 = (l.id + 1) // 5
        | UNION ALL
        | SELECT l.id, l.id + 2 FROM ids l JOIN ids r ON r.id = l.id + 2
        |  WHERE l.id // 5 = (l.id + 2) // 5),
        |e AS (SELECT DISTINCT least(id_a, id_b) AS a,
        |       greatest(id_a, id_b) AS b FROM raw WHERE id_a <> id_b),
        |deg AS (
        | SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        | GROUP BY 1),
        |ds AS (
        | SELECT count(*) AS n_nodes,
        |  COALESCE(sum(deg * (deg - 1) // 2), 0) AS n_wedges FROM deg),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |tr AS (
        | SELECT count(*) AS n_triangles
        | FROM e x JOIN e y ON x.b = y.a
        |  JOIN e z ON z.a = x.a AND z.b = y.b)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(n_wedges AS BIGINT) AS n_wedges,
        | CAST(n_triangles AS BIGINT) AS n_triangles,
        | CASE WHEN n_wedges = 0 THEN 0.0
        |  ELSE CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |  END AS clustering
        |FROM ds CROSS JOIN m CROSS JOIN tr""".stripMargin,

    // q286's LSH scale-path twin: the portable SRP bucket (8 fold-form
    // hyperplane projections over the portable hash family), the
    // bucket-keyed candidate join, and the same rank/vote/aggregate —
    // the approximation itself replays value-identically
    "q381_agreement_lsh" -> {
      val numPlanes = 8
      def comp(p: Int) =
        s"(CAST(${ph("CAST(i - 1 AS VARCHAR)", p)} % 2000001 - 1000000 AS DOUBLE) / 1000000.0)"
      val bucket = (0 until numPlanes).map { p =>
        val proj = foldSumSql(
          s"list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * ${comp(p)})")
        s"(CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n       + ")
      s"""WITH e0 AS (
         | SELECT vec_id, label, embedding AS e FROM embeddings),
         |b AS (
         | SELECT vec_id, label, e,
         |  $bucket AS bkt
         | FROM e0),
         |q AS (
         | SELECT vec_id AS query_id, e AS qv, label AS qlabel, bkt
         | FROM b WHERE vec_id % 10 = 0),
         |c AS (
         | SELECT vec_id AS neighbor_id, e AS cv, label AS clabel, bkt
         | FROM b),
         |scored AS (
         | SELECT query_id, qlabel, neighbor_id, clabel,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c JOIN q USING (bkt) WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, qlabel, neighbor_id, clabel,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, neighbor_id ASC) AS rnk
         | FROM sims),
         |agree AS (
         | SELECT query_id, qlabel,
         |  CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |   AS matches
         | FROM ranked WHERE rnk <= 5 GROUP BY 1, 2)
         |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
         | CAST(sum(matches) AS BIGINT) AS n_matches,
         | CAST(sum(matches) * 200000 // count(*) AS BIGINT)
         |  AS mean_agree_ppm,
         | CAST(sum(CASE WHEN matches < 2 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_flagged
         |FROM agree GROUP BY 1 ORDER BY label""".stripMargin
    },

    // q293's LSH scale-path twin: the portable SRP bucket over the
    // every-5th subset, bucket-keyed top-1, then q293's reciprocity
    // join verbatim — the approximation itself replays value-identically
    "q382_mutual_nn_lsh" -> {
      val numPlanes = 8
      def comp(p: Int) =
        s"(CAST(${ph("CAST(i - 1 AS VARCHAR)", p)} % 2000001 - 1000000 AS DOUBLE) / 1000000.0)"
      val bucket = (0 until numPlanes).map { p =>
        val proj = foldSumSql(
          s"list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * ${comp(p)})")
        s"(CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n       + ")
      s"""WITH u AS (
         | SELECT vec_id, embedding AS e, label FROM embeddings
         | WHERE vec_id % 5 = 0),
         |b AS (
         | SELECT vec_id, label, e,
         |  $bucket AS bkt
         | FROM u),
         |q AS (SELECT vec_id AS query_id, e AS qv, bkt FROM b),
         |c AS (SELECT vec_id AS neighbor_id, e AS cv, bkt FROM b),
         |scored AS (
         | SELECT query_id, neighbor_id,
         |  ${dotSql("qv", "cv")} AS dot_p,
         |  ${normSql("qv")} * ${normSql("cv")} AS norm_p
         | FROM c JOIN q USING (bkt) WHERE neighbor_id <> query_id),
         |sims AS (
         | SELECT query_id, neighbor_id,
         |  CASE WHEN norm_p = 0 THEN 0.0 ELSE dot_p / norm_p END AS sim
         | FROM scored),
         |nn1 AS (
         | SELECT query_id, neighbor_id, round(sim, 6) AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM sims)
         | WHERE rnk = 1)
         |SELECT a.query_id AS id_a, a.neighbor_id AS id_b, a.cos,
         | la.label = lb.label AS same_label
         |FROM nn1 a JOIN nn1 b
         |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |  AND a.query_id < a.neighbor_id
         | JOIN u la ON la.vec_id = a.query_id
         | JOIN u lb ON lb.vec_id = a.neighbor_id
         |ORDER BY id_a""".stripMargin
    },

    // q344's constant-family twin: DIV-based blocks (email pairs of 2,
    // name+phone triples of 3) keep per-family size constant at any
    // corpus size — |E| linear in customers; same Newman tail
    "q383_assortativity_stable" ->
      """WITH contacts AS (
        | SELECT c_custkey,
        |  'u' || CAST(c_custkey // 2 AS VARCHAR) || '@x.com' AS email,
        |  'n' || CAST(c_custkey // 3 AS VARCHAR) AS name,
        |  'p' || CAST(c_custkey // 3 AS VARCHAR) AS phone
        | FROM customer),
        |e AS (
        | SELECT DISTINCT l.c_custkey AS id_a, r.c_custkey AS id_b
        | FROM contacts l, contacts r
        | WHERE l.c_custkey < r.c_custkey
        |  AND (l.email = r.email
        |   OR (l.name = r.name AND l.phone = r.phone))),
        |deg AS (
        | SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
        | GROUP BY 1),
        |st AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(da.deg + db.deg) AS BIGINT) AS s,
        |  CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS sxx,
        |  CAST(sum(da.deg * db.deg * 2) AS BIGINT) AS sxy
        | FROM e JOIN deg da ON e.id_a = da.id
        |  JOIN deg db ON e.id_b = db.id)
        |SELECT n_edges,
        | CAST((CAST(2 * n_edges AS HUGEINT) * sxy
        |   - CAST(s AS HUGEINT) * s) * 1000
        |  // (CAST(2 * n_edges AS HUGEINT) * sxx
        |   - CAST(s AS HUGEINT) * s) AS BIGINT)
        |  AS assortativity_milli
        |FROM st""".stripMargin,

    // q145's sketch twin: per-group fixed-width histogram median/MAD —
    // the all-integer grouped rank/interpolation chain (bin //, ceil-
    // rational rank, integer interpolation), replayed verbatim
    "q384_mad_sketch" ->
      s"""WITH ev AS (
         | SELECT source AS g, CAST(${tokenCountSql("text")} AS BIGINT) AS v
         | FROM documents),
         |h1 AS (SELECT g, v // 16 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ev GROUP BY 1, 2),
         |c1 AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h1),
         |r1 AS (SELECT g, (5000 * sum(cnt) + 9999) // 10000 AS r
         |  FROM h1 GROUP BY g),
         |s1 AS (SELECT c1.g, r, min(bin) AS bin
         |  FROM r1 JOIN c1 ON r1.g = c1.g AND cum >= r GROUP BY 1, 2),
         |med AS (SELECT s1.g,
         |  CAST(c1.bin * 16 + 16 * (r - cum_before) // cnt AS BIGINT)
         |   AS med_est
         | FROM s1 JOIN c1 ON s1.g = c1.g AND s1.bin = c1.bin),
         |dev AS (SELECT ev.g, v, med_est, abs(v - med_est) AS adev
         | FROM ev JOIN med ON ev.g = med.g),
         |h2 AS (SELECT g, adev // 16 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dev GROUP BY 1, 2),
         |c2 AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h2),
         |r2 AS (SELECT g, (5000 * sum(cnt) + 9999) // 10000 AS r
         |  FROM h2 GROUP BY g),
         |s2 AS (SELECT c2.g, r, min(bin) AS bin
         |  FROM r2 JOIN c2 ON r2.g = c2.g AND cum >= r GROUP BY 1, 2),
         |mad AS (SELECT s2.g,
         |  CAST(c2.bin * 16 + 16 * (r - cum_before) // cnt AS BIGINT)
         |   AS mad_est
         | FROM s2 JOIN c2 ON s2.g = c2.g AND s2.bin = c2.bin)
         |SELECT dev.g AS source, med_est, mad_est,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(count(CASE WHEN adev > 3 * mad_est THEN 1 END) AS BIGINT)
         |  AS n_outliers
         |FROM dev JOIN mad ON dev.g = mad.g
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // q196's sketch twin: histogram cuts at 1000/9000 bp, then exact
    // BIGINT trim/winsorize sums — one int/int double division per mean
    "q385_trimmed_sketch" ->
      s"""WITH ev AS (
         | SELECT source AS g, CAST(${tokenCountSql("text")} AS BIGINT) AS v
         | FROM documents),
         |h AS (SELECT g, v // 16 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ev GROUP BY 1, 2),
         |c AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h),
         |rr AS (SELECT g, (1000 * sum(cnt) + 9999) // 10000 AS r_lo,
         |  (9000 * sum(cnt) + 9999) // 10000 AS r_hi FROM h GROUP BY g),
         |slo AS (SELECT c.g, r_lo AS r, min(bin) AS bin
         |  FROM rr JOIN c ON rr.g = c.g AND cum >= r_lo GROUP BY 1, 2),
         |shi AS (SELECT c.g, r_hi AS r, min(bin) AS bin
         |  FROM rr JOIN c ON rr.g = c.g AND cum >= r_hi GROUP BY 1, 2),
         |lo AS (SELECT slo.g,
         |  CAST(c.bin * 16 + 16 * (r - cum_before) // cnt AS BIGINT)
         |   AS lo_est
         | FROM slo JOIN c ON slo.g = c.g AND slo.bin = c.bin),
         |hi AS (SELECT shi.g,
         |  CAST(c.bin * 16 + 16 * (r - cum_before) // cnt AS BIGINT)
         |   AS hi_est
         | FROM shi JOIN c ON shi.g = c.g AND shi.bin = c.bin),
         |j AS (SELECT ev.g, v, lo_est, hi_est,
         |  greatest(least(v, hi_est), lo_est) AS w,
         |  CASE WHEN v >= lo_est AND v <= hi_est THEN v END AS t
         | FROM ev JOIN lo ON ev.g = lo.g JOIN hi ON ev.g = hi.g)
         |SELECT g AS source, CAST(count(*) AS BIGINT) AS n,
         | lo_est, hi_est,
         | CAST(sum(t) AS DOUBLE) / CAST(count(t) AS DOUBLE)
         |  AS trimmed_mean,
         | CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS winsorized_mean
         |FROM j GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,

    // q127's sketch twin: thirds cuts off the negated-micro score
    // histogram (ceil-rational ranks in NEG space: the 1/3 neg rank is
    // the 2/3 logprob cut), then the same >=-higher-bucket rule
    "q386_ppl_buckets_sketch" ->
      s"""WITH $q99Chain,
         |m AS (
         | SELECT doc_id, n_tokens, logprob_mean,
         |  CAST(round(-logprob_mean * 1000000) AS BIGINT) AS neg
         | FROM d),
         |h AS (SELECT neg // 10000 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM m GROUP BY 1),
         |c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
         |  sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before FROM h),
         |rr AS (SELECT (sum(cnt) + 2) // 3 AS r_hi,
         |  (2 * sum(cnt) + 2) // 3 AS r_lo FROM h),
         |shi AS (SELECT r_hi AS r, min(bin) AS bin
         |  FROM rr JOIN c ON cum >= r_hi GROUP BY 1),
         |slo AS (SELECT r_lo AS r, min(bin) AS bin
         |  FROM rr JOIN c ON cum >= r_lo GROUP BY 1),
         |hi AS (SELECT CAST(c.bin * 10000 + 10000 * (r - cum_before) // cnt
         |   AS BIGINT) AS hi_neg
         | FROM shi JOIN c ON shi.bin = c.bin),
         |lo AS (SELECT CAST(c.bin * 10000 + 10000 * (r - cum_before) // cnt
         |   AS BIGINT) AS lo_neg
         | FROM slo JOIN c ON slo.bin = c.bin)
         |SELECT doc_id, n_tokens, logprob_mean,
         | CASE WHEN neg <= hi_neg THEN 'head'
         |      WHEN neg <= lo_neg THEN 'middle'
         |      ELSE 'tail' END AS ppl_bucket
         |FROM m CROSS JOIN hi CROSS JOIN lo ORDER BY doc_id""".stripMargin,

    // q172's sketch twin: the identical centroid-distance chain, then
    // micro-scaled distances through the q384 grouped-histogram MAD
    "q387_embedding_fences_sketch" ->
      s"""WITH ev AS (
         | SELECT label AS g, vec_id AS id,
         |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         |  unnest(embedding) AS x
         | FROM embeddings WHERE embedding IS NOT NULL),
         |cent AS (
         | SELECT g, i,
         |  CAST(sum(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(25,6)))
         |   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
         | FROM ev GROUP BY 1, 2),
         |dist AS (
         | SELECT ev.g, ev.id,
         |  sqrt(CAST(sum(CAST(floor((CAST(x AS DOUBLE) - c) *
         |   (CAST(x AS DOUBLE) - c) * 1e12 + 0.5) / 1e12
         |   AS DECIMAL(30,12))) AS DOUBLE))
         |   AS dist
         | FROM ev JOIN cent ON ev.g = cent.g AND ev.i = cent.i
         | GROUP BY 1, 2),
         |dm AS (SELECT g, CAST(round(dist * 1000000) AS BIGINT) AS v
         | FROM dist),
         |h1 AS (SELECT g, v // 1000 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dm GROUP BY 1, 2),
         |c1 AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h1),
         |r1 AS (SELECT g, (5000 * sum(cnt) + 9999) // 10000 AS r
         |  FROM h1 GROUP BY g),
         |s1 AS (SELECT c1.g, r, min(bin) AS bin
         |  FROM r1 JOIN c1 ON r1.g = c1.g AND cum >= r GROUP BY 1, 2),
         |med AS (SELECT s1.g,
         |  CAST(c1.bin * 1000 + 1000 * (r - cum_before) // cnt AS BIGINT)
         |   AS med_est
         | FROM s1 JOIN c1 ON s1.g = c1.g AND s1.bin = c1.bin),
         |dev AS (SELECT dm.g, v, med_est, abs(v - med_est) AS adev
         | FROM dm JOIN med ON dm.g = med.g),
         |h2 AS (SELECT g, adev // 1000 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dev GROUP BY 1, 2),
         |c2 AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h2),
         |r2 AS (SELECT g, (5000 * sum(cnt) + 9999) // 10000 AS r
         |  FROM h2 GROUP BY g),
         |s2 AS (SELECT c2.g, r, min(bin) AS bin
         |  FROM r2 JOIN c2 ON r2.g = c2.g AND cum >= r GROUP BY 1, 2),
         |mad AS (SELECT s2.g,
         |  CAST(c2.bin * 1000 + 1000 * (r - cum_before) // cnt AS BIGINT)
         |   AS mad_est
         | FROM s2 JOIN c2 ON s2.g = c2.g AND s2.bin = c2.bin)
         |SELECT dev.g AS label, med_est, mad_est,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(count(CASE WHEN adev > 3 * mad_est THEN 1 END) AS BIGINT)
         |  AS n_outliers
         |FROM dev JOIN mad ON dev.g = mad.g
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // maintained grouped histogram: the table fold must equal the
    // ONE-SHOT per-source chain over the whole corpus (q209's proof per
    // group) — the oracle computes the one-shot form directly
    "q388_grouped_hist_table" ->
      s"""WITH ev AS (
         | SELECT source AS g, CAST(${tokenCountSql("text")} AS BIGINT) AS v
         | FROM documents),
         |h AS (SELECT g, v // 16 AS bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ev GROUP BY 1, 2),
         |c AS (SELECT g, bin, cnt,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt AS cum_before
         | FROM h),
         |n AS (SELECT g, sum(cnt) AS n FROM h GROUP BY g),
         |q AS (SELECT unnest([5000, 9000]) AS quantile_bp),
         |rk AS (SELECT g, quantile_bp,
         |  (quantile_bp * n + 9999) // 10000 AS r FROM n CROSS JOIN q),
         |sel AS (SELECT rk.g, quantile_bp, r, min(bin) AS bin
         |  FROM rk JOIN c ON rk.g = c.g AND cum >= r GROUP BY 1, 2, 3)
         |SELECT sel.g AS source, quantile_bp,
         | CAST(c.bin * 16 + 16 * (r - cum_before) // cnt AS BIGINT) AS est
         |FROM sel JOIN c ON sel.g = c.g AND sel.bin = c.bin
         |ORDER BY 1, 2""".stripMargin,
  )

  /** Every oracle, plus aliases where one SQL statement proves two
    * queries: a RELOADED PQ index must search exactly like the
    * in-session one (q112's ivfLoad convention — the persistence layer
    * may not change a single distance). */
  val all: Map[String, String] =
    base + ("q143_pq_reload" -> base("q134_pq_adc"),
      // merged-halves covariance must equal the one-shot form verbatim
      "q158_cov_merge" -> base("q151_embedding_cov"),
      // the persisted moments TABLE (append + replayed append + read-side
      // dedup + merge) must also equal the one-shot form verbatim
      "q208_cov_table" -> base("q151_embedding_cov"),
      // the persisted histogram table (append + replayed append +
      // read-side dedup + bin-wise merge) must equal the one-shot
      // histogram quantiles verbatim
      "q209_hist_table" -> base("q82_hist_quantiles"),
      // persisted CMS counters / HLL registers (append + replayed append
      // + read-side dedup + cell-sum / bucket-max merge) must equal the
      // one-shot sketches verbatim
      "q210_cms_table" -> base("q69_cms_heavy_hitters"),
      "q211_hll_table" -> base("q77_hll_distinct"),
      // the persisted Bloom bit table (append + replayed append +
      // read-side dedup + OR merge) must flag exactly the one-shot
      // probe's rows — false positives and all
      "q212_bloom_table" -> base("q72_bloom_prefilter"),
      // the persisted profile table (mixed SUM-counts/MAX-registers fold
      // behind the shared replay dedup) must equal the one-shot profile
      "q214_profile_table" -> base("q213_column_profile"),
      // the profile table riding the versioned layer (keyed commits
      // absorb the replay at COMMIT level) must also equal the one-shot
      "q217_versioned_profile" -> base("q213_column_profile"),
      // the persisted inverted index (postings + denormalized doc
      // lengths, appended per batch + a replayed batch absorbed by
      // read-side dedup) must rank exactly like the one-shot BM25
      "q228_bm25_index" -> base("q76_bm25"),
      // the incrementally maintained rollup (v1 base + v1->v2 change-
      // feed delta, merged) must equal the full head recompute verbatim
      "q256_incr_agg" -> base("q215_versioned_head"),
      // the PERSISTED rollup table (even/odd delta appends + a replayed
      // batch absorbed by read-side dedup) must also equal the full
      // head recompute verbatim
      "q265_rollup_table" -> base("q215_versioned_head"))

  /** The q60/q67/q167 shared edge CTEs: the deterministic fuzzy-dup
    * graph (contacts -> keyed pairs -> symmetrized edges). */
  private def ccEdgesCtes: String =
    """contacts AS (
      | SELECT c_custkey,
      |  'u' || CAST(c_custkey % 100 AS VARCHAR) || '@x.com' AS email,
      |  'n' || CAST(c_custkey % 20 AS VARCHAR) AS name,
      |  'p' || CAST(c_custkey % 30 AS VARCHAR) AS phone
      | FROM customer WHERE c_custkey <= 1500),
      |pairs AS (
      | SELECT l.c_custkey AS id_a, r.c_custkey AS id_b
      | FROM contacts l, contacts r
      | WHERE l.email = r.email AND l.c_custkey < r.c_custkey
      | UNION
      | SELECT l.c_custkey, r.c_custkey
      | FROM contacts l, contacts r
      | WHERE l.name = r.name AND l.phone = r.phone AND l.c_custkey < r.c_custkey),
      |edges AS (
      | SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION
      | SELECT id_b, id_a FROM pairs)""".stripMargin

  /** The q60/q67 oracle: recursive reachability over the shared edge set —
    * min reachable id == the min-label fixpoint both CC algorithms
    * (plain propagation and pointer-jumping) must produce. */
  private def ccSql: String =
    s"""WITH RECURSIVE $ccEdgesCtes,
       |reach(id, lbl) AS (
       | SELECT src, src FROM edges
       | UNION
       | SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id, min(lbl) AS cluster_id FROM reach
       |GROUP BY id ORDER BY id""".stripMargin

  /** The q167 oracle: PageRank with `maxIter` iterations UNROLLED as
    * chained CTEs (aggregates are illegal in a recursive member, and
    * unrolling replays Graph.pageRank's integer fixed-point arithmetic
    * verbatim: rank DIV outdeg inflow, 150000 + (85·inflow) DIV 100). */
  private def pageRankSql(maxIter: Int): String = {
    val iters = (1 to maxIter).map { i =>
      s"""pr$i AS (
         | SELECT n.id, CAST(150000 + (85 * coalesce(f.s, 0)) // 100 AS BIGINT)
         |  AS rank
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst, CAST(sum(p.rank // o.od) AS BIGINT) AS s
         |  FROM pr${i - 1} p
         |  JOIN outdeg o ON p.id = o.src
         |  JOIN edges e ON e.src = p.id
         |  GROUP BY 1) f ON n.id = f.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ccEdgesCtes,
       |outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
       |           FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT id, rank FROM pr$maxIter ORDER BY id""".stripMargin
  }

  /** The q173 oracle: HITS with `maxIter` rounds unrolled — Graph.hits'
    * integer fixed-point arithmetic verbatim over the DIRECTED pair set
    * (auth inflow of hubs, hub inflow of auths, each half-step rescaled
    * to max = 1e6 by integer division). */
  private def hitsSql(maxIter: Int): String = {
    val iters = (1 to maxIter).map { i =>
      s"""ar$i AS (
         | SELECT n.id, CAST(coalesce(f.s, 0) AS BIGINT) AS s
         | FROM hnodes n LEFT JOIN (
         |  SELECT e.dst AS id, CAST(sum(h.hub) AS BIGINT) AS s
         |  FROM hb${i - 1} h JOIN dedges e ON e.src = h.id
         |  GROUP BY 1) f ON n.id = f.id),
         |au$i AS (
         | SELECT id, CAST((CAST(s AS HUGEINT) * 1000000) // (max(s) OVER ()) AS BIGINT) AS auth
         | FROM ar$i),
         |hr$i AS (
         | SELECT n.id, CAST(coalesce(f.s, 0) AS BIGINT) AS s
         | FROM hnodes n LEFT JOIN (
         |  SELECT e.src AS id, CAST(sum(a.auth) AS BIGINT) AS s
         |  FROM au$i a JOIN dedges e ON e.dst = a.id
         |  GROUP BY 1) f ON n.id = f.id),
         |hb$i AS (
         | SELECT id, CAST((CAST(s AS HUGEINT) * 1000000) // (max(s) OVER ()) AS BIGINT) AS hub
         | FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ccEdgesCtes,
       |dedges AS (SELECT DISTINCT id_a AS src, id_b AS dst FROM pairs),
       |hnodes AS (
       | SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
       |hb0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM hnodes),
       |$iters
       |SELECT n.id AS id, h.hub, a.auth
       |FROM hnodes n
       |JOIN hb$maxIter h ON n.id = h.id
       |JOIN au$maxIter a ON n.id = a.id
       |ORDER BY n.id""".stripMargin
  }
}
