package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{Hashing, Text, Vectors}
import graft.operators.{Ann, Dedup, Multimodal}

/** Training-data pipeline operators on the correctness gate: text analysis,
  * dedup (exact / MinHash LSH / SimHash / n-gram Jaccard / embedding),
  * similarity search, multimodal plumbing, sessionization.
  *
  * Every oracle replays the exact arithmetic in DuckDB (portable md5-based
  * hashing, left-fold double sums), so sketches are verified hash-for-hash
  * and similarities bit-for-bit.
  */
object ExtensionQueries {

  // ---- shared DuckDB SQL fragments (mirror graft.functions exactly) ----
  private val H = "('0x' || substr(md5(%s), 1, 8))::BIGINT"
  private def h(x: String) = H.format(x)
  private val Toks = "string_split(text, ' ')"
  private def shingleSql(t: String) =
    s"CASE WHEN len($t) < 3 THEN [] ELSE " +
      s"list_distinct(list_transform(range(1, len($t)-2+1), i -> " +
      s"array_to_string($t[i:i+2], ' '))) END"
  private def foldSum(listExpr: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (x,y) -> x+y)"
  private def dotSql(a: String, b: String) =
    foldSum(s"list_transform(range(1, len($a)+1), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
  private def normSql(a: String) =
    s"sqrt(${foldSum(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"
  // shared text-kernel SQL replicas (t2's exact arithmetic) — ONE copy,
  // consumed by every oracle that scores quality or predicts language
  // (t2/t3/t10/t41/s25); a formula tweak lands everywhere or nowhere
  private def stopSql: String =
    s"(len(list_filter($Toks, x -> x IN ('the','a','an','of'," +
      s"'and','to','in','is','it','that')))::DOUBLE / len($Toks))"
  private def punctSql: String =
    "((length(text) - length(regexp_replace(text, '[.,!?;:]', " +
      "'', 'g')))::DOUBLE / length(text))"
  private def qualitySqlExpr: String = {
    val len500 = "least(length(text)::DOUBLE / 500.0, 1.0)"
    s"round(least(greatest($len500 * 0.5 + " +
      s"least($stopSql * 4.0, 1.0) * 0.4 - $punctSql * 0.5, 0.0), 1.0), 4)"
  }
  private def langIdSqlExpr: String = {
    def score(words: Seq[String]) =
      s"(len(list_filter($Toks, x -> x IN (" +
        words.map(w => s"'$w'").mkString(",") + s")))::DOUBLE / len($Toks))"
    val scores = Text.LangWords.map { case (l, ws) => l -> score(ws) }.toMap
    val best =
      s"greatest(${Text.LangWords.map(lw => scores(lw._1)).mkString(", ")})"
    val caseChain = Text.LangWords.map { case (l, _) =>
      s"WHEN ${scores(l)} = $best THEN '$l'"
    }.mkString(" ")
    s"CASE WHEN $best <= 0 THEN 'und' $caseChain ELSE 'und' END"
  }

  // ======================= text analysis =======================

  def t1Tokens(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("n_tokens"),
      Text.bpeTokenCount(col("text")).as("n_bpe"),
      length(col("text")).as("n_chars_calc"))
      .orderBy("doc_id")

  val t1Sql: String =
    s"""SELECT doc_id, CAST(len($Toks) AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe,
       |  CAST(length(text) AS INT) AS n_chars_calc
       |FROM documents ORDER BY doc_id""".stripMargin

  def t2Quality(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(
      col("doc_id"),
      round(Text.stopwordRatio(col("text")), 4).as("stop_ratio"),
      round(Text.punctRatio(col("text")), 4).as("punct_ratio"),
      Text.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val t2Sql: String =
    s"""SELECT doc_id, round($stopSql, 4) AS stop_ratio,
       |  round($punctSql, 4) AS punct_ratio,
       |  $qualitySqlExpr AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  def t3LangId(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(
      col("doc_id"),
      Text.langId(col("text")).as("lang_pred"),
      round(Text.langScores(col("text")).getField("en"), 4).as("en_score"))
      .orderBy("doc_id")

  val t3Sql: String = {
    def score(words: Seq[String]) =
      s"(len(list_filter($Toks, x -> x IN (" +
        words.map(w => s"'$w'").mkString(",") + s")))::DOUBLE / len($Toks))"
    s"""SELECT doc_id,
       |  $langIdSqlExpr AS lang_pred,
       |  round(${score(Text.LangWords.toMap.apply("en"))}, 4) AS en_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def t4Fingerprint(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(
      col("doc_id"),
      Text.docFingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val t4Sql: String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($Toks, t -> ${h("t")})), (acc, hh) -> (acc * 31 + hh) % 2147483648) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Portable linear-counting distinct-token estimate vs the exact count —
    * the verifiable (and cross-system mergeable) alternative to HLL++ for
    * corpus vocabulary statistics. */
  def t5ApproxDistinct(sp: SparkSession, dir: String): DataFrame = {
    val toks = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("t"))
    val est = graft.operators.Sketches.approxDistinct(toks, col("t"), 4096)
    val exact = toks.agg(countDistinct(col("t")).as("exact_distinct"))
    est.crossJoin(exact)
  }

  val t5Sql: String =
    s"""WITH toks AS (SELECT unnest($Toks) AS t FROM documents),
       |b AS (SELECT count(DISTINCT ${h("t")} % 4096) AS occupied FROM toks)
       |SELECT round(-4096.0 * ln(1.0 - occupied::DOUBLE / 4096), 2) AS est_distinct,
       |  occupied, (SELECT count(DISTINCT t) FROM toks) AS exact_distinct
       |FROM b""".stripMargin

  /** Mergeable HLL distinct tokens per language: per-(lang, source) partial
    * sketches unioned per lang ([[graft.operators.Sketches.hllMergedDistinct]]).
    * The estimate is engine-private (Datasketches), so the gate outputs the
    * EXACT distinct count (hash-verifiable in DuckDB) plus `est_ok` =
    * estimate within 5% of exact — a regression in the sketch path flips
    * the boolean and fails the hash. */
  def t12HllUnion(sp: SparkSession, dir: String): DataFrame = {
    val toks = documents(sp, dir)
      .select(col("lang"), col("source"),
        explode(Text.tokens(col("text"))).as("t"))
    val est = graft.operators.Sketches.hllMergedDistinct(
      toks, col("lang"), col("source"), col("t"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("t")).as("exact_distinct"))
    exact.join(est, col("lang") === col("__g"))
      .select(col("lang"), col("exact_distinct"),
        (abs(col("est_distinct") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).as("est_ok"))
      .orderBy(col("lang"))
  }

  val t12Sql: String =
    s"""WITH toks AS (SELECT lang, unnest($Toks) AS t FROM documents)
       |SELECT lang, count(DISTINCT t) AS exact_distinct, TRUE AS est_ok
       |FROM toks GROUP BY lang ORDER BY lang""".stripMargin

  /** SKETCH-STATE IVM — the NON-mergeable-aggregate leg of the
    * incremental-maintenance story (q27/q55 maintain abelian count/sum,
    * q51/q56 join views; exact count-distinct has no delta algebra, so
    * the maintained state is [[graft.operators.Sketches
    * .portableHllState]] registers): the base slice's per-lang register
    * tables (≤1024 rows per lang — the stored state) are materialized
    * to scratch, the delta batch's registers fold in by register-wise
    * MAX, and the merged state is proven IDENTICAL to the single-pass
    * full-corpus state (n_mismatch = 0 from a register-level full-outer
    * compare — a LOSSLESS-merge proof, not an estimate tolerance; the
    * probed DataSketches union drifts ~1%, which is exactly why the
    * portable register form exists). Every register value is pinned by
    * the oracle's independent SQL replay of the hash, bucket, and
    * leading-zero rank; the integer harmonic numerator Σ 2^(50−rho)
    * (≤1024·2^49, BIGINT-safe) pins them again in aggregate. */
  def q57IvmSketch(sp: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val toks = documents(sp, dir).select(col("lang"), col("doc_id"),
      explode(Text.tokens(col("text"))).as("t"))
    val stateDir = graft.Tables.scratchDir("graft-q57-state")
    Sketches.portableHllState(
      toks.filter(col("doc_id") % 4 =!= 0), col("lang"), col("t"))
      .write.mode("overwrite").parquet(stateDir)
    val baseState = sp.read.parquet(stateDir)
    val deltaState = Sketches.portableHllState(
      toks.filter(col("doc_id") % 4 === 0), col("lang"), col("t"))
    val merged = Sketches.mergeHllStates(Seq(baseState, deltaState))
    val full = Sketches.portableHllState(toks, col("lang"), col("t"))
    val cmp = merged.withColumnRenamed("rho", "rho_m")
      .join(full.withColumnRenamed("rho", "rho_f"),
        Seq("grp", "bucket"), "full_outer")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("rho_m")).cast("long").as("sum_rho"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - rho_m)"))
          .cast("long").as("harm_num"),
        count(when(!(col("rho_m") <=> col("rho_f")), 1)).as("n_mismatch"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("t")).as("exact_distinct"))
    exact.join(cmp, col("lang") === col("grp"))
      .select(col("lang"), col("n_buckets"), col("sum_rho"),
        col("harm_num"), col("n_mismatch"), col("exact_distinct"))
      .orderBy("lang")
  }

  val q57Sql: String =
    s"""WITH toks AS (SELECT lang, unnest($Toks) AS t FROM documents),
       |h AS (SELECT DISTINCT lang,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
       |r AS (SELECT lang, h % 1024 AS bucket,
       |    MAX(51 - length(bin(h // 1024))) AS rho
       |  FROM h GROUP BY 1, 2),
       |e AS (SELECT lang, count(DISTINCT t) AS exact_distinct
       |  FROM toks GROUP BY 1)
       |SELECT r.lang, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(rho) AS BIGINT) AS sum_rho,
       |  CAST(SUM(1::BIGINT << (50 - rho)) AS BIGINT) AS harm_num,
       |  CAST(0 AS BIGINT) AS n_mismatch,
       |  e.exact_distinct
       |FROM r JOIN e ON e.lang = r.lang
       |GROUP BY r.lang, e.exact_distinct ORDER BY r.lang""".stripMargin

  /** BM25 relevance scoring (k1=1.2, b=0.75) for a fixed 3-term query over
    * the documents corpus — the retrieval primitive of a training-data
    * curation stack (dedup-aware sampling, contamination checks).
    *
    * Fully distributed: explode→filter to query-term hits only (the scan
    * prunes everything else), one small groupBy for per-(doc,term) tf, a
    * broadcast-joined 3-row df table and 1-row corpus stats, and a global
    * top-k that Spark executes as TakeOrderedAndProject (per-partition
    * heaps, no global sort). Floating parity with DuckDB: identical IEEE
    * expression trees (rational idf — no transcendentals), conditional
    * per-term sums recombined in fixed order. */
  def t13Bm25(sp: SparkSession, dir: String): DataFrame =
    bm25Scored(sp, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)

  /** Per-doc BM25 score for the fixed 3-term query (the t13 arithmetic,
    * un-truncated) — shared by t13's top-10 gate and t27's lexical
    * ranker. */
  private def bm25Scored(sp: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "stream")
    val docs = documents(sp, dir)
      .select(col("doc_id"), size(Text.tokens(col("text"))).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val hits = documents(sp, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .filter(col("t").isin(terms: _*))
    val tf = hits.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    val idf = ((col("n") - col("df")).cast("double") + 0.5) /
      (col("df").cast("double") + 0.5)
    val tfd = col("tf").cast("double")
    val tfn = (tfd * 2.2) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / avgdl)))
    val contrib = tf
      .join(docs, "doc_id")
      .join(broadcast(dfs.as("dfs")), "t")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("t"), (idf * tfn).as("c"))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, col("c"))).as(s"s$i") }
    contrib.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        ((coalesce(col("s0"), lit(0.0)) + coalesce(col("s1"), lit(0.0))) +
          coalesce(col("s2"), lit(0.0))).as("score"))
  }

  val t13Sql: String =
    s"""WITH docs AS (SELECT doc_id, len($Toks) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM docs),
       |hits AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM hits
       |  WHERE t IN ('join', 'vector', 'stream') GROUP BY doc_id, t),
       |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |contrib AS (SELECT tf.doc_id, tf.t,
       |    ((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |    ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
       |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
       |        (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS c
       |  FROM tf JOIN docs USING (doc_id) JOIN dfs ON tf.t = dfs.t
       |  CROSS JOIN stats),
       |sc AS (SELECT doc_id,
       |    COALESCE(SUM(CASE WHEN t = 'join' THEN c END), 0.0) AS s0,
       |    COALESCE(SUM(CASE WHEN t = 'vector' THEN c END), 0.0) AS s1,
       |    COALESCE(SUM(CASE WHEN t = 'stream' THEN c END), 0.0) AS s2
       |  FROM contrib GROUP BY doc_id)
       |SELECT doc_id, ((s0 + s1) + s2) AS score FROM sc
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Hybrid retrieval ([[graft.operators.Retrieval.rrfFuse]]): the t13
    * BM25 lexical ranker and a dense cosine ranker (query = embedding of
    * vec 7, doc_id ≡ vec_id in the synthetic corpus) each contribute
    * their top-50 list; reciprocal rank fusion (k=60) merges them rank-
    * wise. Each ranker truncates through TakeOrdered (distributed heaps)
    * BEFORE the window stamps ranks, so the global sort only ever sees 50
    * rows; the fusion full-outer join is between result-sized frames. */
  def t27HybridRrf(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 50
    val lexW = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(sp, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(n)
      .select(col("doc_id"), row_number().over(lexW).as("rank"))
    val e = embeddings(sp, dir)
    val qv = e.filter(col("vec_id") === 7).select(col("embedding").as("qvec"))
    val denseW = Window.orderBy(col("sim").desc, col("doc_id"))
    val dense = e.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        (Vectors.dot(col("embedding"), col("qvec")) /
          (Vectors.norm2(col("embedding")) * Vectors.norm2(col("qvec"))))
          .as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(n)
      .select(col("doc_id"), row_number().over(denseW).as("rank"))
    graft.operators.Retrieval
      .rrfFuse(Seq("lex" -> lex, "dense" -> dense), k = 60, topK = 10)
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  val t27Sql: String =
    s"""WITH docs AS (SELECT doc_id, len($Toks) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM docs),
       |hits AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM hits
       |  WHERE t IN ('join', 'vector', 'stream') GROUP BY doc_id, t),
       |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |contrib AS (SELECT tf.doc_id, tf.t,
       |    ((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |    ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
       |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
       |        (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS c
       |  FROM tf JOIN docs USING (doc_id) JOIN dfs ON tf.t = dfs.t
       |  CROSS JOIN stats),
       |sc AS (SELECT doc_id,
       |    COALESCE(SUM(CASE WHEN t = 'join' THEN c END), 0.0) AS s0,
       |    COALESCE(SUM(CASE WHEN t = 'vector' THEN c END), 0.0) AS s1,
       |    COALESCE(SUM(CASE WHEN t = 'stream' THEN c END), 0.0) AS s2
       |  FROM contrib GROUP BY doc_id),
       |lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY ((s0 + s1) + s2) DESC, doc_id) AS INT) AS lex_rank
       |  FROM sc ORDER BY ((s0 + s1) + s2) DESC, doc_id LIMIT 50),
       |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
       |ds AS (SELECT e.vec_id AS doc_id,
       |    ${cosSql("e.embedding", "q.qvec")} AS sim
       |  FROM embeddings e CROSS JOIN q),
       |dense AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY sim DESC, doc_id) AS INT) AS dense_rank
       |  FROM ds ORDER BY sim DESC, doc_id LIMIT 50),
       |fused AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |    l.lex_rank, d.dense_rank,
       |    (COALESCE(CAST(1.0 AS DOUBLE) /
       |        (CAST(60 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE)), 0.0) +
       |     COALESCE(CAST(1.0 AS DOUBLE) /
       |        (CAST(60 AS DOUBLE) + CAST(d.dense_rank AS DOUBLE)), 0.0))
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
       |SELECT doc_id, lex_rank, dense_rank, round(rrf, 6) AS rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** Deterministic weighted sampling
    * ([[graft.operators.Sampling.weightedSample]]): 50 documents drawn
    * with probability proportional to length — the temperature-sampling
    * primitive for corpus mixing — via Efraimidis-Spirakis priorities on
    * hash-derived uniforms, so DuckDB reproduces the draw exactly. The
    * priority itself stays out of the output (ln may differ in the last
    * ulp across libm implementations; selection order is robust to that,
    * bit-printing is not). */
  def t16WeightedSample(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      documents(sp, dir).select(col("doc_id"), col("n_chars")),
      col("n_chars"), col("doc_id"), k = 50)
      .orderBy(col("doc_id"))

  val t16Sql: String =
    s"""WITH w AS (SELECT doc_id, n_chars,
       |    ln((${h("doc_id::VARCHAR || ':s42'")} + 0.5) / 4294967296.0) /
       |      CAST(n_chars AS DOUBLE) AS pri
       |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
       |top AS (SELECT doc_id, n_chars FROM w
       |  ORDER BY pri DESC, doc_id LIMIT 50)
       |SELECT doc_id, n_chars FROM top ORDER BY doc_id""".stripMargin

  /** Count-min heavy hitters: one mergeable CMS over every corpus token
    * ([[graft.functions.CmsAgg]], map-side partials, fixed seed), fetched
    * as config-sized driver state; the exact top-10 tokens are then probed
    * through the codegen'd [[graft.functions.CmsEstimateExpr]] and gated
    * on the CMS invariant est in [exact, exact + eps*N] — never an
    * undercount, bounded overcount. Exact counts hash-match DuckDB; a
    * sketch regression flips est_ok and fails the hash. */
  def t17CmsHeavyHitters(sp: SparkSession, dir: String): DataFrame = {
    val toks = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("t"))
    val skBytes = toks
      .agg(graft.functions.CmsAgg.cmsSketch(1e-4, 0.99, 42)(col("t"))
        .as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val totals = toks.agg(count(lit(1)).as("n_total"))
    toks.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("t"))
      .limit(10)
      .crossJoin(broadcast(totals))
      .select(col("t"), col("exact_cnt"),
        (graft.functions.CmsEstimateExpr.cms_estimate(col("t"), skBytes)
          .between(col("exact_cnt"),
            col("exact_cnt") + ceil(col("n_total") * 1e-4)))
          .as("est_ok"))
      .orderBy(col("exact_cnt").desc, col("t"))
  }

  val t17Sql: String =
    s"""WITH toks AS (SELECT unnest($Toks) AS t FROM documents)
       |SELECT t, count(*) AS exact_cnt, TRUE AS est_ok
       |FROM toks GROUP BY t
       |ORDER BY exact_cnt DESC, t LIMIT 10""".stripMargin

  /** BPE tokenizer TRAINING ([[graft.operators.Bpe.trainMerges]]): learn 8
    * merges from the documents corpus — one corpus-scale word-histogram
    * shuffle, then bounded rounds over the vocab-sized table with a
    * single-row argmax collect per round. The oracle replays the identical
    * training loop as a generated DuckDB CTE chain (same delimiter-framed
    * left-to-right replace, same count-DESC/lex-ASC tie-break), so the
    * learned merge list AND the final encoded corpus token count (trailing
    * `&lt;corpus&gt;` row) hash-match exactly. */
  def t18BpeTrain(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(documents(sp, dir), col("text"), 8)

  val t18Sql: String = graft.operators.Bpe.trainMergesSql(8)

  /** UNIGRAM-LM tokenizer TRAINING ([[graft.operators.Unigram]]) — the
    * EM-based SentencePiece-style alternative beside t18's BPE: seed a
    * candidate vocab from substring statistics (all single chars + top
    * 200 multi-char pieces), then 2 bounded Viterbi-EM rounds (E:
    * max-probability segmentation of every histogram word, dp(j) =
    * dp(j−l)·cnt/T in a fixed left-to-right IEEE tree; M: integer usage
    * counts + 1 Laplace over the fixed vocab spine). Output: top-50
    * pieces by final count plus a trailing `&lt;corpus&gt;` row carrying
    * the total post-training token count. The oracle replays the WHOLE
    * training — seeding, both DP rounds (unrolled 12-stage CTE chain
    * with the same score DESC / len DESC / piece ASC argmax), usage,
    * Laplace — so a hash match certifies identical piece boundaries on
    * every word, not just similar counts. */
  def t51UnigramTrain(sp: SparkSession, dir: String): DataFrame = {
    import graft.operators.Unigram
    val words = Unigram.wordHistogram(documents(sp, dir), col("text"))
      .cache() // vocab-sized, reused by every round
    val vocab = Unigram.seedPieces(words).cache() // config-sized
    val p2 = Unigram.emRound(words, vocab, vocab)
    val seg2 = Unigram.viterbiSeg(words, p2)
    val u2 = Unigram.usageCounts(seg2).cache()
    val p3 = vocab.select(col("piece"), col("len"))
      .join(u2, Seq("piece"), "left")
      .select(col("piece"), col("len"),
        (coalesce(col("cnt"), lit(0L)) + 1L).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("piece"))
    val top = p3.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select(col("rank"), col("piece"), col("len"), col("cnt"))
    val total = u2.agg(sum(col("cnt")).as("cnt"))
      .select(lit(51).as("rank"), lit("<corpus>").as("piece"),
        lit(0).as("len"), col("cnt"))
    top.unionByName(total).orderBy("rank")
  }

  val t51Sql: String =
    s"""${graft.operators.Unigram.oracleCtes(2)}
       |SELECT * FROM (
       |  SELECT CAST(rn AS INT) AS rank, piece, len,
       |    CAST(cnt AS BIGINT) AS cnt
       |  FROM (
       |    SELECT piece, len, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn FROM p3)
       |  WHERE rn <= 50
       |  UNION ALL
       |  SELECT 51, '<corpus>', 0,
       |    CAST((SELECT SUM(cnt) FROM u2) AS BIGINT))
       |ORDER BY rank""".stripMargin

  /** UNIGRAM-LM tokenizer APPLY (t25's composition for t51): one more
    * Viterbi pass under the TRAINED counts segments the whole histogram;
    * the gate emits the 100 most frequent words with their exact piece
    * boundaries (`seg`, '|'-joined — byte-identical across engines) and
    * piece counts, plus a `&lt;corpus&gt;` row with the corpus word and
    * token totals (frequency-weighted). Scale: apply is per-WORD over
    * the vocab-sized histogram; documents join back by word only if a
    * per-doc view is needed — the corpus totals here weight by the
    * histogram's freq instead of rescanning the corpus. */
  def t52UnigramApply(sp: SparkSession, dir: String): DataFrame = {
    import graft.operators.Unigram
    val words = Unigram.wordHistogram(documents(sp, dir), col("text"))
      .cache()
    val vocab = Unigram.seedPieces(words).cache()
    val p2 = Unigram.emRound(words, vocab, vocab)
    val p3 = Unigram.emRound(words, vocab, p2)
    val seg3 = Unigram.viterbiSeg(words, p3)
      .withColumn("n_pieces", size(split(col("seg"), "\\|")).cast("long"))
      .cache()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("word"))
    val top = seg3.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
      .select(col("rank"), col("word"), col("freq"), col("seg"),
        col("n_pieces"))
    val total = seg3.agg(sum(col("freq")).as("freq"),
        sum(col("freq") * col("n_pieces")).as("n_pieces"))
      .select(lit(101).as("rank"), lit("<corpus>").as("word"),
        col("freq"), lit("").as("seg"), col("n_pieces"))
    top.unionByName(total).orderBy("rank")
  }

  val t52Sql: String =
    s"""${graft.operators.Unigram.oracleCtes(3)}
       |SELECT * FROM (
       |  SELECT CAST(rn AS INT) AS rank, word, CAST(freq AS BIGINT) AS freq,
       |    seg,
       |    CAST(length(seg) - length(replace(seg, '|', '')) + 1 AS BIGINT)
       |      AS n_pieces
       |  FROM (SELECT word, freq, seg,
       |      row_number() OVER (ORDER BY freq DESC, word) AS rn FROM seg3)
       |  WHERE rn <= 100
       |  UNION ALL
       |  SELECT 101, '<corpus>',
       |    CAST((SELECT SUM(freq) FROM words) AS BIGINT), '',
       |    CAST((SELECT SUM(freq * (length(seg)
       |      - length(replace(seg, '|', '')) + 1)) FROM seg3) AS BIGINT))
       |ORDER BY rank""".stripMargin

  /** UNIGRAM-LM VOCAB PRUNING (t51 train → t52 apply → t53 prune — the
    * SentencePiece loop's third step): after the 2 EM rounds the vocab
    * is cut to ALL single chars + only the top-10 multi-char pieces by
    * trained count (ties piece ASC), scores renormalize over the pruned
    * total, and the corpus re-segments. The gate emits the words whose
    * boundaries CHANGED (full-vocab seg vs pruned-vocab seg,
    * byte-for-byte, top 50 by frequency) plus a corpus row carrying the
    * changed-word count and the frequency-weighted token totals under
    * both vocabs — pruning must never LOWER the token count of any
    * word, so the totals pin the re-segmentation direction too. The
    * oracle replays training, the pruning rank, the renormalization,
    * and the fourth DP pass. */
  def t53UnigramPrune(sp: SparkSession, dir: String): DataFrame = {
    import graft.operators.Unigram
    val words = Unigram.wordHistogram(documents(sp, dir), col("text"))
      .cache()
    val vocab = Unigram.seedPieces(words).cache()
    val p2 = Unigram.emRound(words, vocab, vocab)
    val p3 = Unigram.emRound(words, vocab, p2).cache()
    val pruned = p3.filter(col("len") === 1).unionByName(
      p3.filter(col("len") >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(10))
    def segN(pieces: org.apache.spark.sql.DataFrame) =
      Unigram.viterbiSeg(words, pieces)
        .withColumn("n", size(split(col("seg"), "\\|")).cast("long"))
    val fullSeg = segN(p3)
    val prunedSeg = segN(pruned)
      .select(col("word"), col("seg").as("seg_pruned"),
        col("n").as("n_pruned"))
    val both = fullSeg.join(prunedSeg, "word").cache()
    val ch = both.filter(col("seg") =!= col("seg_pruned"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("word"))
    val top = ch.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select(col("rank"), col("word"), col("freq"),
        col("seg").as("seg_full"), col("seg_pruned"),
        col("n").as("n_pieces_full"), col("n_pruned").as("n_pieces_pruned"))
    val total = both.agg(
        sum(when(col("seg") =!= col("seg_pruned"), 1L).otherwise(0L))
          .as("freq"),
        sum(col("freq") * col("n")).as("n_pieces_full"),
        sum(col("freq") * col("n_pruned")).as("n_pieces_pruned"))
      .select(lit(51).as("rank"), lit("<corpus>").as("word"), col("freq"),
        lit("").as("seg_full"), lit("").as("seg_pruned"),
        col("n_pieces_full"), col("n_pieces_pruned"))
    top.unionByName(total).orderBy("rank")
  }

  val t53Sql: String = {
    def np(c: String) =
      s"length($c) - length(replace($c, '|', '')) + 1"
    s"""${graft.operators.Unigram.oracleCtes(2)},
       |pm AS MATERIALIZED (
       |  SELECT piece, len, cnt FROM p3 WHERE len = 1
       |  UNION ALL
       |  SELECT piece, len, cnt FROM (
       |    SELECT piece, len, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM p3 WHERE len >= 2) WHERE rn <= 10),
       |tm AS MATERIALIZED (SELECT SUM(cnt) AS t FROM pm),
       |sm AS MATERIALIZED (SELECT p.piece, p.len,
       |    CAST(p.cnt AS DOUBLE) / CAST(t.t AS DOUBLE) AS score
       |  FROM pm p CROSS JOIN tm t),
       |tf AS MATERIALIZED (SELECT SUM(cnt) AS t FROM p3),
       |sf AS MATERIALIZED (SELECT p.piece, p.len,
       |    CAST(p.cnt AS DOUBLE) / CAST(t.t AS DOUBLE) AS score
       |  FROM p3 p CROSS JOIN tf t)
       |${graft.operators.Unigram.dpStagesSql("f", "sf")}
       |${graft.operators.Unigram.dpStagesSql("m", "sm")},
       |bth AS MATERIALIZED (SELECT f.word AS word, f.freq AS freq,
       |    f.seg AS seg_full, m.seg AS seg_pruned
       |  FROM segf f JOIN segm m ON m.word = f.word)
       |SELECT * FROM (
       |  SELECT CAST(rn AS INT) AS rank, word, CAST(freq AS BIGINT) AS freq,
       |    seg_full, seg_pruned,
       |    CAST(${np("seg_full")} AS BIGINT) AS n_pieces_full,
       |    CAST(${np("seg_pruned")} AS BIGINT) AS n_pieces_pruned
       |  FROM (SELECT word, freq, seg_full, seg_pruned,
       |      row_number() OVER (ORDER BY freq DESC, word) AS rn
       |    FROM bth WHERE seg_full <> seg_pruned)
       |  WHERE rn <= 50
       |  UNION ALL
       |  SELECT 51, '<corpus>',
       |    CAST((SELECT count(*) FROM bth WHERE seg_full <> seg_pruned)
       |      AS BIGINT),
       |    '', '',
       |    CAST((SELECT SUM(freq * (${np("seg_full")})) FROM bth)
       |      AS BIGINT),
       |    CAST((SELECT SUM(freq * (${np("seg_pruned")})) FROM bth)
       |      AS BIGINT))
       |ORDER BY rank""".stripMargin
  }

  /** Benchmark decontamination ([[graft.operators.Dedup.contamination]]):
    * every 20th document plays the held-out set; for each, the fraction of
    * its distinct 5-gram shingles that appear anywhere in the remaining
    * (train) corpus. Both sides reduce to distinct 32-bit portable hashes
    * before the single semi-join shuffle; the oracle replays the identical
    * md5-derived hash, so the gate is exact even under collisions. */
  def d14Contamination(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    graft.operators.Dedup.contamination(
      docs.filter(col("doc_id") % 20 === 0),
      docs.filter(col("doc_id") % 20 =!= 0),
      col("text"), col("doc_id"), n = 5)
      .orderBy(col("doc_id"))
  }

  val d14Sql: String =
    s"""WITH sh5 AS (SELECT doc_id,
       |    CASE WHEN len($Toks) < 5 THEN []
       |         ELSE list_distinct(list_transform(range(1, len($Toks) - 3),
       |           i -> array_to_string(($Toks)[i:i+4], ' '))) END AS s
       |  FROM documents),
       |ev AS (SELECT doc_id, unnest(s) AS sh FROM sh5 WHERE doc_id % 20 = 0),
       |evh AS (SELECT doc_id, ${h("sh")} AS hh FROM ev),
       |trh AS (SELECT DISTINCT ${h("sh")} AS hh FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 <> 0)),
       |hits AS (SELECT doc_id, count(*) AS n_hits FROM evh
       |  WHERE hh IN (SELECT hh FROM trh) GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(s) AS INT) AS n_shingles FROM sh5
       |  WHERE doc_id % 20 = 0 AND len(s) > 0)
       |SELECT t.doc_id, n_shingles, COALESCE(n_hits, 0) AS n_hits,
       |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
       |    AS frac
       |FROM tot t LEFT JOIN hits USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Theta-style distinct-INTERSECTION estimate
    * ([[graft.operators.Sketches.bottomKState]] +
    * [[graft.operators.Sketches.thetaIntersect]]): the train∩eval
    * distinct 5-gram-shingle overlap — d14's contamination universe —
    * estimated from two mergeable bottom-k (KMV) sketches instead of
    * the exact distinct semi-join, the sketch HLL (t12) cannot provide
    * (registers union losslessly but cannot intersect). Everything up
    * to the single final float division is portable integers (md5
    * bottom-k is ORDER BY hash LIMIT k in any engine), so the oracle
    * replays the sketch AND the estimate bit-for-bit; the t17-style
    * statistical contract is the gated pass condition: |est − exact| ≤
    * max(0.35·exact, 40) — RSE ≈ 1∕√n_common ≈ 0.22 at the k = 4096
    * sample sizes this corpus yields, measured 0.06/0.06/0.14 across
    * the three SFs. */
  def t58ThetaIntersect(sp: SparkSession, dir: String): DataFrame = {
    val k = 4096
    val docs = documents(sp, dir)
    def sh(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(explode(
        graft.operators.Dedup.shingleSet(col("text"), 5)).as("s"))
    val ev = sh(col("doc_id") % 20 === 0)
    val tr = sh(col("doc_id") % 20 =!= 0)
    val evState = graft.operators.Sketches
      .bottomKState(ev, lit(1L), col("s"), k).select(col("h"))
    val trState = graft.operators.Sketches
      .bottomKState(tr, lit(1L), col("s"), k).select(col("h"))
    val exact = ev.select(Hashing.portableHash32(col("s")).as("h"))
      .distinct()
      .join(tr.select(Hashing.portableHash32(col("s")).as("h"))
        .distinct(), "h")
      .agg(count(lit(1)).as("exact_intersection"))
    graft.operators.Sketches.thetaIntersect(evState, trState, k)
      .crossJoin(exact)
      .select(lit(k).as("k"), col("ka"), col("kb"), col("theta"),
        col("n_common"), col("est_intersection"),
        col("exact_intersection"),
        (abs(col("est_intersection") -
          col("exact_intersection").cast("double")) <=
          greatest(col("exact_intersection").cast("double") * 0.35,
            lit(40.0))).as("within_bounds"))
  }

  val t58Sql: String = {
    val est = "CAST(cm.n_common AS DOUBLE) * 4294967296.0 / " +
      "CAST(th.theta AS DOUBLE)"
    s"""WITH sh5 AS (SELECT doc_id,
       |    CASE WHEN len($Toks) < 5 THEN []
       |         ELSE list_distinct(list_transform(range(1, len($Toks) - 3),
       |           i -> array_to_string(($Toks)[i:i+4], ' '))) END AS s
       |  FROM documents),
       |evh AS MATERIALIZED (SELECT DISTINCT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 = 0)),
       |trh AS MATERIALIZED (SELECT DISTINCT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 <> 0)),
       |ska AS (SELECT h FROM evh ORDER BY h LIMIT 4096),
       |skb AS (SELECT h FROM trh ORDER BY h LIMIT 4096),
       |agga AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka, MAX(h) AS ma
       |  FROM ska),
       |aggb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb, MAX(h) AS mb
       |  FROM skb),
       |th AS (SELECT ka, kb, LEAST(
       |    CASE WHEN ka = 4096 THEN ma ELSE 4294967296 END,
       |    CASE WHEN kb = 4096 THEN mb ELSE 4294967296 END) AS theta
       |  FROM agga CROSS JOIN aggb),
       |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
       |  FROM ska JOIN skb USING (h) CROSS JOIN th
       |  WHERE ska.h < th.theta),
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
       |  FROM evh JOIN trh USING (h))
       |SELECT 4096 AS k, th.ka, th.kb, th.theta, cm.n_common,
       |  $est AS est_intersection,
       |  ex.exact_intersection,
       |  abs($est - CAST(ex.exact_intersection AS DOUBLE))
       |    <= greatest(CAST(ex.exact_intersection AS DOUBLE) * 0.35,
       |      40.0) AS within_bounds
       |FROM th CROSS JOIN cm CROSS JOIN ex""".stripMargin
  }

  /** Full theta set algebra ([[graft.operators.Sketches
    * .thetaSetAlgebra]]) over the same persisted bottom-k sketches as
    * t58: side sizes, union, intersection, difference, Jaccard and the
    * CONTAMINATION-RATE estimate |eval∩train|∕|eval| — the d14 release
    * question answered from two mergeable sketches, no exact distinct
    * semi-join. Everything replays bit-exactly (portable hashes, one
    * final float per estimate; the ratio estimates divide sample
    * counts so θ cancels); the pass contract pins every estimate
    * against its exact counterpart: sizes/union/difference within
    * max(20 %, 30), intersection within the t58 bound, the rate
    * within 0.03 absolute (measured 0.05/0.01/0.02/0.06 and 0.005 at
    * the widest SF). */
  def t59ThetaAlgebra(sp: SparkSession, dir: String): DataFrame = {
    val k = 4096
    val docs = documents(sp, dir)
    def sh(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(explode(
        graft.operators.Dedup.shingleSet(col("text"), 5)).as("s"))
    val ev = sh(col("doc_id") % 20 === 0)
    val tr = sh(col("doc_id") % 20 =!= 0)
    val evState = graft.operators.Sketches
      .bottomKState(ev, lit(1L), col("s"), k).select(col("h"))
    val trState = graft.operators.Sketches
      .bottomKState(tr, lit(1L), col("s"), k).select(col("h"))
    val evH = ev.select(Hashing.portableHash32(col("s")).as("h"))
      .distinct()
    val trH = tr.select(Hashing.portableHash32(col("s")).as("h"))
      .distinct()
    val exact = evH.agg(count(lit(1)).as("exact_a")).crossJoin(
        trH.agg(count(lit(1)).as("exact_b"))).crossJoin(
        evH.join(trH, "h").agg(count(lit(1)).as("exact_intersection")))
      .select(col("exact_a"), col("exact_b"), col("exact_intersection"),
        (col("exact_a") + col("exact_b") - col("exact_intersection"))
          .as("exact_union"),
        (col("exact_intersection").cast("double") /
          col("exact_a").cast("double")).as("exact_rate"))
    def near(e: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column,
        rel: Double, abs0: Double) =
      abs(e - x.cast("double")) <= greatest(x.cast("double") * rel,
        lit(abs0))
    graft.operators.Sketches.thetaSetAlgebra(evState, trState, k)
      .crossJoin(exact)
      .withColumn("k", lit(k))
      .withColumn("within_bounds",
        near(col("est_a"), col("exact_a"), 0.2, 30.0) &&
        near(col("est_b"), col("exact_b"), 0.2, 30.0) &&
        near(col("est_union"), col("exact_union"), 0.2, 30.0) &&
        near(col("est_diff_ab"),
          col("exact_a") - col("exact_intersection"), 0.2, 30.0) &&
        near(col("est_intersection"), col("exact_intersection"),
          0.35, 40.0) &&
        abs(col("contamination_rate") - col("exact_rate")) <= lit(0.03))
  }

  val t59Sql: String = {
    def est(c: String) =
      s"CAST($c AS DOUBLE) * 4294967296.0 / CAST(th.theta AS DOUBLE)"
    def near(e: String, x: String, rel: String, abs0: String) =
      s"abs($e - CAST($x AS DOUBLE)) <= " +
        s"greatest(CAST($x AS DOUBLE) * $rel, $abs0)"
    s"""WITH sh5 AS (SELECT doc_id,
       |    CASE WHEN len($Toks) < 5 THEN []
       |         ELSE list_distinct(list_transform(range(1, len($Toks) - 3),
       |           i -> array_to_string(($Toks)[i:i+4], ' '))) END AS s
       |  FROM documents),
       |evh AS MATERIALIZED (SELECT DISTINCT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 = 0)),
       |trh AS MATERIALIZED (SELECT DISTINCT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 <> 0)),
       |ska AS (SELECT h FROM evh ORDER BY h LIMIT 4096),
       |skb AS (SELECT h FROM trh ORDER BY h LIMIT 4096),
       |agga AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka, MAX(h) AS ma
       |  FROM ska),
       |aggb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb, MAX(h) AS mb
       |  FROM skb),
       |th AS (SELECT ka, kb, LEAST(
       |    CASE WHEN ka = 4096 THEN ma ELSE 4294967296 END,
       |    CASE WHEN kb = 4096 THEN mb ELSE 4294967296 END) AS theta
       |  FROM agga CROSS JOIN aggb),
       |sm AS (SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ska CROSS JOIN th
       |      WHERE ska.h < th.theta) AS n_a_sample,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM skb CROSS JOIN th
       |      WHERE skb.h < th.theta) AS n_b_sample,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ska JOIN skb USING (h)
       |      CROSS JOIN th WHERE ska.h < th.theta) AS n_common),
       |ex AS (SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM evh) AS exact_a,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM trh) AS exact_b,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM evh JOIN trh USING (h))
       |      AS exact_intersection)
       |SELECT th.ka, th.kb, th.theta,
       |  sm.n_a_sample, sm.n_b_sample, sm.n_common,
       |  ${est("sm.n_a_sample")} AS est_a,
       |  ${est("sm.n_b_sample")} AS est_b,
       |  ${est("sm.n_a_sample + sm.n_b_sample - sm.n_common")}
       |    AS est_union,
       |  ${est("sm.n_common")} AS est_intersection,
       |  ${est("sm.n_a_sample - sm.n_common")} AS est_diff_ab,
       |  CASE WHEN sm.n_a_sample + sm.n_b_sample - sm.n_common > 0 THEN
       |    CAST(sm.n_common AS DOUBLE) /
       |    CAST(sm.n_a_sample + sm.n_b_sample - sm.n_common AS DOUBLE)
       |    END AS jaccard_est,
       |  CASE WHEN sm.n_a_sample > 0 THEN
       |    CAST(sm.n_common AS DOUBLE) / CAST(sm.n_a_sample AS DOUBLE)
       |    END AS contamination_rate,
       |  ex.exact_a, ex.exact_b, ex.exact_intersection,
       |  ex.exact_a + ex.exact_b - ex.exact_intersection AS exact_union,
       |  CAST(ex.exact_intersection AS DOUBLE) /
       |    CAST(ex.exact_a AS DOUBLE) AS exact_rate,
       |  4096 AS k,
       |  (${near(est("sm.n_a_sample"), "ex.exact_a", "0.2", "30.0")}
       |   AND ${near(est("sm.n_b_sample"), "ex.exact_b", "0.2", "30.0")}
       |   AND ${near(
            est("sm.n_a_sample + sm.n_b_sample - sm.n_common"),
            "ex.exact_a + ex.exact_b - ex.exact_intersection",
            "0.2", "30.0")}
       |   AND ${near(est("sm.n_a_sample - sm.n_common"),
            "ex.exact_a - ex.exact_intersection", "0.2", "30.0")}
       |   AND ${near(est("sm.n_common"), "ex.exact_intersection",
            "0.35", "40.0")}
       |   AND abs(CAST(sm.n_common AS DOUBLE) /
       |     CAST(sm.n_a_sample AS DOUBLE) -
       |     CAST(ex.exact_intersection AS DOUBLE) /
       |     CAST(ex.exact_a AS DOUBLE)) <= 0.03) AS within_bounds
       |FROM th CROSS JOIN sm CROSS JOIN ex""".stripMargin
  }

  /** WEIGHTED theta (TUPLE sketch) mass overlap
    * ([[graft.operators.Sketches.weightedBottomKState]] +
    * [[graft.operators.Sketches.thetaWeightedOverlap]]) — t58/t59's
    * missing axis: those estimate how many distinct shingles the eval
    * and train corpora SHARE, this estimates how much shingle MASS
    * (occurrence weight — here document frequency, one unit per
    * (doc, shingle) pair) sits on the shared values — the t19/t50
    * budget currency, and the number that actually prices
    * contamination when weights are skewed (a shingle in 2 docs vs
    * 2 million is not the same leak). Same portable bottom-k hashes,
    * each slot now carrying an exact Σweight (the additive tuple-sketch
    * summary), so the oracle replays the state — hash AND weight — as
    * GROUP BY h ORDER BY h LIMIT k and the whole estimate is bit-exact;
    * the statistical contract gates each Horvitz–Thompson mass estimate
    * against its exact counterpart (measured 0.05/0.01/0.03 at the
    * three SFs) and the θ-cancelling mass rates within 0.05 absolute. */
  def t62WeightedTheta(sp: SparkSession, dir: String): DataFrame = {
    val k = 4096
    val docs = documents(sp, dir)
    def sh(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(explode(
        graft.operators.Dedup.shingleSet(col("text"), 5)).as("s"))
    val ev = sh(col("doc_id") % 20 === 0)
    val tr = sh(col("doc_id") % 20 =!= 0)
    val evState = graft.operators.Sketches
      .weightedBottomKState(ev, lit(1L), col("s"), lit(1L), k)
      .select(col("h"), col("w"))
    val trState = graft.operators.Sketches
      .weightedBottomKState(tr, lit(1L), col("s"), lit(1L), k)
      .select(col("h"), col("w"))
    val evH = ev.select(Hashing.portableHash32(col("s")).as("h"))
    val trH = tr.select(Hashing.portableHash32(col("s")).as("h"))
    val exact = evH.agg(count(lit(1)).as("exact_mass_a"))
      .crossJoin(trH.agg(count(lit(1)).as("exact_mass_b")))
      .crossJoin(evH.join(trH.distinct(), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("exact_overlap_mass_a")))
      .crossJoin(trH.join(evH.distinct(), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("exact_overlap_mass_b")))
    def near(e: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column, rel: Double, abs0: Double) =
      abs(e - x.cast("double")) <= greatest(x.cast("double") * rel,
        lit(abs0))
    graft.operators.Sketches.thetaWeightedOverlap(evState, trState, k)
      .crossJoin(exact)
      .withColumn("k", lit(k))
      .withColumn("exact_rate_a",
        col("exact_overlap_mass_a").cast("double") /
          col("exact_mass_a").cast("double"))
      .withColumn("within_bounds",
        near(col("est_mass_a"), col("exact_mass_a"), 0.2, 50.0) &&
        near(col("est_mass_b"), col("exact_mass_b"), 0.2, 50.0) &&
        near(col("est_overlap_mass_a"), col("exact_overlap_mass_a"),
          0.4, 50.0) &&
        near(col("est_overlap_mass_b"), col("exact_overlap_mass_b"),
          0.4, 50.0) &&
        abs(col("mass_rate_a") - col("exact_rate_a")) <= lit(0.05))
  }

  val t62Sql: String = {
    def est(c: String) =
      s"CAST($c AS DOUBLE) * 4294967296.0 / CAST(th.theta AS DOUBLE)"
    def near(e: String, x: String, rel: String, abs0: String) =
      s"abs($e - CAST($x AS DOUBLE)) <= " +
        s"greatest(CAST($x AS DOUBLE) * $rel, $abs0)"
    s"""WITH sh5 AS (SELECT doc_id,
       |    CASE WHEN len($Toks) < 5 THEN []
       |         ELSE list_distinct(list_transform(range(1, len($Toks) - 3),
       |           i -> array_to_string(($Toks)[i:i+4], ' '))) END AS s
       |  FROM documents),
       |eva AS MATERIALIZED (SELECT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 = 0)),
       |tra AS MATERIALIZED (SELECT ${h("sh")} AS h FROM
       |  (SELECT unnest(s) AS sh FROM sh5 WHERE doc_id % 20 <> 0)),
       |evw AS MATERIALIZED (SELECT h, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM eva GROUP BY h),
       |trw AS MATERIALIZED (SELECT h, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM tra GROUP BY h),
       |ska AS (SELECT h, w FROM evw ORDER BY h LIMIT 4096),
       |skb AS (SELECT h, w FROM trw ORDER BY h LIMIT 4096),
       |agga AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka, MAX(h) AS ma
       |  FROM ska),
       |aggb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb, MAX(h) AS mb
       |  FROM skb),
       |th AS (SELECT ka, kb, LEAST(
       |    CASE WHEN ka = 4096 THEN ma ELSE 4294967296 END,
       |    CASE WHEN kb = 4096 THEN mb ELSE 4294967296 END) AS theta
       |  FROM agga CROSS JOIN aggb),
       |sm AS (SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ska CROSS JOIN th
       |      WHERE ska.h < th.theta) AS n_a_sample,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM skb CROSS JOIN th
       |      WHERE skb.h < th.theta) AS n_b_sample,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ska JOIN skb USING (h)
       |      CROSS JOIN th WHERE ska.h < th.theta) AS n_common,
       |    (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM ska
       |      CROSS JOIN th WHERE ska.h < th.theta) AS mass_a_sample,
       |    (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM skb
       |      CROSS JOIN th WHERE skb.h < th.theta) AS mass_b_sample,
       |    (SELECT CAST(COALESCE(SUM(ska.w), 0) AS BIGINT) FROM ska
       |      JOIN skb USING (h) CROSS JOIN th WHERE ska.h < th.theta)
       |      AS mass_common_a,
       |    (SELECT CAST(COALESCE(SUM(skb.w), 0) AS BIGINT) FROM ska
       |      JOIN skb USING (h) CROSS JOIN th WHERE ska.h < th.theta)
       |      AS mass_common_b),
       |ex AS (SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM eva) AS exact_mass_a,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tra) AS exact_mass_b,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM eva
       |      WHERE h IN (SELECT h FROM trw)) AS exact_overlap_mass_a,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tra
       |      WHERE h IN (SELECT h FROM evw)) AS exact_overlap_mass_b)
       |SELECT th.ka, th.kb, th.theta,
       |  sm.n_a_sample, sm.n_b_sample, sm.n_common,
       |  sm.mass_a_sample, sm.mass_b_sample,
       |  sm.mass_common_a, sm.mass_common_b,
       |  ${est("sm.mass_a_sample")} AS est_mass_a,
       |  ${est("sm.mass_b_sample")} AS est_mass_b,
       |  ${est("sm.mass_common_a")} AS est_overlap_mass_a,
       |  ${est("sm.mass_common_b")} AS est_overlap_mass_b,
       |  CASE WHEN sm.mass_a_sample > 0 THEN
       |    CAST(sm.mass_common_a AS DOUBLE) /
       |    CAST(sm.mass_a_sample AS DOUBLE) END AS mass_rate_a,
       |  CASE WHEN sm.mass_b_sample > 0 THEN
       |    CAST(sm.mass_common_b AS DOUBLE) /
       |    CAST(sm.mass_b_sample AS DOUBLE) END AS mass_rate_b,
       |  ex.exact_mass_a, ex.exact_mass_b,
       |  ex.exact_overlap_mass_a, ex.exact_overlap_mass_b,
       |  4096 AS k,
       |  CAST(ex.exact_overlap_mass_a AS DOUBLE) /
       |    CAST(ex.exact_mass_a AS DOUBLE) AS exact_rate_a,
       |  (${near(est("sm.mass_a_sample"), "ex.exact_mass_a",
            "0.2", "50.0")}
       |   AND ${near(est("sm.mass_b_sample"), "ex.exact_mass_b",
            "0.2", "50.0")}
       |   AND ${near(est("sm.mass_common_a"), "ex.exact_overlap_mass_a",
            "0.4", "50.0")}
       |   AND ${near(est("sm.mass_common_b"), "ex.exact_overlap_mass_b",
            "0.4", "50.0")}
       |   AND abs(CASE WHEN sm.mass_a_sample > 0 THEN
       |     CAST(sm.mass_common_a AS DOUBLE) /
       |     CAST(sm.mass_a_sample AS DOUBLE) END -
       |     CAST(ex.exact_overlap_mass_a AS DOUBLE) /
       |     CAST(ex.exact_mass_a AS DOUBLE)) <= 0.05) AS within_bounds
       |FROM th CROSS JOIN sm CROSS JOIN ex""".stripMargin
  }

  /** SKETCH QUANTILES ([[graft.operators.Sketches.valueTupleState]] +
    * [[graft.operators.Sketches.sketchQuantiles]]) — the quantile leg
    * completing the mergeable-sketch family (HLL counts, theta/tuple
    * set algebra, CMS frequencies, MinHash/SimHash similarity): price
    * quartiles + p90 estimated from a k = 4096 value-carrying tuple
    * sketch whose packed key holds the 31-bit sampling hash high and
    * the cents value low, so the UNCHANGED t62 bottom-k machinery
    * yields a uniform distinct-value sample WITH exact multiplicities
    * and the values read straight back out of the key — persistable,
    * mergeable, and bit-replayable (ORDER BY packed key LIMIT k in any
    * engine). Each estimate is the smallest sampled value whose
    * cumulative weight reaches p, decided in pure integer
    * cross-multiplication; the statistical contract checks the EXACT
    * CDF at each estimated value against p (|CDF(est) − p| ≤ 0.05 —
    * a rank-space bound, ~2∕√k; measured ≤ 0.01 at every SF), with
    * the exact CDF computed in ONE corpus pass of four conditional
    * sums over the 4 collected estimates (config-sized — the centroid
    * discipline). */
  def t63SketchQuantiles(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val k = 4096
    val p100s = Seq(25, 50, 75, 90)
    val li = lineitem(sp, dir)
      .select((dec(col("l_extendedprice")) * 100).cast("long")
        .as("cents"))
    val state = graft.operators.Sketches
      .valueTupleState(li, col("cents"), k)
    val est = graft.operators.Sketches.sketchQuantiles(state, k, p100s)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val conds = est.map { case (p, v, _, _) =>
      sum(when(col("cents") <= v, 1L).otherwise(0L)).as(s"c$p")
    } :+ count(lit(1)).as("__n")
    val ex = li.agg(conds.head, conds.tail: _*).collect()(0)
    val n = ex.getLong(est.length)
    val rows = est.zipWithIndex.map { case ((p, v, cw, tw), i) =>
      val cdf = ex.getLong(i).toDouble / n.toDouble
      (p, v, cw, tw, cdf, math.abs(cdf - p / 100.0) <= 0.05)
    }
    rows.toSeq
      .toDF("p100", "est_v", "cum_w", "total_w", "__cdf", "ok")
      .select(col("p100"), col("est_v"), col("cum_w"), col("total_w"),
        round(col("__cdf"), 6).as("exact_cdf"), col("ok"))
      .orderBy("p100")
  }

  val t63Sql: String =
    s"""WITH li AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * 100 AS BIGINT) AS cents FROM lineitem),
       |dom AS (SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM li GROUP BY 1),
       |st AS (SELECT (${h("CAST(v AS VARCHAR)")} % 2147483648)
       |    * 4294967296 + v AS h, v, w
       |  FROM dom ORDER BY h LIMIT 4096),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS mx
       |  FROM st),
       |smp AS (SELECT st.v, st.w FROM st CROSS JOIN agg
       |  WHERE st.h < CASE WHEN agg.n = 4096 THEN agg.mx
       |    ELSE 9223372036854775807 END),
       |cum AS (SELECT v, w, SUM(w) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
       |  FROM smp),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM smp),
       |ps AS (SELECT * FROM (VALUES (25), (50), (75), (90)) p(p100)),
       |est AS (SELECT p.p100, MIN(c.v) AS est_v
       |  FROM ps p, cum c, tot WHERE c.cw * 100 >= p.p100 * tot.t
       |  GROUP BY 1),
       |est2 AS (SELECT e.p100, e.est_v, CAST(c.cw AS BIGINT) AS cum_w,
       |    tot.t AS total_w
       |  FROM est e JOIN cum c ON c.v = e.est_v CROSS JOIN tot),
       |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li),
       |ex AS (SELECT e.p100,
       |    CAST(SUM(CASE WHEN li.cents <= e.est_v THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ec
       |  FROM li CROSS JOIN est2 e GROUP BY 1)
       |SELECT e.p100, e.est_v, e.cum_w, e.total_w,
       |  round(CAST(x.ec AS DOUBLE) / nr.n, 6) AS exact_cdf,
       |  abs(CAST(x.ec AS DOUBLE) / nr.n
       |    - CAST(e.p100 AS DOUBLE) / 100) <= 0.05 AS ok
       |FROM est2 e JOIN ex x ON x.p100 = e.p100 CROSS JOIN nr
       |ORDER BY e.p100""".stripMargin

  /** SLIDING-WINDOW HLL ROLLING ACTIVES — p41's exact rolling 7-day
    * COUNT(DISTINCT) at the scale where even the distinct (day, user)
    * domain is too big to re-shuffle nightly: per-day PORTABLE HLL
    * register states ([[graft.operators.Sketches.portableHllState]],
    * ≤1024 integer rows per day, persisted to parquet — the state a
    * 100 TB pipeline stores once per day) slide by the p41 offset
    * expansion on the STATE rows (day state × 7 target days,
    * register-wise MAX per target day — the semilattice merge, so the
    * merged registers are IDENTICAL to a from-scratch 7-day pass and
    * yesterday's raw events are never touched again). The gate pins
    * the merged registers by integers (n_buckets, sum_rho, the
    * harmonic numerator Σ2^(50−rho)) and carries the standard HLL
    * estimate — raw harmonic with the linear-counting small-range
    * branch, one shared IEEE tree both engines replay (the t5 ln
    * precedent) — against p41's exact actives with a 15 % bound
    * column (`within_15pct`; m = 1024 → se ≈ 3.3 %, the bound is
    * ~4.5σ), hash-pinned TRUE per day by both engines. */
  def t64SlidingHll(sp: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(sp, dir)
      .select(col("ts").cast("date").as("d"),
        col("user_id").cast("string").as("u"))
    val stateDir = graft.Tables.scratchDir("graft-t64-state")
    Sketches.portableHllState(ev, col("d"), col("u"))
      .write.mode("overwrite").parquet(stateDir)
    val state = sp.read.parquet(stateDir)
    val days = ev.select(col("d")).distinct()
    val merged = state
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("grp"),
        col("bucket"), col("rho"))
      .select(date_add(col("grp"), col("k")).as("d"), col("bucket"),
        col("rho"))
      .join(days, Seq("d"), "left_semi")
      .groupBy(col("d"), col("bucket")).agg(max(col("rho")).as("rho"))
    val regs = merged.groupBy(col("d"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("rho")).cast("long").as("sum_rho"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - rho)"))
          .cast("long").as("harm_num"))
    val exact = ev.distinct()
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("d"),
        col("u"))
      .select(date_add(col("d"), col("k")).as("d"), col("u"))
      .join(days, Seq("d"), "left_semi")
      .groupBy(col("d")).agg(countDistinct(col("u")).as("exact_7d"))
    val est = regs
      .withColumn("__e", lit(1024L) - col("n_buckets"))
      .withColumn("__raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)) *
          lit(1048576.0) * lit(1125899906842624.0) /
          (col("harm_num") + col("__e") * lit(1125899906842624L))
            .cast("double"))
      .withColumn("est_7d",
        when(col("__raw") <= 2560.0 && col("__e") > 0,
          round(lit(1024.0) * log(lit(1024.0) / col("__e")
            .cast("double")), 2))
          .otherwise(round(col("__raw"), 2)))
    est.join(exact, Seq("d"))
      .select(col("d"), col("n_buckets"), col("sum_rho"),
        col("harm_num"), col("est_7d"), col("exact_7d"),
        (abs(col("est_7d") - col("exact_7d").cast("double")) <=
          lit(0.15) * col("exact_7d").cast("double"))
          .as("within_15pct"))
      .orderBy("d")
  }

  val t64Sql: String =
    """WITH ev AS (SELECT DISTINCT
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS d,
      |    CAST(user_id AS VARCHAR) AS u FROM events),
      |days AS (SELECT DISTINCT d FROM ev),
      |h AS (SELECT DISTINCT d,
      |    ('0x' || substr(md5(u), 1, 15))::BIGINT AS h FROM ev),
      |r AS (SELECT d, h % 1024 AS bucket,
      |    MAX(51 - length(bin(h // 1024))) AS rho
      |  FROM h GROUP BY 1, 2),
      |exp AS (SELECT r.d + CAST(k.k AS INT) AS d, bucket, rho
      |  FROM r, range(0, 7) k(k)),
      |mr AS (SELECT d, bucket, MAX(rho) AS rho FROM exp
      |  WHERE d IN (SELECT d FROM days) GROUP BY 1, 2),
      |regs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(rho) AS BIGINT) AS sum_rho,
      |    CAST(SUM(1::BIGINT << (50 - rho)) AS BIGINT) AS harm_num
      |  FROM mr GROUP BY 1),
      |ue AS (SELECT ev.d + CAST(k.k AS INT) AS d, ev.u
      |  FROM ev, range(0, 7) k(k)),
      |ex7 AS (SELECT d, CAST(COUNT(DISTINCT u) AS BIGINT) AS exact_7d
      |  FROM ue WHERE d IN (SELECT d FROM days) GROUP BY 1),
      |es AS (SELECT d, n_buckets, sum_rho, harm_num,
      |    1024 - n_buckets AS empty,
      |    0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0
      |      * 1125899906842624.0
      |      / CAST(harm_num + (1024 - n_buckets) * 1125899906842624
      |        AS DOUBLE) AS raw
      |  FROM regs),
      |fin AS (SELECT d, n_buckets, sum_rho, harm_num,
      |    CASE WHEN raw <= 2560.0 AND empty > 0
      |      THEN round(1024.0 * ln(1024.0 / CAST(empty AS DOUBLE)), 2)
      |      ELSE round(raw, 2) END AS est_7d
      |  FROM es)
      |SELECT fin.d, fin.n_buckets, fin.sum_rho, fin.harm_num,
      |  fin.est_7d, ex7.exact_7d,
      |  (abs(fin.est_7d - CAST(ex7.exact_7d AS DOUBLE))
      |    <= 0.15 * CAST(ex7.exact_7d AS DOUBLE)) AS within_15pct
      |FROM fin JOIN ex7 USING (d) ORDER BY fin.d""".stripMargin

  /** Multinomial Naive Bayes source classifier
    * ([[graft.operators.NaiveBayes]]) — the fastText-shaped linear text
    * classifier of every curation stack, trained on the md5-parity
    * TRAIN half (the t43 contamination-free split) with `source` as the
    * label and applied to the EVAL half. Every score is an exact Q16
    * integer: the fixed-point log2 square-and-extract recurrence runs
    * over the distinct count domain and the oracle REPLAYS it as a
    * 16-step recursive CTE in HUGEINT, then reassembles the Laplace
    * scores, the tie ordering and the argmax — so the gate hash-pins
    * the entire trained model, not just the predictions. (The synthetic
    * corpus carries little real source signal — accuracy is reported
    * per doc honestly via the `correct` column; the model SEMANTICS are
    * pinned by the hand fixture in NaiveBayesSpec.) */
  def t60NaiveBayes(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
      .withColumn("__train",
        Hashing.portableHash32(col("doc_id").cast("string")) % 2 === 0)
    val model = graft.operators.NaiveBayes.train(
      docs.filter(col("__train")), "source", "text", "graft-t60",
      stageModel = false) // one consumer — see train's scaladoc
    val evalD = docs.filter(!col("__train"))
    graft.operators.NaiveBayes.classify(evalD, "doc_id", "text", model)
      .join(evalD.select(col("doc_id").as("id"),
        col("source").as("actual")), Seq("id"))
      .select(col("id").as("doc_id"), col("actual"), col("pred"),
        (col("pred") === col("actual")).as("correct"), col("score"))
      .orderBy("doc_id")
  }

  /** Shared NB oracle template (r15 advisor: s42Sql was a literal
    * string .replace on t60Sql's tail — silent no-op under any
    * whitespace drift). Both gates now build from this one function,
    * parameterized on the extra projected columns, so drift is
    * impossible by construction. */
  private def nbOracleSql(extraCols: String): String =
    s"""WITH RECURSIVE
       |tr AS (SELECT * FROM documents
       |  WHERE ${h("CAST(doc_id AS VARCHAR)")} % 2 = 0),
       |ev AS (SELECT * FROM documents
       |  WHERE NOT (${h("CAST(doc_id AS VARCHAR)")} % 2 = 0)),
       |cnt AS (SELECT cls, tok, CAST(count(*) AS BIGINT) AS n FROM
       |  (SELECT source AS cls, unnest($Toks) AS tok FROM tr)
       |  GROUP BY 1, 2),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cnt),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM tr),
       |pri AS (SELECT source AS cls, CAST(count(*) AS BIGINT) AS dc
       |  FROM tr GROUP BY 1),
       |tot AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS nc FROM cnt
       |  GROUP BY 1),
       |need AS (SELECT DISTINCT x FROM (
       |  SELECT n + 1 AS x FROM cnt
       |  UNION SELECT nc + (SELECT v FROM vv) FROM tot
       |  UNION SELECT dc FROM pri
       |  UNION SELECT d FROM dd
       |  UNION SELECT v FROM vv) WHERE x >= 1),
       |lg(x, m, i, frac) AS (
       |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
       |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
       |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
       |    0, CAST(0 AS BIGINT)
       |  FROM need
       |  UNION ALL
       |  SELECT x,
       |    CAST(CASE WHEN m::HUGEINT * m >=
       |        9223372036854775807::HUGEINT + 1
       |      THEN (m::HUGEINT * m) // 4294967296
       |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
       |    i + 1,
       |    frac * 2 + CASE WHEN m::HUGEINT * m >=
       |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
       |  FROM lg WHERE i < 16),
       |ltab AS (SELECT x,
       |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
       |  FROM lg WHERE i = 16),
       |cond AS (SELECT c.cls, c.tok, lt.l AS lcond
       |  FROM cnt c JOIN ltab lt ON lt.x = c.n + 1),
       |clst AS (SELECT p.cls,
       |    lp.l - (SELECT l FROM ltab WHERE x = (SELECT d FROM dd))
       |      AS lprior,
       |    lnn.l AS ldenom
       |  FROM pri p LEFT JOIN tot t USING (cls)
       |  JOIN ltab lnn ON lnn.x = COALESCE(t.nc, 0) + (SELECT v FROM vv)
       |  JOIN ltab lp ON lp.x = p.dc),
       |etok AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS m FROM
       |  (SELECT doc_id, unnest($Toks) AS tok FROM ev) GROUP BY 1, 2),
       |sc AS (SELECT e.doc_id, cl.cls,
       |    CAST(SUM(e.m * (COALESCE(cd.lcond, 0) - cl.ldenom))
       |      + MAX(cl.lprior) AS BIGINT) AS score
       |  FROM etok e CROSS JOIN clst cl
       |  LEFT JOIN cond cd ON cd.cls = cl.cls AND cd.tok = e.tok
       |  GROUP BY 1, 2),
       |best AS (SELECT doc_id, cls AS pred, score FROM (
       |  SELECT doc_id, cls, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, cls) AS rn FROM sc)
       |  WHERE rn = 1)
       |SELECT b.doc_id, d.source AS actual, b.pred,
       |  b.pred = d.source AS correct, b.score$extraCols
       |FROM best b JOIN ev d USING (doc_id) ORDER BY doc_id""".stripMargin

  val t60Sql: String = nbOracleSql("")

  /** ZIPF RANK-FREQUENCY FIT — the corpus-health power-law check
    * (natural language has log-log slope ≈ −1; templated/generated
    * text flattens or cliffs, so the slope is a cheap synthetic-text
    * tripwire beside p36's Benford screen for numbers): token
    * frequencies → (rank, freq) for the top 256 vocabulary entries
    * (rank by freq desc, token asc — a VOCAB-domain window), both axes
    * through the t60 Q16 log2 kernel (third reuse — exact integers, no
    * IEEE ln), then the OLS slope from normal-equation moment sums:
    * slope = (n·Σxy − Σx·Σy) ∕ (n·Σx² − (Σx)²), numerator and
    * denominator exact BIGINTs (|x| ≤ 8·2¹⁶, 256 terms — nowhere near
    * overflow), one final float. The corpus reads n = 31 (the whole
    * synthetic vocabulary is 31 words) with slope ≈ −0.16:
    * near-uniform token use, NOT Zipfian — reported, not hidden (the
    * tripwire fires, like p36). One tokenize pass → vocab counts;
    * everything after is ≤ 256-row arithmetic. */
  def t61Zipf(sp: SparkSession, dir: String): DataFrame = {
    // top-256 via orderBy().limit() = TakeOrderedAndProject (a
    // distributed k-capped top-k), NEVER a global rank window over the
    // vocabulary (the z3 pattern — web-scale vocab is ~10⁸ rows);
    // ranks attach driver-side to the 256 collected rows (config-sized,
    // the centroid discipline)
    val freq = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val topRows = freq.orderBy(col("f").desc, col("tok")).limit(256)
      .collect()
    import sp.implicits._
    val top = topRows.zipWithIndex
      .map { case (row, i) => (row.getLong(1), (i + 1).toLong) }
      .toSeq.toDF("f", "r")
    val need = top.select(col("r").as("x"))
      .union(top.select(col("f").as("x")))
    val ltab = graft.operators.NaiveBayes.logTable(need)
    val pts = top
      .join(ltab.select(col("x").as("r"), col("l").as("lx")), Seq("r"))
      .join(ltab.select(col("x").as("f"), col("l").as("ly")), Seq("f"))
    pts.agg(count(lit(1)).as("n"), sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("lx") * col("ly")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"))
  }

  val t61Sql: String =
    s"""WITH RECURSIVE fr AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest($Toks) AS tok FROM documents) GROUP BY 1),
       |top AS (SELECT f, CAST(r AS BIGINT) AS r FROM (
       |  SELECT f, tok, row_number() OVER (ORDER BY f DESC, tok) AS r
       |  FROM fr) WHERE r <= 256),
       |need AS (SELECT DISTINCT x FROM (
       |  SELECT r AS x FROM top UNION SELECT f FROM top)),
       |lg(x, m, i, frac) AS (
       |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
       |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
       |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
       |    0, CAST(0 AS BIGINT)
       |  FROM need
       |  UNION ALL
       |  SELECT x,
       |    CAST(CASE WHEN m::HUGEINT * m >=
       |        9223372036854775807::HUGEINT + 1
       |      THEN (m::HUGEINT * m) // 4294967296
       |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
       |    i + 1,
       |    frac * 2 + CASE WHEN m::HUGEINT * m >=
       |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
       |  FROM lg WHERE i < 16),
       |ltab AS (SELECT x,
       |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
       |  FROM lg WHERE i = 16),
       |pts AS (SELECT lr.l AS lx, lf.l AS ly FROM top
       |  JOIN ltab lr ON lr.x = top.r
       |  JOIN ltab lf ON lf.x = top.f),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
       |    CAST(SUM(lx * lx) AS BIGINT) AS sxx,
       |    CAST(SUM(lx * ly) AS BIGINT) AS sxy FROM pts)
       |SELECT n, sx, sy, sxx, sxy,
       |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       |  CAST(n * sxy - sx * sy AS DOUBLE) /
       |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope
       |FROM s""".stripMargin

  /** Fuzzy entity matching ([[graft.operators.Fuzzy]]): part-name pairs
    * within Levenshtein 3, found via character-3-gram blocking over the
    * DISTINCT name vocabulary — the candidates-then-confirm discipline of
    * the LSH dedup family applied to edit distance. The gram-bucket cap
    * (12) is EXERCISED live — the corpus's hottest grams ("old", "ld·")
    * hold 16 names and are dropped from blocking, like d7's SimHash cap —
    * and the oracle replays the same capped blocking + confirm in DuckDB
    * (its `levenshtein` is the same unit-cost distance). */
  def d15FuzzyMatch(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Fuzzy
      .fuzzyPairs(part(sp, dir), "p_name", q = 3, maxDist = 3,
        maxGramBucket = 12L)
      .orderBy(col("name1"), col("name2"))

  val d15Sql: String =
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
      |g AS (SELECT DISTINCT name,
      |    unnest(list_transform(range(1, len(name) - 1),
      |      i -> name[i:i+2])) AS gram
      |  FROM names WHERE len(name) >= 3),
      |gc AS (SELECT name, gram FROM g
      |  QUALIFY count(*) OVER (PARTITION BY gram) <= 12),
      |cand AS (SELECT DISTINCT a.name AS name1, b.name AS name2
      |  FROM gc a JOIN gc b ON a.gram = b.gram AND a.name < b.name)
      |SELECT name1, name2, levenshtein(name1, name2) AS dist FROM cand
      |WHERE levenshtein(name1, name2) <= 3
      |ORDER BY name1, name2""".stripMargin

  /** Entity resolution end-to-end: d15's fuzzy matching
    * ([[graft.operators.Fuzzy.fuzzyPairs]]) produces the match-pair edge
    * list, g3's [[graft.operators.Graph.connectedComponents]] closes it
    * transitively (A~B, B~C => one entity even when A,C don't match
    * directly), and one aggregation elects the canonical surface form
    * (lexicographic min) per cluster. Names become graph nodes via the
    * portable 32-bit hash — the same value in the oracle, so even a
    * collision (which would merge two clusters) is deterministic and
    * engine-identical. Output: multi-member clusters only. */
  def d17EntityResolution(sp: SparkSession, dir: String): DataFrame = {
    // materialize the fuzzy-match pairs once: both the edge list and the
    // member-name universe consume them, and the q-gram blocking +
    // Levenshtein confirm is the expensive part of this gate
    val pairs = graft.Tables.stage(graft.operators.Fuzzy
      .fuzzyPairs(part(sp, dir), "p_name", q = 3, maxDist = 3,
        maxGramBucket = 12L), "graft-d17-pairs")
    val edges = pairs.select(
      Hashing.portableHash32(col("name1")).as("src"),
      Hashing.portableHash32(col("name2")).as("dst"))
    val comps = graft.operators.Graph.connectedComponents(edges)
    val names = pairs.select(col("name1").as("name"))
      .union(pairs.select(col("name2"))).distinct()
    names
      .join(comps, Hashing.portableHash32(col("name")) === col("id"))
      .groupBy(col("comp"))
      .agg(min(col("name")).as("canonical"),
        count(lit(1)).cast("int").as("n_members"),
        array_join(sort_array(collect_set(col("name"))), "|").as("members"))
      .select(col("canonical"), col("n_members"), col("members"))
      .orderBy(col("canonical"))
  }

  val d17Sql: String =
    s"""WITH RECURSIVE names0 AS (SELECT DISTINCT p_name AS name FROM part),
      |g AS (SELECT DISTINCT name,
      |    unnest(list_transform(range(1, len(name) - 1),
      |      i -> name[i:i+2])) AS gram
      |  FROM names0 WHERE len(name) >= 3),
      |gc AS (SELECT name, gram FROM g
      |  QUALIFY count(*) OVER (PARTITION BY gram) <= 12),
      |cand AS (SELECT DISTINCT a.name AS name1, b.name AS name2
      |  FROM gc a JOIN gc b ON a.gram = b.gram AND a.name < b.name),
      |pairs AS (SELECT name1, name2 FROM cand
      |  WHERE levenshtein(name1, name2) <= 3),
      |nodes AS (SELECT DISTINCT name FROM (SELECT name1 AS name FROM pairs
      |  UNION ALL SELECT name2 FROM pairs)),
      |e AS (SELECT ${h("name1")} AS u, ${h("name2")} AS v FROM pairs
      |  UNION SELECT ${h("name2")}, ${h("name1")} FROM pairs),
      |reach(id, r) AS (
      |  SELECT ${h("name")}, ${h("name")} FROM nodes
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
      |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
      |SELECT MIN(n.name) AS canonical, CAST(COUNT(*) AS INT) AS n_members,
      |  string_agg(n.name, '|' ORDER BY n.name) AS members
      |FROM nodes n JOIN comp c ON ${h("n.name")} = c.id
      |GROUP BY c.comp ORDER BY canonical""".stripMargin

  /** Exact set-similarity self-join with prefix filtering
    * ([[graft.operators.SetSimJoin.jaccardJoin]]) over 5-gram shingle
    * sets — the deterministic complement to d3's MinHash-LSH candidates:
    * same corpus, same Jaccard semantics, but candidate generation is the
    * LOSSLESS prefix-filter theorem (rare-first global order) instead of
    * banding probability. The oracle replays ordering, prefix, size
    * filter, and intersection in SQL. */
  def d18PrefixJoin(sp: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimJoin.jaccardJoin(
        documents(sp, dir).select(col("doc_id"),
          Dedup.shingleSet(col("text"), 5).as("sh")),
        col("doc_id"), col("sh"), tau = 0.5)
      .orderBy("id_a", "id_b")

  val d18Sql: String = {
    // 5-token shingles (rarer elements than d5's 3-grams: the prefix
    // filter's bucket sizes track element rarity, so a richer shingle
    // space is both the realistic and the fast configuration)
    val sh5 = s"CASE WHEN len($Toks) < 5 THEN [] ELSE " +
      s"list_distinct(list_transform(range(1, len($Toks) - 3), i -> " +
      s"array_to_string($Toks[i:i+4], ' '))) END"
    s"""WITH s AS (SELECT doc_id, $sh5 AS sh FROM documents),
      |el AS (SELECT doc_id, unnest(sh) AS e FROM s WHERE len(sh) > 0),
      |fr AS (SELECT e, COUNT(*) AS df FROM el GROUP BY e),
      |ordered AS (SELECT doc_id, list(e ORDER BY df, e) AS toks,
      |              COUNT(*) AS n
      |            FROM el JOIN fr USING (e) GROUP BY doc_id),
      |pfx AS (SELECT doc_id,
      |          unnest(toks[1 : CAST(n - CAST(ceil(0.5 * n) AS INT) + 1
      |            AS INT)]) AS p
      |        FROM ordered),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM pfx a JOIN pfx b ON a.p = b.p AND a.doc_id < b.doc_id),
      |j AS (SELECT id_a, id_b, oa.n AS na, ob.n AS nb,
      |        len(list_intersect(oa.toks, ob.toks)) AS i
      |      FROM cand JOIN ordered oa ON oa.doc_id = cand.id_a
      |                JOIN ordered ob ON ob.doc_id = cand.id_b
      |      WHERE oa.n >= 0.5 * ob.n AND ob.n >= 0.5 * oa.n)
      |SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jac
      |FROM j WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin
  }

  /** Semantic dedup, SemDeDup-style
    * ([[graft.operators.Dedup.semanticNearDupPairs]]): k-means cells
    * (1 refine iteration from the deterministic seed set) scope the
    * pairwise cosine check; exact confirm within cells only. Contrast
    * with d8, which scopes by sign-bit LSH buckets — same corpus, same
    * threshold, different candidate-restriction geometry. The oracle
    * replays the full centroid refinement + Voronoi assignment in SQL. */
  def d16SemanticDedup(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val init = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val refined = Ann.kmeansRefine(corpus, init, iters = 1)
    Dedup.semanticNearDupPairs(corpus, refined, threshold = 0.2)
      .orderBy("id_a", "id_b")
  }

  val d16Sql: String = {
    val dim = 64
    def assignCte(cent: String, out: String) =
      s"""$out AS (SELECT id, vec, cid FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def meanCte(asg: String, prev: String, out: String) =
      s"""${out}m AS (SELECT cid, list(m ORDER BY pos) AS mvec FROM (
         |  SELECT cid, pos, round(avg(vec[pos]), 4) AS m
         |  FROM $asg, range(1, ${dim + 1}) t(pos) GROUP BY cid, pos)
         |  GROUP BY cid),
         |$out AS (SELECT p.cid, coalesce(m.mvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN ${out}m m ON p.cid = m.cid)""".stripMargin
    s"""WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |${assignCte("c0", "a1")},
       |${meanCte("a1", "c0", "c1")},
       |${assignCte("c1", "cells")}
       |SELECT l.id AS id_a, r.id AS id_b,
       |  round(${cosSql("l.vec", "r.vec")}, 4) AS cos
       |FROM cells l JOIN cells r ON l.cid = r.cid AND l.id < r.id
       |WHERE ${cosSql("l.vec", "r.vec")} >= 0.2
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Vocabulary build + corpus encode: dense sorted token ids from
    * [[graft.operators.Vocab.contiguousIds]] (range-sort + per-partition
    * offsets — no single-partition window), then every token joined to its
    * id. The per-lang sum of encoded ids is sensitive to any gap, shift, or
    * ordering error in the id assignment, and DuckDB replays it exactly
    * with a row_number over the distinct sorted tokens. */
  def t14VocabEncode(sp: SparkSession, dir: String): DataFrame = {
    val toks = documents(sp, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("t"))
    val vocab = graft.operators.Vocab.contiguousIds(toks, col("t"),
      sp.conf.get("spark.sql.shuffle.partitions").toInt)
    graft.operators.Vocab.encode(toks, col("t"), vocab)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("id")).as("sum_ids"))
      .orderBy(col("lang"))
  }

  val t14Sql: String =
    s"""WITH toks AS (SELECT lang, unnest($Toks) AS t FROM documents),
       |v AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS id
       |      FROM (SELECT DISTINCT t FROM toks)),
       |enc AS (SELECT lang, id FROM toks JOIN v USING (t))
       |SELECT lang, count(*) AS n_tokens,
       |  CAST(SUM(id) AS BIGINT) AS sum_ids
       |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  /** Bigram language-model statistics: conditional probability
    * P(w2 | w1) = cnt(w1 w2) / cnt(w1 ·) over the corpus — the n-gram-LM
    * feature underlying perplexity-style quality filters. Bigrams come
    * from the one-pass [[graft.functions.ShingleSetExpr.shingles]] kernel
    * (multiset form, codegen'd — no interpreted lambda per row); counts
    * aggregate with map-side partials and the conditional divides two
    * exact integers, so DuckDB replays it bit-for-bit. */
  def t15BigramLm(sp: SparkSession, dir: String): DataFrame = {
    val bi = documents(sp, dir)
      .select(explode(
        graft.functions.ShingleSetExpr.shingles(col("text"), 2))
        .as("bigram"))
    val counts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val tot = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    counts.join(tot, "w1")
      .select(col("bigram"), col("cnt"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  val t15Sql: String =
    """WITH bi AS (
      |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |         string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents),
      |c AS (SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram),
      |c2 AS (SELECT bigram, cnt, split_part(bigram, ' ', 1) AS w1 FROM c),
      |tot AS (SELECT w1, SUM(cnt) AS tot FROM c2 GROUP BY w1)
      |SELECT bigram, cnt, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      |FROM c2 JOIN tot USING (w1)
      |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin

  /** Model-based quality scoring (CCNet-shape): fit a bigram LM on the
    * corpus (the t15 statistics, untruncated), then score every document
    * against it — documents dominated by bigrams the model considers rare
    * are the "surprising" ones a perplexity filter would cut. Transcendental-
    * free by design so the score is bit-exact across engines: rarity is the
    * integer test `cnt * 40 < tot` (p < 0.025 without a division), the
    * per-doc rare fraction and the min probability are each ONE IEEE
    * division (order-independent aggregates underneath), standing in for
    * log-perplexity's order-dependent float sum.
    *
    * Scale: the model is `distinct bigrams` rows — sublinear in corpus
    * size but NOT broadcastable at 100 TB, so scoring is a plain shuffle
    * join of corpus bigrams against the model on the bigram key, then one
    * per-doc aggregation. Fitting is the t15 pair: two hash aggregations.
    */
  def t20LmScore(sp: SparkSession, dir: String): DataFrame = {
    val bi = documents(sp, dir)
      .select(col("doc_id"), explode(
        graft.functions.ShingleSetExpr.shingles(col("text"), 2))
        .as("bigram"))
    val counts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val tot = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    val model = counts.join(tot, "w1")
      .select(col("bigram"), col("cnt"), col("tot"))
    bi.join(model, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") * 40 < col("tot"), 1L).otherwise(0L))
          .as("n_rare"),
        min(col("cnt").cast("double") / col("tot").cast("double"))
          .as("min_p"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams").cast("double"))
          .as("rare_frac"),
        col("min_p"))
      .orderBy(col("rare_frac").desc, col("doc_id"))
      .limit(25)
  }

  val t20Sql: String =
    """WITH bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |           string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents),
      |c AS (SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram),
      |c2 AS (SELECT bigram, cnt, split_part(bigram, ' ', 1) AS w1 FROM c),
      |tot AS (SELECT w1, SUM(cnt) AS tot FROM c2 GROUP BY w1),
      |model AS (SELECT bigram, cnt, tot FROM c2 JOIN tot USING (w1)),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(SUM(CASE WHEN cnt * 40 < tot THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rare,
      |    MIN(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS min_p
      |  FROM bi JOIN model USING (bigram) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_rare,
      |  CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_frac,
      |  min_p
      |FROM sc ORDER BY rare_frac DESC, doc_id LIMIT 25""".stripMargin

  /** EXACT WEIGHTED QUANTILES — the quantile form q11's percentile()
    * cannot express: the cut v* such that rows with value ≤ v* carry at
    * least q of the TOTAL WEIGHT (here volume-weighted price quartiles
    * + p90 — "half the shipped quantity moved at or below this price",
    * the VWAP-family sizing statistic; same machinery prices a
    * token-weighted quality floor in a corpus-curation budget). The p9
    * discipline end-to-end: the corpus reduces to the (value, Σweight)
    * DOMAIN table in one partial agg; the cumulative scan and the
    * threshold test run on that reduced table only. The quantile test
    * is PURE INTEGER — cum·den ≥ num·total on exact cent sums, so no
    * float boundary can flip a cut and both engines agree bit-for-bit;
    * the quantile list rides as a broadcast 4-row literal. */
  def p19WeightedQuantile(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val li = lineitem(sp, dir).select(
      (dec(col("l_extendedprice")) * 100).cast("long").as("v"),
      (dec(col("l_quantity")) * 100).cast("long").as("w"))
    val cells = li.groupBy(col("v")).agg(sum(col("w")).as("cw"))
    val win = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = cells.withColumn("cum", sum(col("cw")).over(win))
    val tot = li.agg(sum(col("w")).as("tw"))
    val qs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (9L, 10L)).toDF("num", "den")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
      .filter(col("cum") * col("den") >= col("num") * col("tw"))
      .groupBy(col("num"), col("den"), col("tw"))
      .agg(min(col("v")).as("cut_cents"))
      .select(
        concat(col("num").cast("string"), lit("/"),
          col("den").cast("string")).as("q"),
        col("cut_cents"),
        (col("cut_cents").cast("double") / 100.0).as("cutoff"),
        col("tw").as("total_weight"))
      .orderBy(col("cut_cents"), col("q"))
  }

  val p19Sql: String =
    """WITH li AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS v,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
      |  FROM lineitem),
      |cells AS (SELECT v, SUM(w) AS cw FROM li GROUP BY v),
      |cum AS (SELECT v, SUM(cw) OVER (ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM cells),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM li),
      |qs AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (9, 10))
      |  AS t(num, den))
      |SELECT num || '/' || den AS q,
      |  CAST(MIN(v) AS BIGINT) AS cut_cents,
      |  CAST(MIN(v) AS DOUBLE) / 100 AS cutoff,
      |  tw AS total_weight
      |FROM cum, tot, qs WHERE cum * den >= num * tw
      |GROUP BY num, den, tw
      |ORDER BY cut_cents, q""".stripMargin

  /** JOIN-KEY SKEW PROFILE — the diagnosis that decides WHEN q10's
    * salting (or AQE skew-join) is worth its cost, run before any big
    * join ships: per-key frequencies of the join key reduce the corpus
    * to the key domain in one partial agg; everything after (distinct
    * count, total, max frequency, top-5 heavy keys) is domain-sized or
    * result-sized. Heavy keys surface via TakeOrdered (orderBy+limit —
    * a heap per partition, never a global sort); the rank window runs
    * on the 5-ROW result only. share_bp is exact integer basis points
    * (cnt·10000 div total) and skew_x is the one IEEE division: how
    * many times the hottest key exceeds the uniform expectation —
    * skew_x ≈ 1 means salting buys nothing, large skew_x says the
    * hottest partition will straggle by that factor. */
  def p20SkewProfile(sp: SparkSession, dir: String): DataFrame = {
    val keys = lineitem(sp, dir)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
    val stats = keys.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("total"), max(col("cnt")).as("max_cnt"))
    val top = keys.orderBy(col("cnt").desc, col("key")).limit(5)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key"))
    top.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("cnt"),
        col("n_keys"), col("total"), col("max_cnt"),
        expr("cnt * 10000 div total").as("share_bp"),
        (col("max_cnt").cast("double")
          * col("n_keys").cast("double") / col("total").cast("double"))
          .as("skew_x"))
      .orderBy("rank")
  }

  val p20Sql: String =
    """WITH k AS (SELECT l_suppkey AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |st AS (SELECT count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM k),
      |top AS (SELECT key, cnt, row_number() OVER (
      |    ORDER BY cnt DESC, key) AS rank FROM k
      |  QUALIFY rank <= 5)
      |SELECT CAST(rank AS INT) AS rank, key, cnt,
      |  st.n_keys, st.total, st.max_cnt,
      |  cnt * 10000 // st.total AS share_bp,
      |  CAST(st.max_cnt AS DOUBLE) * CAST(st.n_keys AS DOUBLE)
      |    / CAST(st.total AS DOUBLE) AS skew_x
      |FROM top, st ORDER BY rank""".stripMargin

  /** ASSOCIATION MINING ([[graft.operators.Assoc.pairMeasures]]): the
    * market-basket 2-itemset stage over document-token baskets —
    * support / confidence / lift in EXACT integer basis points for
    * every co-occurring pair of the top-20 tokens. Lift is the
    * related-term / tag-correlation / topic-leakage signal popularity-
    * normalized co-occurrence gives and raw counts don't. The candidate
    * set is top-V by frequency (broadcast; per-basket fan-out ≤ V, so
    * the pair join emits ≤ V² rows per document — the frequency-cap
    * discipline), pairs come from one shuffle equi-join on doc_id, and
    * the oracle replays baskets, the top-V election, and every bp
    * measure. */
  def t44AssocMining(sp: SparkSession, dir: String): DataFrame = {
    val b = documents(sp, dir)
      .select(col("doc_id").as("basket"),
        explode(split(col("text"), " ")).as("item"))
      .distinct()
    graft.operators.Assoc.pairMeasures(b, topV = 20)
      .orderBy("item_a", "item_b")
  }

  val t44Sql: String =
    s"""WITH b AS (SELECT DISTINCT doc_id AS basket, t.t AS item
       |  FROM documents, unnest($Toks) AS t(t)),
       |ic AS (SELECT item, count(*) AS c FROM b GROUP BY 1),
       |top AS (SELECT item, c FROM ic ORDER BY c DESC, item LIMIT 20),
       |k AS (SELECT b.basket, b.item, top.c FROM b JOIN top USING (item)),
       |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
       |pr AS (SELECT a.item AS item_a, bb.item AS item_b,
       |    max(a.c) AS c_a, max(bb.c) AS c_b, count(*) AS c_ab
       |  FROM k a JOIN k bb
       |    ON a.basket = bb.basket AND a.item < bb.item
       |  GROUP BY 1, 2)
       |SELECT item_a, item_b, n.n_baskets, c_a, c_b, c_ab,
       |  c_ab * 10000 // n.n_baskets AS support_bp,
       |  c_ab * 10000 // c_a AS conf_ab_bp,
       |  c_ab * 10000 // c_b AS conf_ba_bp,
       |  c_ab * n.n_baskets * 10000 // (c_a * c_b) AS lift_bp
       |FROM pr, n ORDER BY item_a, item_b""".stripMargin

  /** PER-SOURCE QUALITY QUANTILE NORMALIZATION — the cross-source
    * calibration step a mixing pipeline needs before one threshold can
    * govern many sources: the same absolute quality score means
    * different things under different scorers/source styles, so each
    * document's score is replaced by its percentile WITHIN its source
    * (exact cume_dist in integer basis points; ties share a
    * percentile), and "keep the top 60% of every source" becomes one
    * uniform `pct_bp > 4000` predicate. Differs from t10 (which FILTERS
    * at a percent_rank floor) in both output — the normalized score
    * rides per doc for downstream mixing — and scale shape: the rank
    * window here runs on the (source, quality)-DOMAIN table (the
    * p9/p19 value-domain reduction), never a corpus-sized window sort;
    * the corpus is touched only by one partial agg and one equi-join
    * back on (source, quality). */
  def t45QuantileNorm(sp: SparkSession, dir: String): DataFrame = {
    val scored = documents(sp, dir).select(col("doc_id"), col("source"),
      Text.qualityScore(col("text")).as("quality"))
    val dom = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("cnt"))
    // domain table has one row per (source, quality): the default
    // RANGE frame and a ROWS frame coincide — no tie ambiguity
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"))
    val cum = dom.withColumn("n_le", sum(col("cnt")).over(w))
    val sz = scored.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    scored.join(cum.select(col("source"), col("quality"), col("n_le")),
        Seq("source", "quality"))
      .join(sz, Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"), col("n_le"),
        col("n_src"),
        expr("n_le * 10000 div n_src").as("pct_bp"),
        (expr("n_le * 10000 div n_src") > 4000).as("keep"))
      .orderBy("doc_id")
  }

  val t45Sql: String =
    s"""WITH q AS (SELECT doc_id, source, $qualitySqlExpr AS quality
       |  FROM documents),
       |dom AS (SELECT source, quality, count(*) AS cnt
       |  FROM q GROUP BY 1, 2),
       |c AS (SELECT source, quality,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY quality)
       |      AS BIGINT) AS n_le
       |  FROM dom),
       |sz AS (SELECT source, count(*) AS n_src FROM q GROUP BY 1)
       |SELECT q.doc_id, q.source, q.quality, c.n_le, sz.n_src,
       |  c.n_le * 10000 // sz.n_src AS pct_bp,
       |  c.n_le * 10000 // sz.n_src > 4000 AS keep
       |FROM q JOIN c USING (source, quality) JOIN sz USING (source)
       |ORDER BY doc_id""".stripMargin

  /** COHORT RETENTION TRIANGLE — the classic product-analytics readout
    * (and, for a training-data platform, the contributor/source
    * survival view): users are cohorted by their FIRST active week,
    * and cell (cohort_week, age_weeks) counts how many of that cohort
    * were active `age` weeks later. Scale shape: the corpus reduces to
    * distinct (user, week) activity cells in one agg, first-activity is
    * a min per user (partial agg), the cells join the user-domain-sized
    * cohort table on user_id (plain shuffle equi-join), and the result
    * is calendar² sized. Every number is an exact integer — counts and
    * basis-point retention via integer division — so no float boundary
    * exists anywhere; week bucketing is ISO date_trunc('week') in both
    * engines. Age-0 retention is 10000 bp by construction (every user
    * is active in their own first week), a free self-check the hash
    * covers. */
  def p21Retention(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val cells = ev.join(first, "user_id")
      .groupBy(col("cohort_wk"),
        expr("datediff(wk, cohort_wk) div 7").cast("int").as("age_weeks"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = first.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("n_cohort"))
    cells.join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("age_weeks"), col("n_users"),
        col("n_cohort"),
        expr("n_users * 10000 div n_cohort").as("retention_bp"))
      .orderBy("cohort_wk", "age_weeks")
  }

  val p21Sql: String =
    """WITH ev AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
      |cells AS (SELECT f.cohort_wk,
      |    CAST((ev.wk - f.cohort_wk) // 7 AS INT) AS age_weeks,
      |    count(*) AS n_users
      |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort_wk, count(*) AS n_cohort FROM f GROUP BY 1)
      |SELECT cells.cohort_wk, age_weeks, n_users, n_cohort,
      |  n_users * 10000 // n_cohort AS retention_bp
      |FROM cells JOIN sz USING (cohort_wk)
      |ORDER BY cohort_wk, age_weeks""".stripMargin

  /** HELD-OUT model scoring — the contamination-free form of t20: the
    * bigram LM is fitted on the TRAIN half of a portable hash split and
    * scores only the EVAL half, so no document contributes statistics
    * to its own score (t20's corpus-fit score systematically flatters
    * every document's own bigrams — the same leakage train/eval splits
    * exist to prevent). The held-out view adds the signal corpus-fit
    * scoring cannot express: UNSEEN bigrams (absent from the model
    * entirely, a LEFT join miss), reported beside the rare-bigram test;
    * `surprise_frac` = (unseen + rare) / total is the transcendental-
    * free stand-in for held-out perplexity. Split membership is the
    * same md5-derived portable hash as t7 — pushed to the scan as a
    * predicate, replayed verbatim by the oracle; the model is
    * vocabulary-sized and joins the eval side on the bigram key (plain
    * shuffle equi-join, nothing broadcast at 100 TB). */
  /** STUPID-BACKOFF LM SCORING (Brants et al., EMNLP 2007 — the
    * score Google's web-scale MT n-gram models actually shipped,
    * chosen BECAUSE it needs no discounting mass bookkeeping at
    * distributed scale): each held-out bigram (a b) scores
    * c(ab)/c(a·) from the train-half bigram model when present, else
    * backs off to α·c(b)/N with α = 0.4, else 0 (OOV). All scores in
    * FIXED-POINT 10⁶ integer arithmetic — c(ab)·10⁶ div c(a·), and
    * 2·c(b)·10⁶ div (5·N) for the backoff (α = 2/5 exactly) — so
    * per-doc sums hash cross-engine where a float log-prob never
    * would. Same contamination-free hash split as t43: the model fits
    * on the TRAIN half only.
    *
    * Scale shape: both models are vocabulary-sized aggregates; the
    * eval side is two shuffle equi-joins (bigram key, then unigram key
    * for the backoff column) and N rides a broadcast 1-row agg. The
    * per-doc outcome counts (hit / backoff / OOV) are the telemetry a
    * curation screen thresholds. */
  def t55StupidBackoff(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
      .select(col("doc_id"), col("text"),
        (Hashing.portableHash32(col("doc_id").cast("string")) % 2 === 0)
          .as("__train"))
    val bi = docs.select(col("doc_id"), col("__train"),
      explode(graft.functions.ShingleSetExpr.shingles(col("text"), 2))
        .as("bigram"))
    val counts = bi.filter(col("__train"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val tot = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    val model = counts.join(tot, "w1")
      .select(col("bigram"), col("cnt"), col("tot"))
    val uni = docs.filter(col("__train"))
      .select(explode(Text.tokens(col("text"))).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("ucnt"))
    val nTot = uni.agg(sum(col("ucnt")).as("n_tot"))
    bi.filter(!col("__train"))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(model, Seq("bigram"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("score",
        when(col("cnt").isNotNull, expr("cnt * 1000000 div tot"))
          .when(col("ucnt").isNotNull,
            expr("2 * ucnt * 1000000 div (5 * n_tot)"))
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("cnt").isNull && col("ucnt").isNotNull, 1L)
          .otherwise(0L)).as("n_backoff"),
        sum(when(col("cnt").isNull && col("ucnt").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        sum(col("score")).as("score_sum"))
      .orderBy("doc_id")
  }

  val t55Sql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |    ${h("CAST(doc_id AS VARCHAR)")} % 2 = 0 AS train
       |  FROM documents),
       |bi AS (SELECT doc_id, train,
       |    unnest(list_transform(range(1, len(string_split(text, ' '))),
       |      i -> string_split(text, ' ')[i] || ' ' ||
       |           string_split(text, ' ')[i + 1])) AS bigram
       |  FROM d),
       |c AS (SELECT bigram, count(*) AS cnt FROM bi WHERE train
       |  GROUP BY bigram),
       |c2 AS (SELECT bigram, cnt, split_part(bigram, ' ', 1) AS w1
       |  FROM c),
       |tot AS (SELECT w1, SUM(cnt) AS tot FROM c2 GROUP BY w1),
       |model AS (SELECT bigram, cnt, tot FROM c2 JOIN tot USING (w1)),
       |uni AS (SELECT tt.tt AS w2, count(*) AS ucnt
       |  FROM d, unnest(string_split(text, ' ')) tt(tt)
       |  WHERE train GROUP BY 1),
       |nt AS (SELECT SUM(ucnt) AS n_tot FROM uni),
       |sc AS (SELECT b.doc_id,
       |    m.cnt, u.ucnt,
       |    CASE WHEN m.cnt IS NOT NULL THEN m.cnt * 1000000 // m.tot
       |         WHEN u.ucnt IS NOT NULL
       |           THEN 2 * u.ucnt * 1000000 // (5 * nt.n_tot)
       |         ELSE 0 END AS score
       |  FROM bi b
       |  LEFT JOIN model m USING (bigram)
       |  LEFT JOIN uni u ON u.w2 = split_part(b.bigram, ' ', 2)
       |  CROSS JOIN nt
       |  WHERE NOT b.train)
       |SELECT doc_id, count(*) AS n_scored,
       |  CAST(SUM(CASE WHEN cnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(SUM(CASE WHEN cnt IS NULL AND ucnt IS NOT NULL THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_backoff,
       |  CAST(SUM(CASE WHEN cnt IS NULL AND ucnt IS NULL THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(score) AS BIGINT) AS score_sum
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** INTERPOLATED KNESER–NEY BIGRAM SCORING (Kneser & Ney 1995; the
    * smoothing that actually wins LM benchmarks, beside t55's stupid
    * backoff and t56's Good–Turing table): held-out bigram (a b)
    * scores
    *   P(b|a) = max(c(ab)−D, 0)∕c(a·) + λ(a)·P_cont(b),
    *   λ(a) = D·N₁₊(a·)∕c(a·),  P_cont(b) = N₁₊(·b)∕N₁₊(··),
    * with absolute discount D = 3∕4 — the KN insight is P_cont: "how
    * many DISTINCT contexts has b completed" (so 'Francisco', frequent
    * but only ever after 'San', gets a tiny continuation probability
    * where raw frequency would overrate it). ALL terms are fixed-point
    * 10⁶ integers with the D = 3/4 fractions cleared by scaling:
    * first = (4c(ab)−3)·10⁶ div (4c(a·)), λ_fp = 3·N₁₊(a·)·10⁶ div
    * (4c(a·)), second = λ_fp·pcont_fp div 10⁶ — nested truncation is
    * identical in Spark `div` and DuckDB `//`, so per-doc sums hash
    * cross-engine where float log-probs never would. Unseen bigram
    * with a KNOWN context scores the λ·P_cont leg alone (n_backoff);
    * an unknown context scores 0 (n_oov). t43's contamination-free
    * hash split; model tables are vocab-sized, the eval side is three
    * hash equi-joins + one broadcast 1-row total. */
  def t57KneserNey(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
      .select(col("doc_id"), col("text"),
        (Hashing.portableHash32(col("doc_id").cast("string")) % 2 === 0)
          .as("__train"))
    val bi = docs.select(col("doc_id"), col("__train"),
      explode(graft.functions.ShingleSetExpr.shingles(col("text"), 2))
        .as("bigram"))
    val counts = bi.filter(col("__train"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cab"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val ctx = counts.groupBy(col("w1"))
      .agg(sum(col("cab")).as("ca"),
        count(lit(1)).as("n1p_fwd"))
    val cont = counts.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1p_bwd"))
    val nTypes = counts.agg(count(lit(1)).as("n_types"))
    bi.filter(!col("__train"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(counts.select(col("bigram"), col("cab")), Seq("bigram"),
        "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(nTypes))
      .withColumn("pcont_fp", expr(
        "coalesce(n1p_bwd, 0) * 1000000 div n_types"))
      .withColumn("lam_fp",
        expr("3 * n1p_fwd * 1000000 div (4 * ca)"))
      .withColumn("score",
        when(col("ca").isNull, 0L)
          .otherwise(
            coalesce(expr("(4 * cab - 3) * 1000000 div (4 * ca)"),
              lit(0L)) +
            expr("lam_fp * pcont_fp div 1000000")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("cab").isNotNull, 1L).otherwise(0L)).as("n_seen"),
        sum(when(col("cab").isNull && col("ca").isNotNull, 1L)
          .otherwise(0L)).as("n_backoff"),
        sum(when(col("ca").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("score")).as("score_sum"))
      .orderBy("doc_id")
  }

  val t57Sql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |    ${h("CAST(doc_id AS VARCHAR)")} % 2 = 0 AS train
       |  FROM documents),
       |bi AS (SELECT doc_id, train,
       |    unnest(list_transform(range(1, len(string_split(text, ' '))),
       |      i -> string_split(text, ' ')[i] || ' ' ||
       |           string_split(text, ' ')[i + 1])) AS bigram
       |  FROM d),
       |c AS (SELECT bigram, count(*) AS cab,
       |    split_part(bigram, ' ', 1) AS w1,
       |    split_part(bigram, ' ', 2) AS w2
       |  FROM bi WHERE train GROUP BY bigram),
       |ctx AS (SELECT w1, SUM(cab) AS ca, count(*) AS n1p_fwd
       |  FROM c GROUP BY w1),
       |cont AS (SELECT w2, count(*) AS n1p_bwd FROM c GROUP BY w2),
       |nt AS (SELECT count(*) AS n_types FROM c),
       |sc AS (SELECT b.doc_id, m.cab, ctx.ca,
       |    CASE WHEN ctx.ca IS NULL THEN 0
       |      ELSE COALESCE((4 * m.cab - 3) * 1000000 // (4 * ctx.ca), 0)
       |        + (3 * ctx.n1p_fwd * 1000000 // (4 * ctx.ca))
       |          * (COALESCE(cont.n1p_bwd, 0) * 1000000 // nt.n_types)
       |          // 1000000
       |      END AS score
       |  FROM bi b
       |  LEFT JOIN c m USING (bigram)
       |  LEFT JOIN ctx ON ctx.w1 = split_part(b.bigram, ' ', 1)
       |  LEFT JOIN cont ON cont.w2 = split_part(b.bigram, ' ', 2)
       |  CROSS JOIN nt
       |  WHERE NOT b.train)
       |SELECT doc_id, count(*) AS n_scored,
       |  CAST(SUM(CASE WHEN cab IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_seen,
       |  CAST(SUM(CASE WHEN cab IS NULL AND ca IS NOT NULL THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_backoff,
       |  CAST(SUM(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST(SUM(score) AS BIGINT) AS score_sum
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** GOOD–TURING COUNT-OF-COUNTS SMOOTHING (Good 1953 — the frequency
    * re-estimator under Katz backoff and SRILM's discounting): how much
    * probability mass do the UNSEEN words deserve, and what should a
    * word seen r times really count as? Both answers come from the
    * count-of-counts table N_r = #{words seen exactly r times}:
    * smoothed count r* = (r+1)·N_{r+1}∕N_r and unseen mass p₀ = N₁∕N.
    * Computed over TRIGRAM types — the n-gram LM table Katz actually
    * discounts, and the right granularity here: this fixture's 31-word
    * vocabulary has no low-count unigram region at all (min unigram
    * count ≈ 900), while its trigram table has the full Zipf tail
    * (thousands of hapax trigrams at every SF). Everything is
    * fixed-point 10⁶ integers (Spark `div` and DuckDB
    * `//` both truncate toward zero), so the model table hashes
    * cross-engine where float ratios never would; r* is NULL where
    * N_{r+1} = 0 (the estimator is undefined there — Katz falls back
    * to the raw count, documented rather than faked). Report window
    * r ≤ 10, the region Katz actually discounts (above k = 5–10 raw
    * counts are trusted). Scale shape: corpus → trigram-count shuffle
    * (the one big agg), trigram vocab → count-of-counts domain agg
    * (~dozens of rows), then a self-join on r+1 over that tiny domain
    * and two broadcast 1-row aggregates; nothing corpus-sized past the
    * first groupBy. */
  def t56GoodTuring(sp: SparkSession, dir: String): DataFrame = {
    val toks = documents(sp, dir)
      .select(explode(graft.functions.ShingleSetExpr
        .shingles(col("text"), 3)).as("t"))
    val wc = toks.groupBy(col("t")).agg(count(lit(1)).as("r"))
    val coc = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = toks.agg(count(lit(1)).as("n_tokens"))
    val h1 = coc.agg(coalesce(sum(when(col("r") === 1, col("n_r"))),
      lit(0L)).as("n_1"))
    coc.as("a")
      .join(coc.as("b"), col("b.r") === col("a.r") + 1, "left")
      .filter(col("a.r") <= 10)
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(h1))
      .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
        coalesce(col("b.n_r"), lit(0L)).as("n_r1"),
        col("n_tokens"), col("n_1"))
      .select(col("r"), col("n_r"), col("n_r1"),
        expr("CASE WHEN n_r1 > 0 THEN (r + 1) * n_r1 * 1000000 div n_r " +
          "END").as("r_star_fp"),
        expr("n_1 * 1000000 div n_tokens").as("p0_fp"),
        col("n_tokens"))
      .orderBy("r")
  }

  val t56Sql: String =
    s"""WITH toks AS (SELECT
       |    unnest(list_transform(range(1, len($Toks) - 1),
       |      i -> $Toks[i] || ' ' || $Toks[i + 1] || ' ' ||
       |           $Toks[i + 2])) AS t
       |  FROM documents),
       |wc AS (SELECT t, count(*) AS r FROM toks GROUP BY 1),
       |coc AS (SELECT r, count(*) AS n_r FROM wc GROUP BY 1),
       |tot AS (SELECT count(*) AS n_tokens FROM toks),
       |h1 AS (SELECT COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0)
       |  AS n_1 FROM coc)
       |SELECT CAST(a.r AS BIGINT) AS r, CAST(a.n_r AS BIGINT) AS n_r,
       |  CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r1,
       |  CASE WHEN COALESCE(b.n_r, 0) > 0
       |    THEN CAST((a.r + 1) * b.n_r * 1000000 // a.n_r AS BIGINT)
       |    END AS r_star_fp,
       |  CAST(n_1 * 1000000 // n_tokens AS BIGINT) AS p0_fp,
       |  CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM coc a LEFT JOIN coc b ON b.r = a.r + 1, tot, h1
       |WHERE a.r <= 10 ORDER BY r""".stripMargin

  def t43HeldoutScore(sp: SparkSession, dir: String): DataFrame = {
    val bi = documents(sp, dir)
      .select(col("doc_id"),
        (Hashing.portableHash32(col("doc_id").cast("string")) % 2 === 0)
          .as("__train"),
        explode(graft.functions.ShingleSetExpr.shingles(col("text"), 2))
          .as("bigram"))
    val counts = bi.filter(col("__train"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val tot = counts.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    val model = counts.join(tot, "w1")
      .select(col("bigram"), col("cnt"), col("tot"))
    bi.filter(!col("__train"))
      .join(model, Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(when(col("cnt").isNotNull && col("cnt") * 40 < col("tot"), 1L)
          .otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        col("n_rare"),
        (col("n_unseen").cast("double") / col("n_bigrams").cast("double"))
          .as("unseen_frac"),
        ((col("n_unseen") + col("n_rare")).cast("double")
          / col("n_bigrams").cast("double")).as("surprise_frac"))
      .orderBy(col("surprise_frac").desc, col("doc_id"))
      .limit(25)
  }

  val t43Sql: String =
    s"""WITH bi AS (
       |  SELECT doc_id,
       |    ${h("CAST(doc_id AS VARCHAR)")} % 2 = 0 AS train,
       |    unnest(list_transform(range(1, len(string_split(text, ' '))),
       |      i -> string_split(text, ' ')[i] || ' ' ||
       |           string_split(text, ' ')[i + 1])) AS bigram
       |  FROM documents),
       |c AS (SELECT bigram, count(*) AS cnt FROM bi WHERE train
       |  GROUP BY bigram),
       |c2 AS (SELECT bigram, cnt, split_part(bigram, ' ', 1) AS w1 FROM c),
       |tot AS (SELECT w1, SUM(cnt) AS tot FROM c2 GROUP BY w1),
       |model AS (SELECT bigram, cnt, tot FROM c2 JOIN tot USING (w1)),
       |sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
       |    CAST(SUM(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_unseen,
       |    CAST(SUM(CASE WHEN m.cnt IS NOT NULL AND m.cnt * 40 < m.tot
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM bi b LEFT JOIN model m USING (bigram)
       |  WHERE NOT b.train GROUP BY b.doc_id)
       |SELECT doc_id, n_bigrams, n_unseen, n_rare,
       |  CAST(n_unseen AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |    AS unseen_frac,
       |  CAST(n_unseen + n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |    AS surprise_frac
       |FROM sc ORDER BY surprise_frac DESC, doc_id LIMIT 25""".stripMargin

  /** Z-order (Morton) layout key over (l_partkey, l_suppkey) — the
    * clustering primitive for multi-dimensional scan pruning
    * ([[graft.operators.Layout]]): sorting by the interleave keeps files
    * narrow in BOTH dimensions so parquet min/max footers prune scans on
    * either column. The gate verifies the bit interleave itself against a
    * DuckDB shift/mask oracle (codegen'd O(log w) spread vs a per-bit
    * correlated sum). */
  def z1Zorder(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    li.withColumn("z",
        graft.operators.Layout.zvalue(col("l_partkey"), col("l_suppkey")))
      .orderBy(col("z"), col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"))
      .limit(50)
  }

  val z1Sql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey,
      |  CAST((SELECT SUM((((l_partkey >> i) & 1) << (2 * i)) +
      |                   (((l_suppkey >> i) & 1) << (2 * i + 1)))
      |        FROM range(0, 16) t(i)) AS BIGINT) AS z
      |FROM lineitem
      |ORDER BY z, l_orderkey, l_partkey, l_suppkey LIMIT 50""".stripMargin

  /** Hilbert-curve layout key over the same dimensions as z1
    * ([[graft.operators.Layout.hilbertValue]]) — the clustering key
    * table formats offer BESIDE Z-order because consecutive Hilbert
    * indices are always adjacent grid cells (Morton jumps at every
    * power-of-two boundary), tightening per-file bounding boxes for
    * footer-stats pruning. The oracle unrolls the classic 8-round xy2d
    * quadrant-rotation transform as a CTE chain — pure integer CASEs,
    * bit-identical in any engine; HilbertSpec pins the two defining
    * curve properties (bijection on the 256x256 grid, unit-step
    * adjacency) plus the Morton contrast. */
  def z2Hilbert(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    li.withColumn("h", graft.operators.Layout
        .hilbertValue(col("l_partkey"), col("l_suppkey")))
      .orderBy(col("h"), col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"))
      .limit(50)
  }

  val z2Sql: String = {
    def step(s: Int, in: String, out: String): String =
      s"""$out AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |  d + ${s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |       WHEN rx = 0 AND ry = 1 THEN 1
         |       WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END) AS d,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - y
         |       WHEN ry = 0 THEN y ELSE x END AS x,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - x
         |       WHEN ry = 0 THEN x ELSE y END AS y
         |  FROM (SELECT *,
         |      CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM $in))""".stripMargin
    val steps = Seq(128, 64, 32, 16, 8, 4, 2, 1)
    val chain = steps.zipWithIndex.map { case (s, i) =>
      step(s, if (i == 0) "h0" else s"h$i", s"h${i + 1}")
    }.mkString(",\n")
    s"""WITH h0 AS (SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(l_partkey & 255 AS BIGINT) AS x,
       |    CAST(l_suppkey & 255 AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |$chain
       |SELECT l_orderkey, l_partkey, l_suppkey, CAST(d AS BIGINT) AS h
       |FROM h8
       |ORDER BY h, l_orderkey, l_partkey, l_suppkey LIMIT 50""".stripMargin
  }

  /** LAYOUT PRUNING PROFILE — the number that justifies the z-family's
    * existence: model each layout's output files as consecutive 512-row
    * chunks of its sort order, compute every file's (x, y) bounding box
    * on the shared 256×256 grid, and count how many files a central
    * 32×32 box query must read. Unsorted files stripe the whole domain
    * (every file hits); Morton files cover small rectangles; Hilbert's
    * adjacency makes them tighter still — and the gate hash-pins the
    * exact file-hit counts of all three at every SF, so a layout-key
    * regression shows up as a pruning number, not a vibe. The
    * deterministic chunk model is what makes the profile portable (the
    * oracle replays it row for row); a production write cuts files via
    * `hilbertBy`'s range shuffle, whose boundaries are cluster-
    * dependent — same geometry, different cut points. The global
    * row_number window is the same single-sort cost class as the z1/z2
    * ordering gates; the production path stays the range repartition.
    * File grain 512 rows keeps tens-to-thousands of files across the
    * SFs. */
  def z3PruningProfile(sp: SparkSession, dir: String): DataFrame = {
    val base = lineitem(sp, dir).select(col("l_orderkey"),
      col("l_linenumber"),
      col("l_partkey").bitwiseAND(255).as("x"),
      col("l_suppkey").bitwiseAND(255).as("y"))
    // query box = the middle decile of each OBSERVED grid dimension
    // (integer arithmetic, so the oracle replays the bounds exactly):
    // a fixed box would fall outside the populated grid at small SFs
    // where suppkey & 255 spans only 1..10·SF·100
    val box = base.agg(min(col("x")).as("gxlo"), max(col("x")).as("gxhi"),
      min(col("y")).as("gylo"), max(col("y")).as("gyhi"))
      .select(
        expr("gxlo + (gxhi - gxlo) * 45 div 100").as("lx"),
        expr("gxlo + (gxhi - gxlo) * 55 div 100").as("hx"),
        expr("gylo + (gyhi - gylo) * 45 div 100").as("ly"),
        expr("gylo + (gyhi - gylo) * 55 div 100").as("hy"))
    def profile(name: String, keyed: DataFrame): DataFrame = {
      // global file index WITHOUT the unpartitioned-window trap (a
      // row_number() over a global ORDER BY drags every row into ONE
      // partition — the sf1 scale probe showed z3 at 12.8x for 10x
      // data): a range-partitioned distributed sort, then RDD
      // zipWithIndex (per-partition counts + one offset pass) assigns
      // the same contiguous global ordinal fully in parallel
      val sorted = keyed
        .select(col("k"), col("l_orderkey"), col("l_linenumber"),
          col("x"), col("y"))
        .orderBy("k", "l_orderkey", "l_linenumber")
      val sp2 = keyed.sparkSession
      val withF = sp2.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(3), r.get(4), i / 512L)
        },
        org.apache.spark.sql.types.StructType(Seq(
          sorted.schema("x"), sorted.schema("y"),
          org.apache.spark.sql.types.StructField("f",
            org.apache.spark.sql.types.LongType, nullable = false))))
      withF
        .groupBy("f")
        .agg(min(col("x")).as("xmn"), max(col("x")).as("xmx"),
          min(col("y")).as("ymn"), max(col("y")).as("ymx"))
        .crossJoin(broadcast(box))
        .agg(count(lit(1)).as("n_files"),
          count(when(col("xmn") <= col("hx") && col("xmx") >= col("lx") &&
            col("ymn") <= col("hy") && col("ymx") >= col("ly"), 1))
            .as("n_hit"))
        .select(lit(name).as("layout"), col("n_files"), col("n_hit"),
          expr("n_hit * 10000 div n_files").as("hit_bp"))
    }
    val unsorted = base.withColumn("k", lit(0L))
    val morton = base.withColumn("k",
      graft.operators.Layout.zvalue(col("x"), col("y")))
    val hilbert = base.withColumn("k",
      graft.operators.Layout.hilbertValue(col("x"), col("y")))
    profile("hilbert", hilbert)
      .union(profile("unsorted", unsorted))
      .union(profile("zorder", morton))
      .orderBy("layout")
  }

  val z3Sql: String = {
    def step(s: Int, in: String, out: String): String =
      s"""$out AS (SELECT l_orderkey, l_linenumber, x0, y0,
         |  d + ${s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |       WHEN rx = 0 AND ry = 1 THEN 1
         |       WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END) AS d,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - y
         |       WHEN ry = 0 THEN y ELSE x END AS x,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - x
         |       WHEN ry = 0 THEN x ELSE y END AS y
         |  FROM (SELECT *,
         |      CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM $in))""".stripMargin
    val chain = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex
      .map { case (s, i) => step(s, if (i == 0) "h0" else s"h$i", s"h${i + 1}") }
      .mkString(",\n")
    s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
       |    l_partkey & 255 AS x0, l_suppkey & 255 AS y0,
       |    CAST(l_partkey & 255 AS BIGINT) AS x,
       |    CAST(l_suppkey & 255 AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |$chain,
       |keys AS (SELECT l_orderkey, l_linenumber, x0, y0,
       |    CAST(d AS BIGINT) AS hk,
       |    CAST((SELECT SUM((((x0 >> i) & 1) << (2 * i)) +
       |                     (((y0 >> i) & 1) << (2 * i + 1)))
       |          FROM range(0, 16) t(i)) AS BIGINT) AS zk
       |  FROM h8),
       |lay AS (
       |  SELECT 'hilbert' AS layout, hk AS k, l_orderkey, l_linenumber,
       |    x0, y0 FROM keys
       |  UNION ALL SELECT 'unsorted', 0, l_orderkey, l_linenumber,
       |    x0, y0 FROM keys
       |  UNION ALL SELECT 'zorder', zk, l_orderkey, l_linenumber,
       |    x0, y0 FROM keys),
       |files AS (SELECT layout,
       |    (row_number() OVER (PARTITION BY layout
       |      ORDER BY k, l_orderkey, l_linenumber) - 1) // 512 AS f,
       |    x0, y0 FROM lay),
       |bb AS (SELECT layout, f, min(x0) AS xmn, max(x0) AS xmx,
       |    min(y0) AS ymn, max(y0) AS ymx
       |  FROM files GROUP BY layout, f),
       |box AS (SELECT gxlo + (gxhi - gxlo) * 45 // 100 AS lx,
       |    gxlo + (gxhi - gxlo) * 55 // 100 AS hx,
       |    gylo + (gyhi - gylo) * 45 // 100 AS ly,
       |    gylo + (gyhi - gylo) * 55 // 100 AS hy
       |  FROM (SELECT min(x0) AS gxlo, max(x0) AS gxhi,
       |      min(y0) AS gylo, max(y0) AS gyhi FROM keys))
       |SELECT layout, count(*) AS n_files,
       |  count(*) FILTER (xmn <= hx AND xmx >= lx
       |    AND ymn <= hy AND ymx >= ly) AS n_hit,
       |  count(*) FILTER (xmn <= hx AND xmx >= lx
       |    AND ymn <= hy AND ymx >= ly) * 10000 // count(*) AS hit_bp
       |FROM bb, box GROUP BY layout ORDER BY layout""".stripMargin
  }

  /** Text hygiene: PII scrubbing (emails, phone numbers) + Unicode NFC
    * normalization over text with injected PII and a decomposed accent —
    * both verified against DuckDB's identical regexes / nfc_normalize. */
  def t6TextScrub(sp: SparkSession, dir: String): DataFrame = {
    val raw = concat(substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or 555-123-4567 at cafe\u0301"))
    documents(sp, dir).select(
      col("doc_id"),
      Text.scrubPii(raw).as("scrubbed"),
      graft.functions.NfcNormalizeExpr.nfc_normalize(raw).as("nfc"),
      (length(raw) - length(graft.functions.NfcNormalizeExpr
        .nfc_normalize(raw))).as("nfc_delta"))
      .orderBy("doc_id")
  }

  val t6Sql: String = {
    val raw = "substring(text, 1, 40) || ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-123-4567 " +
      "at cafe' || chr(769)" // U+0301, same decomposed form as the query
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace($raw,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS scrubbed,
       |  nfc_normalize($raw) AS nfc,
       |  CAST(length($raw) - length(nfc_normalize($raw)) AS INT) AS nfc_delta
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Deterministic 80/10/10 train/val/test split by portable key hash:
    * per-split doc counts and token totals — assignment is a pure function
    * of the key, so the oracle reproduces every row's split exactly. */
  def t7HashSplit(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(documents(sp, dir),
        col("doc_id").cast("string"), trainPct = 80, valPct = 10)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("split")

  val t7Sql: String =
    s"""SELECT CASE
       |    WHEN ${h("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
       |    WHEN ${h("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
       |    ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(SUM(CAST(len($Toks) AS BIGINT)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** SHARDED sequence-packing layout for pretraining: docs sharded by
    * doc_id % 8, per-shard token offsets and context-window (pack) ids at
    * capacity 512, boundary-straddle flag. Gates the scale form — the
    * per-shard windows run in parallel tasks (no single-partition window in
    * the plan); (shard, pack_id) is the globally unique window key. */
  def t8SeqPack(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packingLayout(
        documents(sp, dir).select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens")),
        col("doc_id") % 8, col("doc_id"), col("n_tokens"), capacity = 512)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_offset"), col("pack_id"), col("spans_boundary"))
      .orderBy("doc_id")

  val t8Sql: String =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
       |    CAST(len($Toks) AS INT) AS n_tokens FROM documents),
       |o AS (SELECT doc_id, shard, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       |  CAST(start_offset // 512 AS BIGINT) AS pack_id,
       |  ((start_offset + n_tokens - 1) // 512) > (start_offset // 512) AS spans_boundary
       |FROM o ORDER BY doc_id""".stripMargin

  /** FIRST-FIT-DECREASING sequence packing ([[graft.operators.Sampling
    * .ffdPacking]]) — t8's concat-then-chunk splits documents across
    * context-window boundaries; production LLM pipelines bin-pack
    * instead (each doc whole, longest-first into the first bin with
    * room) to cut padding waste below ~5% with zero truncation. The
    * distributed shape is a length-bucket shuffle on shard + per-shard
    * greedy pack; the oracle replays the exact greedy with a recursive
    * CTE stepping items in (n_tokens DESC, doc_id) order, so a single
    * divergent placement anywhere in the sequence fails the hash. The
    * ≤5% waste bound is asserted in OperatorSpec ("ffd packing"). */
  def t37FfdPack(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.ffdPacking(
        documents(sp, dir).select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens")),
        col("doc_id") % 8, col("doc_id"), col("n_tokens"), capacity = 256)
      .orderBy("doc_id")

  val t37Sql: String =
    s"""WITH RECURSIVE items AS (
       |  SELECT doc_id, doc_id % 8 AS shard,
       |    CAST(len($Toks) AS BIGINT) AS n_tokens,
       |    row_number() OVER (PARTITION BY doc_id % 8
       |      ORDER BY len($Toks) DESC, doc_id) AS rn
       |  FROM documents),
       |pack AS (
       |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS bin_id,
       |    []::BIGINT[] AS bins
       |  FROM (SELECT DISTINCT shard FROM items)
       |  UNION ALL
       |  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
       |    CAST(COALESCE(s.fit, len(s.bins) + 1) - 1 AS BIGINT) AS bin_id,
       |    CASE WHEN s.fit IS NULL THEN list_append(s.bins, 256 - s.n_tokens)
       |         ELSE list_transform(range(1, len(s.bins) + 1),
       |           j -> CASE WHEN j = s.fit THEN s.bins[j] - s.n_tokens
       |                ELSE s.bins[j] END)
       |    END AS bins
       |  FROM (SELECT i.shard, i.rn, i.doc_id, i.n_tokens, p.bins,
       |      list_aggregate(list_transform(range(1, len(p.bins) + 1),
       |        j -> CASE WHEN p.bins[j] >= i.n_tokens THEN j ELSE NULL END),
       |        'min') AS fit
       |    FROM pack p JOIN items i
       |      ON i.shard = p.shard AND i.rn = p.rn + 1) s)
       |SELECT doc_id, shard, n_tokens, bin_id FROM pack WHERE rn > 0
       |ORDER BY doc_id""".stripMargin

  /** Quality curation — drop each language's bottom decile by the
    * composite quality score (the per-stratum floor a training-mix
    * pipeline applies before sampling). percent_rank gives ties identical
    * ranks, so the cut is deterministic and the oracle replays it. */
  def t10QualityFilter(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedQuantileFilter(
        documents(sp, dir).select(col("doc_id"), col("lang"),
          Text.qualityScore(col("text")).as("quality")),
        col("lang"), col("quality"), minPercentile = 0.10)
      .orderBy("doc_id")

  val t10Sql: String = {
    s"""WITH q AS (SELECT doc_id, lang, $qualitySqlExpr AS quality FROM documents),
       |r AS (SELECT doc_id, lang, quality,
       |    percent_rank() OVER (PARTITION BY lang ORDER BY quality) AS pr
       |  FROM q)
       |SELECT doc_id, lang, quality FROM r WHERE pr >= 0.10
       |ORDER BY doc_id""".stripMargin
  }

  /** Word-3-gram repetition ratio (1 - distinct/total) — the Gopher-style
    * boilerplate detector, plus the filter verdict at the classic 0.2
    * threshold. */
  def t11Repetition(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(col("doc_id"),
        Text.repetitionRatio(col("text"), 3).as("rep_ratio"))
      .withColumn("keep", col("rep_ratio") <= 0.2)
      .orderBy("doc_id")

  val t11Sql: String = {
    // RAW shingle list (duplicates kept) — shingleSql would dedupe
    val raw = s"CASE WHEN len($Toks) < 3 THEN [] ELSE " +
      s"list_transform(range(1, len($Toks)-2+1), i -> " +
      s"array_to_string($Toks[i:i+2], ' ')) END"
    s"""WITH sh AS (SELECT doc_id, $raw AS s FROM documents)
       |SELECT doc_id,
       |  CASE WHEN len(s) = 0 THEN 0.0
       |       ELSE round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 4)
       |       END AS rep_ratio,
       |  (CASE WHEN len(s) = 0 THEN 0.0
       |        ELSE round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 4)
       |        END) <= 0.2 AS keep
       |FROM sh ORDER BY doc_id""".stripMargin
  }

  /** Stratified QUOTA sampling — the training-mix rebalancer: keep at most
    * 30 docs per language, drawn in portable-hash order (deterministic,
    * partition-independent, stable across engines — the oracle replays the
    * identical draw). Exact form: one window per stratum. */
  def t9StratifiedSample(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
        documents(sp, dir).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id").cast("string"), quota = 30)
      .orderBy("doc_id")

  val t9Sql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
       |    -- tiebreak on the STRING key, as the Spark side does ("10"<"9")
       |    ORDER BY ${h("CAST(doc_id AS VARCHAR)")},
       |      CAST(doc_id AS VARCHAR)) AS rn
       |  FROM documents)
       |WHERE rn <= 30 ORDER BY doc_id""".stripMargin

  /** The SCALE form of t9: per-stratum hash-threshold sampling — no
    * per-stratum sort, so strata of any size stream through; approximately
    * the quota, deterministic given the corpus (the oracle recomputes the
    * same cutoff arithmetic, so even the approximation is hash-verified). */
  def t9bStratifiedThreshold(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSampleThreshold(
        documents(sp, dir).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id").cast("string"), quota = 30)
      .orderBy("doc_id")

  val t9bSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN c ON c.lang = d.lang
       |WHERE ${h("CAST(d.doc_id AS VARCHAR)")} <
       |  least(CAST(ceil(30.0 * 4294967296.0 / c.n) AS BIGINT), 4294967296)
       |ORDER BY d.doc_id""".stripMargin

  /** Token-budget data mixing ([[graft.operators.Sampling.tokenBudgetMix]]):
    * cap every source at ~800 tokens via a deterministic per-stratum hash
    * threshold (fraction = min(1, budget/total)); dominant sources get
    * downsampled, scarce ones kept whole. The oracle replays the identical
    * fraction arithmetic and md5 threshold, so even the approximation is
    * hash-verified. */
  def t19TokenBudgetMix(sp: SparkSession, dir: String): DataFrame = {
    val d = documents(sp, dir).select(col("doc_id"), col("source"),
      Text.tokenCount(col("text")).as("n_tok"))
    graft.operators.Sampling.tokenBudgetMix(d, col("source"),
        col("doc_id").cast("string"), col("n_tok"), budget = 800L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens_kept"))
      .orderBy("source")
  }

  val t19Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |             CAST(len($Toks) AS INT) AS n_tok FROM documents),
       |t AS (SELECT source, SUM(n_tok) AS tok FROM d GROUP BY 1)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(SUM(d.n_tok) AS BIGINT) AS tokens_kept
       |FROM d JOIN t ON d.source = t.source
       |WHERE ${h("CAST(d.doc_id AS VARCHAR)")} <
       |  least(CAST(ceil(least(1.0, 800.0 / tok) * 4294967296.0) AS BIGINT), 4294967296)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-domain quota sampling ([[graft.operators.Sampling.domainQuota]]):
    * keep at most 10 docs per source by ascending (portable hash, id) —
    * the "cap any single host" web-pipeline rule. Runs through the bounded
    * [[graft.functions.TopKPairsAgg]] (state capped at k pairs through the
    * whole partial-agg tree), not a window sort; the oracle is the window
    * form, which proves the bounded aggregate selects exactly the
    * row_number()-over-(hash, id) prefix. */
  def t21DomainQuota(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.domainQuota(
        documents(sp, dir), col("source"), col("doc_id"), k = 10)
      .orderBy("domain", "key")

  val t21Sql: String =
    s"""SELECT source AS domain, doc_id AS key, h AS rank
       |FROM (SELECT source, doc_id,
       |        ${h("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
       |QUALIFY row_number() OVER
       |  (PARTITION BY source ORDER BY h, doc_id) <= 10
       |ORDER BY domain, key""".stripMargin

  /** Exact-substring duplicate-span detection (the Lee et al. 2022
    * "Deduplicating Training Data" signal): for every document, how many of
    * its overlapping 8-token grams occur more than once in the corpus.
    * Grams are reduced to 32-bit portable hashes BEFORE the count shuffle
    * — at 100 TB the shuffle carries 4-byte keys, not 8-token strings; the
    * oracle applies the identical md5 hash, so collisions (part of the
    * definition) match bit-for-bit. Plan: one explode (codegen
    * [[graft.functions.Text.wordGrams]]), one hash-agg by gram hash, one
    * equi-join back, one agg by doc. */
  def t22DupSpans(sp: SparkSession, dir: String): DataFrame = {
    // occ feeds BOTH the gram-count aggregation and the join probe side;
    // without materialization the tokenize+explode+md5 (the expensive
    // part) executes twice. Scratch parquet costs one narrow (doc_id,
    // int32) write and two cheap columnar scans — the Graph.materialize
    // pattern; at 100 TB this also decouples the two consumers' stage
    // boundaries for AQE.
    val occ = graft.Tables.stage(documents(sp, dir)
      .select(col("doc_id"), explode(Text.wordGrams(col("text"), 8)).as("__g"))
      .select(col("doc_id"), Hashing.portableHash32(col("__g")).as("__gh")),
      "graft-t22-occ")
    val counts = occ.groupBy("__gh").agg(count(lit(1)).as("__c"))
    occ.join(counts, "__gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        sum(when(col("__c") > 1, 1).otherwise(0)).cast("int").as("n_dup"),
        round(avg(when(col("__c") > 1, 1.0).otherwise(0.0)), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val t22Sql: String =
    s"""WITH toks AS (SELECT doc_id, $Toks AS l FROM documents),
       |occ AS (SELECT doc_id, ${h("gram")} AS gh FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(l) - 6),
       |    i -> array_to_string(l[i:i+7], ' '))) AS gram FROM toks)),
       |counts AS (SELECT gh, COUNT(*) AS c FROM occ GROUP BY gh)
       |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
       |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup,
       |  ROUND(AVG(CASE WHEN c > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_frac
       |FROM occ JOIN counts USING (gh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Exact-substring duplicate-span REMOVAL
    * ([[graft.operators.Chunk.spanDedup]]) — the rewrite form of t22's
    * score, and the form Lee et al. 2022 actually apply to C4/RealNews:
    * every 8-token gram seen earlier in the corpus (first occurrence in
    * (doc_id, pos) order survives — one copy of every duplicated
    * passage remains) marks its token range; ranges merge per document
    * (gaps-and-islands; overlapping-or-adjacent coalesce) and each
    * document is rebuilt from its uncovered tokens. Distinct from d19
    * (fixed segment GRID — can't catch an unaligned duplicated
    * passage) and t22 (measures, rewrites nothing). Oracle replays
    * keeper election (window form), interval merge, and the rebuild
    * as an anti-joined token recount. */
  def t42SpanRemoval(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk
      .spanDedup(documents(sp, dir), col("text"), col("doc_id"), 8)
      .orderBy("doc_id")

  val t42Sql: String =
    s"""WITH toks AS (SELECT doc_id, $Toks AS l FROM documents),
       |occ AS (SELECT doc_id, i - 1 AS pos, ${h("gram")} AS gh FROM (
       |  SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS gram
       |  FROM toks, LATERAL unnest(range(1, len(l) - 6)) AS t(i))),
       |rk AS (SELECT doc_id, pos, row_number() OVER (
       |    PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM occ),
       |dup AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM rk WHERE rn > 1),
       |m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
       |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS pe FROM dup),
       |isl AS (SELECT doc_id, s, e, SUM(CASE WHEN pe IS NULL OR s > pe + 1
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
       |    ROWS UNBOUNDED PRECEDING) AS gid FROM m),
       |sp AS (SELECT doc_id, min(s) AS s0, max(e) AS e0 FROM isl
       |  GROUP BY doc_id, gid),
       |cov AS (SELECT doc_id, unnest(range(s0, e0 + 1)) AS p FROM sp),
       |tokpos AS (SELECT doc_id, i AS idx, l[i] AS tok FROM toks,
       |  LATERAL unnest(range(1, len(l) + 1)) AS t(i)),
       |kept AS (SELECT tp.doc_id, tp.idx, tp.tok FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM cov c
       |    WHERE c.doc_id = tp.doc_id AND c.p = tp.idx - 1)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx)
       |    AS text_clean, count(*) AS n_kept FROM kept GROUP BY 1),
       |ns AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
       |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
       |  CAST(len(t.l) AS INT) AS n_tokens,
       |  CAST(len(t.l) - coalesce(a.n_kept, 0) AS INT) AS n_removed,
       |  CAST(coalesce(ns.n_spans, 0) AS INT) AS n_spans
       |FROM toks t LEFT JOIN agg a USING (doc_id)
       |  LEFT JOIN ns USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Paragraph-level (fixed 12-token segment) exact dedup with document
    * reassembly — the RefinedWeb/CCNet rewrite step: every distinct
    * segment survives once at its first (doc_id, seg_idx) occurrence,
    * documents are rebuilt from their surviving segments, and fully
    * deduplicated documents come back empty rather than vanishing.
    * Distinct from d1 (whole-doc dedup — keeps or drops a doc atomically)
    * and t22 (measures overlapping-gram duplication but rewrites
    * nothing). Keeper election is min(struct) — a partial-aggregating
    * shuffle on the segment, not a corpus-wide window. */
  def d19SegmentDedup(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk
      .segmentDedup(documents(sp, dir), col("text"), col("doc_id"), 12)
      .orderBy("doc_id")

  val d19Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS l
      |  FROM documents),
      |segs AS (SELECT doc_id, i AS seg_idx,
      |    array_to_string(l[i*12+1:i*12+12], ' ') AS seg
      |  FROM toks, LATERAL unnest(
      |    range(0, CAST(ceil(len(l)/12.0) AS BIGINT))) AS t(i)),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM segs),
      |kept AS (SELECT doc_id, seg_idx, seg FROM ranked WHERE rn = 1),
      |totals AS (SELECT doc_id, count(*) AS n_total FROM segs GROUP BY 1),
      |agg AS (SELECT doc_id,
      |    string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup,
      |    count(*) AS n_kept FROM kept GROUP BY 1)
      |SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
      |  CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
      |  CAST(t.n_total - coalesce(a.n_kept, 0) AS INT) AS n_dropped
      |FROM totals t LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Overlapping sliding-window chunking (16-token windows, stride 8) —
    * the RAG / context-packing expansion. Chunk count is a per-row
    * closed form inside codegen (no number-table join); consecutive
    * chunks share w−s tokens so no boundary context is lost. */
  def t26ChunkOverlap(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk
      .overlapping(documents(sp, dir), col("text"), col("doc_id"), 16, 8)
      .orderBy("doc_id", "chunk_id")

  val t26Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS l
      |  FROM documents),
      |ch AS (SELECT doc_id, i AS chunk_id,
      |    array_to_string(l[i*8+1:i*8+16], ' ') AS chunk,
      |    len(l[i*8+1:i*8+16]) AS n_tokens
      |  FROM toks, LATERAL unnest(range(0, CAST(
      |    1 + floor((greatest(len(l)-16,0)+7)/8) AS BIGINT))) AS t(i))
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |  CAST(n_tokens AS INT) AS n_tokens, chunk
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-language lexical profile: type-token ratio and hapax-legomenon
    * fraction — the corpus-linguistics screen for synthetic/templated
    * text (low TTR = repetitive generation; high hapax = noisy OCR). Two
    * hash aggregations, the second over the TYPE table (vocabulary-sized,
    * not corpus-sized); every statistic is exact-integer until the one
    * final division, so the hash check is engine-exact. */
  def t24LexicalStats(sp: SparkSession, dir: String): DataFrame = {
    val freq = documents(sp, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c"))
    freq.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        round(count(lit(1)).cast("double") / sum(col("c")), 4).as("ttr"),
        round(sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("hapax_frac"))
      .orderBy(col("lang"))
  }

  val t24Sql: String =
    s"""WITH tok AS (SELECT lang, unnest($Toks) AS t FROM documents),
       |freq AS (SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t)
       |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_types,
       |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr,
       |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS hapax_frac
       |FROM freq GROUP BY lang ORDER BY lang""".stripMargin

  /** BPE merge APPLICATION ([[graft.functions.BpeApplyExpr]]) — the
    * encode side of the t18-trained tokenizer: every distinct corpus word
    * split into subword pieces under a fixed 8-merge table (a literal
    * here so the oracle isolates ENCODE semantics; the spec composes
    * train -> encode end-to-end). Per-word greedy left-to-right merge
    * passes in rank order, replayed by the oracle as an 8-step
    * string-rewrite recursion — piece boundaries match byte-for-byte. */
  def t25BpeApply(sp: SparkSession, dir: String): DataFrame = {
    val words = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val pieces = graft.functions.BpeApplyExpr.bpe_apply(col("w"), t25Merges)
    words.select(col("w"),
        array_join(pieces, "+").as("pieces"),
        size(pieces).as("n_pieces"), col("n"))
      .orderBy(col("w"))
  }

  private val t25Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"))

  val t25Sql: String = {
    val mergeRows = t25Merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(", ")
    s"""WITH RECURSIVE words AS (
       |  SELECT t AS w, COUNT(*) AS n FROM
       |    (SELECT unnest($Toks) AS t FROM documents) WHERE t <> ''
       |  GROUP BY t),
       |mg(r, a, b) AS (SELECT * FROM (VALUES $mergeRows)),
       |base AS (SELECT w, ' ' || array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i:i]), ' ') || ' '
       |  AS s FROM words),
       |enc(w, s, m) AS (
       |  SELECT w, s, 0 FROM base
       |  UNION ALL
       |  SELECT e.w,
       |    replace(replace(replace(e.s, ' ', '  '),
       |      ' ' || mg.a || '  ' || mg.b || ' ', ' ' || mg.a || mg.b || ' '),
       |      '  ', ' '),
       |    e.m + 1
       |  FROM enc e JOIN mg ON mg.r = e.m),
       |done AS (SELECT w, s FROM enc WHERE m = ${t25Merges.length})
       |SELECT words.w,
       |  array_to_string(string_split(trim(done.s), ' '), '+') AS pieces,
       |  CAST(len(string_split(trim(done.s), ' ')) AS INT) AS n_pieces,
       |  CAST(words.n AS BIGINT) AS n
       |FROM done JOIN words ON words.w = done.w
       |ORDER BY words.w""".stripMargin
  }

  /** Tokenizer FERTILITY / compression profile — the tokenizer-health
    * report every multilingual training pipeline publishes before
    * committing to a vocab: per language, subword pieces per word
    * (fertility — a language whose fertility balloons is under-served by
    * the merge table and burns context budget) and chars per piece
    * (compression). Uses the t25 merge table so encode semantics stay
    * oracle-isolated; the spec-level train→encode composition lives in
    * BpeSpec. Scale shape: BPE runs once per DISTINCT (lang, word) —
    * vocab-sized work — and occurrence counts weight the sums, so the
    * corpus contributes one hash agg, never a per-occurrence encode.
    * Exact integer sums until the two final divisions. */
  def t36TokenizerFertility(sp: SparkSession, dir: String): DataFrame = {
    val words = documents(sp, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    val pieces = graft.functions.BpeApplyExpr.bpe_apply(col("w"), t25Merges)
    words
      .select(col("lang"), col("n"),
        size(pieces).cast("long").as("np"),
        length(col("w")).cast("long").as("nc"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_words"),
        sum(col("np") * col("n")).as("n_pieces"),
        sum(col("nc") * col("n")).as("n_chars"),
        round(sum(col("np") * col("n")).cast("double") / sum(col("n")), 4)
          .as("fertility"),
        round(sum(col("nc") * col("n")).cast("double")
          / sum(col("np") * col("n")), 4).as("chars_per_piece"))
      .orderBy("lang")
  }

  val t36Sql: String = {
    val mergeRows = t25Merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(", ")
    s"""WITH RECURSIVE words AS (
       |  SELECT lang, t AS w, COUNT(*) AS n FROM
       |    (SELECT lang, unnest($Toks) AS t FROM documents) WHERE t <> ''
       |  GROUP BY lang, t),
       |uw AS (SELECT DISTINCT w FROM words),
       |mg(r, a, b) AS (SELECT * FROM (VALUES $mergeRows)),
       |base AS (SELECT w, ' ' || array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i:i]), ' ') || ' '
       |  AS s FROM uw),
       |enc(w, s, m) AS (
       |  SELECT w, s, 0 FROM base
       |  UNION ALL
       |  SELECT e.w,
       |    replace(replace(replace(e.s, ' ', '  '),
       |      ' ' || mg.a || '  ' || mg.b || ' ', ' ' || mg.a || mg.b || ' '),
       |      '  ', ' '),
       |    e.m + 1
       |  FROM enc e JOIN mg ON mg.r = e.m),
       |done AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
       |    AS np
       |  FROM enc WHERE m = ${t25Merges.length})
       |SELECT words.lang, CAST(SUM(words.n) AS BIGINT) AS n_words,
       |  CAST(SUM(done.np * words.n) AS BIGINT) AS n_pieces,
       |  CAST(SUM(len(words.w) * words.n) AS BIGINT) AS n_chars,
       |  ROUND(SUM(done.np * words.n)::DOUBLE / SUM(words.n), 4)
       |    AS fertility,
       |  ROUND(SUM(len(words.w) * words.n)::DOUBLE
       |    / SUM(done.np * words.n), 4) AS chars_per_piece
       |FROM words JOIN done ON done.w = words.w
       |GROUP BY words.lang ORDER BY words.lang""".stripMargin
  }

  // t38's HTML-ish wrapper pieces — shared verbatim between the Spark
  // construction and the oracle's SQL literal (single-quote-free so they
  // interpolate into a SQL string literal unescaped). Deliberate tag
  // soup: an attribute without quotes, a bare <br>, a comment and a
  // script both containing a literal '<', entities in the footer.
  private val T38P1 = "<html><head><title>Doc "
  private val T38P2 = "</title><style>body{margin:0} p>a{color:#00f}" +
    "</style><script type=text/javascript>if (1 < 2) { var x = \"<b>\"; }" +
    "</script></head><body><div class=\"nav\"><a href=\"/home\">Home</a>" +
    " | <a href=\"/about\">About</a></div><!-- boilerplate: 3 < 5 -->" +
    "<h1>Doc "
  private val T38P3 = "</h1><p>"
  private val T38P4 = "</p><br><div class=footer>Contact &lt;ads&gt; " +
    "&amp; &quot;sales&quot;&nbsp;now</div></body></html>"

  /** HTML BOILERPLATE STRIP + markup-density filter — the step a
    * CommonCrawl-style corpus needs BEFORE any of the clean-text t-gates
    * apply: tag-soup pages are reduced to main text by a LENIENT rule
    * chain that never errors on malformed markup (an unquoted attribute,
    * a bare `<br>`, a stray `<` in text or script all pass through the
    * rules deterministically — there is no parse to fail). The chain is
    * five codegen'd `regexp_replace`/`replace` passes (comments, then
    * script/style blocks wholesale, then tags, then the five common
    * entities, then whitespace collapse) — expressed as builtin string
    * functions rather than a custom scanner precisely so the oracle can
    * replay the SAME rules text-identically and hash the extracted text;
    * RE2 and Java agree on every construct used ((?is), lazy `.*?`,
    * explicit char classes). The text-density ratio (kept chars / raw
    * chars) is the markup-density filter: boilerplate-dominated pages
    * score low and are flagged, the trafilatura-style heuristic.
    *
    * Scale: pure per-row scan work, whole-stage codegen, no shuffle
    * before the final orderBy; at 100 TB this is a map-only pass. */
  def t38HtmlStrip(sp: SparkSession, dir: String): DataFrame = {
    val html = concat(lit(T38P1), col("doc_id").cast("string"), lit(T38P2),
      col("doc_id").cast("string"), lit(T38P3), col("text"), lit(T38P4))
    documents(sp, dir)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), length(col("html")).as("n_raw"),
        Text.htmlStrip(col("html")).as("main_text"))
      .select(col("doc_id"), col("n_raw"),
        length(col("main_text")).as("n_text"),
        round(length(col("main_text")).cast("double")
          / col("n_raw"), 4).as("density"),
        col("main_text"))
      .withColumn("keep", col("density") >= 0.45)
      .orderBy("doc_id")
  }

  val t38Sql: String = {
    // the pieces are single-quote-free by construction, so they drop
    // into SQL string literals verbatim (double quotes need no escape)
    val html = s"concat('$T38P1', doc_id::VARCHAR, '$T38P2', " +
      s"doc_id::VARCHAR, '$T38P3', text, '$T38P4')"
    val noComment = s"regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g')"
    val noScript = s"regexp_replace($noComment, " +
      s"'(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    val noStyle = s"regexp_replace($noScript, " +
      s"'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    val noTags = s"regexp_replace($noStyle, '</?[a-zA-Z][^>]*>', ' ', 'g')"
    val decoded = "replace(replace(replace(replace(replace(" + noTags +
      ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&nbsp;', ' '), " +
      "'&amp;', '&')"
    val stripped = s"trim(regexp_replace($decoded, '[ \\t\\n\\r]+', ' ', 'g'))"
    s"""WITH h AS (SELECT doc_id, $html AS html FROM documents),
       |s AS (SELECT doc_id, CAST(length(html) AS INT) AS n_raw,
       |    $stripped AS main_text FROM h)
       |SELECT doc_id, n_raw, CAST(length(main_text) AS INT) AS n_text,
       |  round(length(main_text)::DOUBLE / n_raw, 4) AS density,
       |  main_text, density >= 0.45 AS keep
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // t39's page pieces — two long content paragraphs separated by short
  // boilerplate blocks (nav / ad / footer); single-quote-free like t38's
  private val T39P1 = "<html><body><div class=nav><a href=/>Home</a> | " +
    "<a href=/faq>FAQ</a></div><h1>Doc "
  private val T39P2 = "</h1><p>"
  private val T39P3 = "</p><div class=ad>BUY NOW!!!</div><p>"
  private val T39P4 = "</p><div class=footer>(c) 2026 site</div>" +
    "</body></html>"

  /** BLOCK-LEVEL main-content extraction — the stage AFTER t38's flat
    * strip: a flat strip keeps nav/ad/footer text glued to the article;
    * the boilerplate detector works per BLOCK (trafilatura/boilerpipe's
    * core idea): block-level tags become block boundaries, each block's
    * text is cleaned independently, and only blocks with enough text
    * (≥ 40 chars here — short nav/ad/footer fragments fall under) are
    * stitched into the main text. Rules are split/transform/filter
    * higher-order functions over one blockified string — every construct
    * (regex tag classes, chr(10) boundaries, per-element lambdas) exists
    * identically in both engines, so the oracle replays block-for-block.
    *
    * Scale: per-row string work, no shuffle before the final orderBy —
    * map-only like t38. */
  def t39BlockExtract(sp: SparkSession, dir: String): DataFrame = {
    val page = concat(lit(T39P1), col("doc_id").cast("string"), lit(T39P2),
      col("text"), lit(T39P3), upper(substring(col("text"), 1, 80)),
      lit(T39P4))
    // block-level tags -> newline boundaries; inline tags stripped later
    val blockTags = "(?i)</?(html|body|div|p|h1|h2|h3|ul|ol|li|table|tr" +
      "|td|br|section|article|header|footer|nav|blockquote)[^>]*>"
    val blockified = regexp_replace(page, blockTags, "\n")
    val cleaned = transform(split(blockified, "\n"), b =>
      trim(regexp_replace(regexp_replace(b, "</?[a-zA-Z][^>]*>", " "),
        "[ \\t\\r]+", " ")))
    val nonEmpty = filter(cleaned, b => length(b) > 0)
    val kept = filter(cleaned, b => length(b) >= 40)
    documents(sp, dir)
      .select(col("doc_id"), nonEmpty.as("blocks"), kept.as("kept"))
      .select(col("doc_id"), size(col("blocks")).as("n_blocks"),
        size(col("kept")).as("n_kept"),
        array_join(col("kept"), " ").as("main_text"))
      .orderBy("doc_id")
  }

  val t39Sql: String = {
    val page = s"concat('$T39P1', doc_id::VARCHAR, '$T39P2', text, " +
      s"'$T39P3', upper(substring(text, 1, 80)), '$T39P4')"
    val blockTags = "(?i)</?(html|body|div|p|h1|h2|h3|ul|ol|li|table|tr" +
      "|td|br|section|article|header|footer|nav|blockquote)[^>]*>"
    val cleaned = s"list_transform(string_split(regexp_replace($page, " +
      s"'$blockTags', chr(10), 'g'), chr(10)), b -> " +
      "trim(regexp_replace(regexp_replace(b, '</?[a-zA-Z][^>]*>', ' ', " +
      "'g'), '[ \\t\\r]+', ' ', 'g')))"
    s"""WITH c AS (SELECT doc_id, $cleaned AS blocks FROM documents)
       |SELECT doc_id,
       |  CAST(len(list_filter(blocks, b -> length(b) > 0)) AS INT)
       |    AS n_blocks,
       |  CAST(len(list_filter(blocks, b -> length(b) >= 40)) AS INT)
       |    AS n_kept,
       |  array_to_string(list_filter(blocks, b -> length(b) >= 40), ' ')
       |    AS main_text
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** URL CANONICALIZATION + exact dedup by canonical URL — the cheapest
    * and first dedup pass a web-corpus pipeline runs (before any content
    * hashing): the same page arrives under host-case variants, www
    * prefixes, trailing slashes, tracking parameters, and fragments.
    * Rules (each a builtin string/regex/HOF op shared verbatim with the
    * oracle): lowercase scheme+host, strip `www.`, strip the fragment,
    * drop a path's trailing slash, remove `utm_*` parameters, SORT the
    * surviving parameters. Grouping then rides ONE hash shuffle on the
    * canonical key with a window over the (tiny) per-URL groups — the d1
    * exact-dedup shape keyed by canonical URL instead of content hash.
    * URLs are synthesized from doc_id with deliberate variant collisions
    * so raw-distinct rows genuinely collapse. */
  def t40UrlCanonical(sp: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https://WWW.Site"))
        .otherwise(lit("https://www.site")),
      (col("doc_id") % 7).cast("string"), lit(".com/Article/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), (col("doc_id") % 20).cast("string"),
      lit("&utm_source=feed"), col("doc_id").cast("string"),
      when(col("doc_id") % 5 === 0, lit("&ref=tw")).otherwise(lit("")),
      lit("#sec"), (col("doc_id") % 4).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_url")
    documents(sp, dir)
      .select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", Text.urlCanonicalize(col("url")))
      .select(col("doc_id"), col("canonical_url"),
        min(col("doc_id")).over(w).as("rep_doc"),
        count(lit(1)).over(w).as("n_variants"))
      .withColumn("is_dup", col("doc_id") =!= col("rep_doc"))
      .orderBy("doc_id")
  }

  val t40Sql: String =
    """WITH u AS (SELECT doc_id,
      |    concat(CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.Site'
      |        ELSE 'https://www.site' END,
      |      (doc_id % 7)::VARCHAR, '.com/Article/', (doc_id % 40)::VARCHAR,
      |      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |      '?id=', (doc_id % 20)::VARCHAR,
      |      '&utm_source=feed', doc_id::VARCHAR,
      |      CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END,
      |      '#sec', (doc_id % 4)::VARCHAR) AS url
      |  FROM documents),
      |p AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag
      |  FROM u),
      |c AS (SELECT doc_id,
      |    CASE WHEN NOT regexp_matches(url, '^[A-Za-z]+://') THEN url
      |    ELSE concat(
      |      lower(regexp_extract(regexp_extract(nofrag, '^([^?]*)', 1),
      |        '^([A-Za-z]+)://', 1)),
      |      '://',
      |      regexp_replace(lower(regexp_extract(
      |        regexp_extract(nofrag, '^([^?]*)', 1),
      |        '^[A-Za-z]+://([^/]*)', 1)), '^www\.', ''),
      |      regexp_replace(regexp_extract(
      |        regexp_extract(nofrag, '^([^?]*)', 1),
      |        '^[A-Za-z]+://[^/]*(/.*)?$', 1), '/$', ''),
      |      CASE WHEN array_to_string(list_sort(list_filter(
      |          string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
      |          q -> length(q) > 0 AND NOT starts_with(q, 'utm_'))), '&')
      |          <> ''
      |        THEN concat('?', array_to_string(list_sort(list_filter(
      |          string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
      |          q -> length(q) > 0 AND NOT starts_with(q, 'utm_'))), '&'))
      |        ELSE '' END) END AS canonical_url
      |  FROM p)
      |SELECT doc_id, canonical_url,
      |  MIN(doc_id) OVER (PARTITION BY canonical_url) AS rep_doc,
      |  COUNT(*) OVER (PARTITION BY canonical_url) AS n_variants,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_dup
      |FROM c ORDER BY doc_id""".stripMargin

  /** END-TO-END pretraining-corpus composition — the one pipeline a data
    * team actually ships, run as a single query chain so the STAGE
    * INTERFACES are pinned (schema drift or double-filtering between
    * stages has nowhere to hide):
    *
    *   quality floor (t10) -> URL-canonical dedup (t40) -> content
    *   near-dup dedup (d11) -> per-domain quota (t21) -> token-budget
    *   mix (t19) -> FFD sequence packing (t37)
    *
    * Input is the corpus plus a re-crawl twin of every doc (same text,
    * id+1e6, mirror-host URL — so the URL stage catches SAME-SITE
    * variant collisions and the content stage catches the cross-host
    * re-crawls the URL key cannot see). Every stage output is
    * materialized to scratch parquet — each is consumed twice (by the
    * next stage and by the attrition count), and at 100 TB a stage
    * boundary is exactly where you want a durable cut (retry scope, AQE
    * stats, no lineage re-execution). Stage survivor counts ride the
    * output as constant columns (t30-style attrition audit), so the
    * oracle hash pins not just the final packed set but how many rows
    * every stage let through. */
  def t41CorpusPipeline(sp: SparkSession, dir: String): DataFrame = {
    def mat(df: DataFrame, tag: String): DataFrame =
      graft.Tables.stage(df, tag)
    val base = documents(sp, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val corpus = base.union(base.select((col("doc_id") + 1000000L)
      .as("doc_id"), col("source"), col("lang"), col("text")))
    val d0 = corpus.select(col("doc_id"), col("source"), col("lang"),
      col("text"), Text.tokenCount(col("text")).as("n_tok"),
      Text.qualityScore(col("text")).as("quality"))
    // stage 1 — per-language quality floor (drop each lang's bottom decile)
    val s1 = mat(graft.operators.Sampling.stratifiedQuantileFilter(
      d0, col("lang"), col("quality"), minPercentile = 0.10), "graft-t41-s1")
    // stage 2 — canonicalize the crawl URL, keep each page's min-id variant
    // (groupBy + semi-join, not a window: the keeper election is a
    // partial-aggregating shuffle, never a per-group sort)
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https://WWW."))
        .otherwise(lit("https://www.")),
      when(col("doc_id") < 1000000L, lit("Site")).otherwise(lit("Mirror")),
      (col("doc_id") % 7).cast("string"), lit(".com/Article/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), (col("doc_id") % 20).cast("string"),
      lit("&utm_source=feed"), col("doc_id").cast("string"), lit("#s"))
    val withUrl = s1.withColumn("canonical_url", Text.urlCanonicalize(url))
    val reps = withUrl.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("doc_id"))
    val s2 = mat(withUrl.join(reps, Seq("canonical_url", "doc_id"),
      "left_semi").drop("canonical_url"), "graft-t41-s2")
    // stage 3 — MinHash-LSH near-dup dedup of the surviving content
    val surv = Dedup.nearDupSurvivors(s2, col("doc_id"), col("text"),
      n = 3, k = K, rows = BandRows, threshold = 0.8,
      maxBucket = PipeMaxBucket)
    val s3 = mat(s2.join(surv.filter(col("is_survivor"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      .drop("text"), "graft-t41-s3")
    // stage 4 — cap any single source at 12 docs (bounded TopKPairsAgg)
    val q4 = graft.operators.Sampling.domainQuota(
      s3, col("source"), col("doc_id"), k = 12)
    val s4 = mat(s3.join(q4.select(col("key").as("doc_id")),
      Seq("doc_id"), "left_semi"), "graft-t41-s4")
    // stage 5 — rebalance to ~600 tokens per source (hash threshold)
    val s5 = mat(graft.operators.Sampling.tokenBudgetMix(s4, col("source"),
      col("doc_id").cast("string"), col("n_tok"), budget = 600L),
      "graft-t41-s5")
    // stage 6 — FFD-pack the survivors into 256-token bins, 4 shards
    val packed = graft.operators.Sampling.ffdPacking(s5,
      col("doc_id") % 4, col("doc_id"), col("n_tok"), capacity = 256)
    // attrition audit: stage counts are scalar aggregates over the
    // materialized stage parquets (cheap scans, no lineage re-execution)
    val audit = broadcast(sp.range(1).select(
      lit(corpus.count()).as("n_input"), lit(s1.count()).as("n_quality"),
      lit(s2.count()).as("n_url"), lit(s3.count()).as("n_content"),
      lit(s4.count()).as("n_quota"), lit(s5.count()).as("n_budget")))
    packed
      .join(s5.select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .crossJoin(audit)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("shard"), col("bin_id"), col("n_input"), col("n_quality"),
        col("n_url"), col("n_content"), col("n_quota"), col("n_budget"))
      .orderBy("doc_id")
  }

  // lazy: K / BandRows / PipeMaxBucket are declared further down the
  // object; the registry maps (end of object) force this after them
  lazy val t41Sql: String = {
    val quality = qualitySqlExpr
    val bands = K / BandRows
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(s${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig2"
    }.mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, source, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, lang, text FROM documents),
       |d0 AS (SELECT doc_id, source, lang, text,
       |    CAST(len($Toks) AS INT) AS n_tok, $quality AS quality
       |  FROM corpus),
       |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang
       |    ORDER BY quality) AS pr FROM d0),
       |s1 AS (SELECT doc_id, source, lang, text, n_tok, quality
       |  FROM r WHERE pr >= 0.10),
       |u AS (SELECT *, concat(
       |    CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.'
       |         ELSE 'https://www.' END,
       |    CASE WHEN doc_id < 1000000 THEN 'Site' ELSE 'Mirror' END,
       |    (doc_id % 7)::VARCHAR, '.com/Article/', (doc_id % 40)::VARCHAR,
       |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
       |    '?id=', (doc_id % 20)::VARCHAR,
       |    '&utm_source=feed', doc_id::VARCHAR, '#s') AS url FROM s1),
       |pn AS (SELECT *, regexp_replace(url, '#.*$$', '') AS nofrag FROM u),
       |cu AS (SELECT doc_id, source, lang, text, n_tok, quality, concat(
       |    lower(regexp_extract(regexp_extract(nofrag, '^([^?]*)', 1),
       |      '^([A-Za-z]+)://', 1)),
       |    '://',
       |    regexp_replace(lower(regexp_extract(
       |      regexp_extract(nofrag, '^([^?]*)', 1),
       |      '^[A-Za-z]+://([^/]*)', 1)), '^www\\.', ''),
       |    regexp_replace(regexp_extract(
       |      regexp_extract(nofrag, '^([^?]*)', 1),
       |      '^[A-Za-z]+://[^/]*(/.*)?$$', 1), '/$$', ''),
       |    CASE WHEN array_to_string(list_sort(list_filter(
       |        string_split(regexp_extract(nofrag, '\\?(.*)$$', 1), '&'),
       |        q -> length(q) > 0 AND NOT starts_with(q, 'utm_'))), '&')
       |        <> ''
       |      THEN concat('?', array_to_string(list_sort(list_filter(
       |        string_split(regexp_extract(nofrag, '\\?(.*)$$', 1), '&'),
       |        q -> length(q) > 0 AND NOT starts_with(q, 'utm_'))), '&'))
       |      ELSE '' END) AS canonical_url
       |  FROM pn),
       |s2 AS (SELECT doc_id, source, lang, text, n_tok, quality FROM cu
       |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY canonical_url)),
       |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM s2),
       |sh2 AS (SELECT doc_id, ${shingleSql("t")} AS s FROM toks2),
       |hh2 AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs
       |  FROM sh2),
       |sig2 AS (SELECT doc_id, $sigSqlCols FROM hh2),
       |bands2 AS ($bandSelects),
       |kept2 AS (SELECT doc_id, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM bands2)
       |  WHERE bc <= $PipeMaxBucket),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM kept2 l JOIN kept2 r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |conf AS (SELECT c.id_a, c.id_b,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
       |    len(a.s) + len(b.s) AS tot
       |  FROM cand c JOIN sh2 a ON a.doc_id = c.id_a
       |              JOIN sh2 b ON b.doc_id = c.id_b),
       |drops AS (SELECT DISTINCT id_b AS id FROM conf
       |  WHERE CASE WHEN tot = 0 THEN 0.0
       |             ELSE inter::DOUBLE / (tot - inter) END >= 0.8),
       |s3 AS (SELECT s2.doc_id, s2.source, s2.lang, s2.n_tok, s2.quality
       |  FROM s2 LEFT JOIN drops ON drops.id = s2.doc_id
       |  WHERE drops.id IS NULL),
       |s4 AS (SELECT doc_id, source, lang, n_tok, quality FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY ${h("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
       |    FROM s3) WHERE rn <= 12),
       |tt AS (SELECT source, SUM(n_tok) AS tok FROM s4 GROUP BY 1),
       |s5 AS (SELECT s4.doc_id, s4.source, s4.lang, s4.n_tok
       |  FROM s4 JOIN tt ON s4.source = tt.source
       |  WHERE ${h("CAST(s4.doc_id AS VARCHAR)")} <
       |    least(CAST(ceil(least(1.0, 600.0 / tok) * 4294967296.0)
       |      AS BIGINT), 4294967296)),
       |items AS (SELECT doc_id, doc_id % 4 AS shard,
       |    CAST(n_tok AS BIGINT) AS n_tokens,
       |    row_number() OVER (PARTITION BY doc_id % 4
       |      ORDER BY n_tok DESC, doc_id) AS rn
       |  FROM s5),
       |pack AS (
       |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT)
       |      AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
       |    CAST(NULL AS BIGINT) AS bin_id, []::BIGINT[] AS bins
       |  FROM (SELECT DISTINCT shard FROM items)
       |  UNION ALL
       |  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
       |    CAST(COALESCE(s.fit, len(s.bins) + 1) - 1 AS BIGINT) AS bin_id,
       |    CASE WHEN s.fit IS NULL THEN list_append(s.bins, 256 - s.n_tokens)
       |         ELSE list_transform(range(1, len(s.bins) + 1),
       |           j -> CASE WHEN j = s.fit THEN s.bins[j] - s.n_tokens
       |                ELSE s.bins[j] END)
       |    END AS bins
       |  FROM (SELECT i.shard, i.rn, i.doc_id, i.n_tokens, p.bins,
       |      list_aggregate(list_transform(range(1, len(p.bins) + 1),
       |        j -> CASE WHEN p.bins[j] >= i.n_tokens THEN j ELSE NULL END),
       |        'min') AS fit
       |    FROM pack p JOIN items i
       |      ON i.shard = p.shard AND i.rn = p.rn + 1) s),
       |audit AS (SELECT
       |    (SELECT count(*) FROM corpus) AS n_input,
       |    (SELECT count(*) FROM s1) AS n_quality,
       |    (SELECT count(*) FROM s2) AS n_url,
       |    (SELECT count(*) FROM s3) AS n_content,
       |    (SELECT count(*) FROM s4) AS n_quota,
       |    (SELECT count(*) FROM s5) AS n_budget)
       |SELECT p.doc_id, s5.source, s5.lang, p.n_tokens, p.shard, p.bin_id,
       |  a.n_input, a.n_quality, a.n_url, a.n_content, a.n_quota,
       |  a.n_budget
       |FROM pack p JOIN s5 ON p.doc_id = s5.doc_id CROSS JOIN audit a
       |WHERE p.rn > 0 ORDER BY p.doc_id""".stripMargin
  }

  /** Positional inverted index + exact phrase search
    * ([[graft.operators.InvertedIndex]]): per-posting (token, doc) rows —
    * the distributed posting-list form — then a 3-token phrase query
    * resolved by doc_id equi-joins of the query terms' postings and a
    * codegen'd position-array intersection. The oracle scans the raw text
    * with an independent token-window predicate, so it checks the index's
    * CONTENT, not its construction. */
  def t23PhraseSearch(sp: SparkSession, dir: String): DataFrame = {
    val idx = graft.operators.InvertedIndex.build(
      documents(sp, dir), col("doc_id"), col("text"))
    graft.operators.InvertedIndex
      .phraseSearch(idx, Seq("big", "order", "scan"))
      .orderBy("doc_id")
  }

  val t23Sql: String =
    s"""WITH toks AS (SELECT doc_id, $Toks AS l FROM documents),
       |m AS (SELECT doc_id, CAST(len(list_filter(range(1, len(l) - 1),
       |        i -> l[i] = 'big' AND l[i+1] = 'order' AND l[i+2] = 'scan'))
       |        AS INT) AS n_matches
       |      FROM toks)
       |SELECT doc_id, n_matches FROM m WHERE n_matches > 0
       |ORDER BY doc_id""".stripMargin

  // ======================= dedup =======================

  /** Exact dedup over a re-crawled (duplicated) corpus: survivors + group
    * sizes. */
  def d1Exact(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val recrawl = docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text"))
    Dedup.exact(docs.union(recrawl), Seq(col("text")), col("doc_id"))
      .select(col("keeper_id"), col("group_size"))
      .orderBy("keeper_id")
  }

  val d1Sql: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS group_size
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |GROUP BY text ORDER BY keeper_id""".stripMargin

  private val K = 8 // minhash permutations
  private val BandRows = 2

  private def sigSqlCols: String = (0 until K).map { i =>
    val a = Hashing.minhashA(i)
    val b = Hashing.minhashB(i)
    s"coalesce(list_min(list_transform(hs, x -> (x * $a + $b) % " +
      s"${Hashing.MinhashP})), ${Hashing.MinhashP}) AS s$i"
  }.mkString(",\n  ")

  private val sigCte: String =
    s"""toks AS (SELECT doc_id, $Toks AS t FROM documents),
       |sh AS (SELECT doc_id, ${shingleSql("t")} AS s FROM toks),
       |hh AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, $sigSqlCols FROM hh)""".stripMargin

  def d2MinhashSig(sp: SparkSession, dir: String): DataFrame =
    Dedup.withMinhashSig(
        spread(documents(sp, dir).select(col("doc_id"), col("text"))),
        col("text"), 3, K)
      .drop("text").orderBy("doc_id")

  val d2Sql: String =
    s"""WITH $sigCte
       |SELECT doc_id, ${(0 until K).map(i => s"s$i").mkString(", ")}
       |FROM sig ORDER BY doc_id""".stripMargin

  /** LSH PARAMETER SWEEP — the (bands × rows) S-curve table a dedup team
    * reads before fixing d3/d11's banding: K = 8 minhash permutations
    * rebanded three ways (8×1 permissive, 4×2 the production setting,
    * 2×4 strict) against PLANTED partial twins (each doc < 100 recurs
    * under id+10⁶ with only its FIRST HALF of tokens — Jaccard well
    * inside the S-curve's live region, unlike an exact twin every
    * config would catch). Per config: candidate-pair volume, planted
    * twins caught, recall in exact bp, and the theoretical 50%-catch
    * similarity (1/b)^(1/r) as a BAKED floor-bp constant shared by gate
    * and oracle (8408 = ⌊(1/2)^(1/4)·10⁴⌋ — no transcendental crosses
    * an engine). The volume column is the precision-side cost the
    * recall buys. The gate runs the PRODUCTION sweep shape: ONE sketch
    * job materializes the d2-style signature table to scratch parquet,
    * then each config only re-bands the persisted table
    * ([[Dedup.bandCandidates]]) — banding, not sketching, is the sweep
    * cost. Bucket cap 32 applies identically in both engines. */
  private val D22Cap = 32L
  private val D22ThrBp = Map(1 -> 1250, 2 -> 5000, 4 -> 8408)

  def d22LshSweep(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val twins = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), (size(toks) / 2)))
          .as("text"))
    val corpus = docs.union(twins)
    val sig = graft.Tables.stage(
      Dedup.withMinhashSig(spread(corpus), col("text"), 3, K)
        .drop("text"), "graft-d22-sig")
    Seq(1, 2, 4).map { r =>
      Dedup.bandCandidates(sig, col("doc_id"), K, r, maxBucket = D22Cap)
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("id_b") === col("id_a") + 1000000 &&
            col("id_a") < 100, 1)).as("n_caught"))
        .select(lit(K / r).as("bands"), lit(r).as("band_rows"),
          lit(D22ThrBp(r)).as("s50_bp"), col("n_candidates"),
          col("n_caught"), lit(100L).as("n_planted"))
        .withColumn("recall_bp", expr("n_caught * 10000 div n_planted"))
    }.reduce(_ union _).orderBy("band_rows")
  }

  val d22Sql: String = {
    def bandSelects(r: Int) = (0 until K / r).map { b =>
      val key = (0 until r)
        .map(j => s"CAST(s${b * r + j} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\nUNION ALL\n")
    def cfg(r: Int) =
      s"""bands$r AS (${bandSelects(r)}),
         |kept$r AS (SELECT * FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc
         |  FROM bands$r) WHERE bc <= $D22Cap),
         |cand$r AS (SELECT DISTINCT l.doc_id AS a, q.doc_id AS b
         |  FROM kept$r l JOIN kept$r q
         |    ON l.band = q.band AND l.key = q.key AND l.doc_id < q.doc_id),
         |row$r AS (SELECT CAST(${K / r} AS INT) AS bands,
         |    CAST($r AS INT) AS band_rows,
         |    CAST(${D22ThrBp(r)} AS INT) AS s50_bp,
         |    CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(count(*) FILTER (b = a + 1000000 AND a < 100)
         |      AS BIGINT) AS n_caught,
         |    CAST(100 AS BIGINT) AS n_planted
         |  FROM cand$r)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    array_to_string(t[1:(len(t) // 2)], ' ')
       |  FROM (SELECT doc_id, $Toks AS t FROM documents
       |        WHERE doc_id < 100)),
       |toks AS (SELECT doc_id, $Toks AS t FROM corpus),
       |sh AS (SELECT doc_id, ${shingleSql("t")} AS s FROM toks),
       |hh AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs
       |  FROM sh),
       |sig AS (SELECT doc_id, $sigSqlCols FROM hh),
       |${cfg(1)},
       |${cfg(2)},
       |${cfg(4)}
       |SELECT bands, band_rows, s50_bp, n_candidates, n_caught,
       |  n_planted, n_caught * 10000 // n_planted AS recall_bp
       |FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2
       |      UNION ALL SELECT * FROM row4)
       |ORDER BY band_rows""".stripMargin
  }

  /** WINNOWING OVERLAP DETECTION — robust winnowing (the MOSS
    * plagiarism-detector kernel, Schleimer/Wilkerson/Aiken SIGMOD 2003)
    * run corpus-wide: every doc is reduced to its winnowed fingerprint
    * set (token 4-grams, window 4 — see
    * [[graft.operators.Dedup.winnowFingerprints]] for the guarantees:
    * any shared >=7-token span yields a shared fingerprint, at most
    * 2/(w+1) of grams selected), then docs sharing >=2 fingerprints are
    * reported with both fingerprint-set sizes. This is the
    * position-aware complement to d14's shingle containment: winnowing
    * keeps ~2/(w+1) of the postings (guaranteed density), so the
    * self-join runs over a provably sparsified table — the property that
    * makes MOSS-style overlap detection viable corpus-wide.
    *
    * Scale shape: fingerprint selection is one per-doc window (bounded
    * by doc length, no global sort); the fingerprint table materializes
    * ONCE to scratch (three consumers: df-cap, sizes, both self-join
    * probes — the t22 discipline); a document-frequency cap (<=50 docs)
    * drops boilerplate fingerprints before the only self-join, which is
    * a hash equi-join on the fingerprint hash. */
  def d23Winnowing(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val fp = graft.Tables.stage(graft.operators.Dedup
      .winnowFingerprints(docs, col("doc_id"), col("text"), k = 4, w = 4),
      "graft-d23-fp")
    val rare = fp.groupBy("fph").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") <= 50).select("fph")
    val kept = fp.join(rare, Seq("fph"), "left_semi")
    val sizes = fp.groupBy(col("__id")).agg(count(lit(1)).as("n_fp"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.fph") === col("b.fph") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("doc1"), col("b.__id").as("doc2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    pairs
      .join(sizes.select(col("__id").as("doc1"), col("n_fp").as("fp1")),
        "doc1")
      .join(sizes.select(col("__id").as("doc2"), col("n_fp").as("fp2")),
        "doc2")
      .select(col("doc1"), col("doc2"), col("shared"), col("fp1"),
        col("fp2"))
      .orderBy("doc1", "doc2")
  }

  val d23Sql: String =
    s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
       |g AS (SELECT doc_id, i AS pos,
       |    ${h("array_to_string(t[i:i+3], ' ')")} AS h
       |  FROM toks, unnest(range(1, len(t)-4+2)) AS r(i)
       |  WHERE len(t) >= 4),
       |enc AS (SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS n,
       |    min(h * 2097152 + (2097151 - pos))
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
       |  FROM g),
       |fp AS (SELECT DISTINCT doc_id, sel // 2097152 AS fph
       |  FROM enc WHERE pos <= greatest(n - 3, 1)),
       |sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY 1),
       |df AS (SELECT fph FROM fp GROUP BY fph HAVING count(*) <= 50),
       |kept AS (SELECT fp.* FROM fp SEMI JOIN df USING (fph)),
       |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |    count(*) AS shared
       |  FROM kept a JOIN kept b
       |    ON a.fph = b.fph AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT p.doc1, p.doc2, CAST(p.shared AS BIGINT) AS shared,
       |  CAST(s1.n_fp AS BIGINT) AS fp1, CAST(s2.n_fp AS BIGINT) AS fp2
       |FROM pairs p
       |JOIN sizes s1 ON s1.doc_id = p.doc1
       |JOIN sizes s2 ON s2.doc_id = p.doc2
       |ORDER BY doc1, doc2""".stripMargin

  /** The sf0.01 corpus has four (band, key) buckets of size 3 (measured);
    * maxBucket=2 drops them, so the skew cap is exercised LIVE by the gate
    * and the oracle replays the same drop. */
  private val D3MaxBucket = 2L

  def d3MinhashPairs(sp: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(spread(documents(sp, dir)), col("doc_id"),
        col("text"), 3, K, BandRows, maxBucket = D3MaxBucket)
      .orderBy("id_a", "id_b")

  val d3Sql: String = {
    val bands = K / BandRows
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(s${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key, " +
        (0 until K).map(i => s"s$i").mkString(", ") + " FROM sig"
    }.mkString("\nUNION ALL\n")
    val eqSum = (0 until K)
      .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $sigCte,
       |bands AS ($bandSelects),
       |kept AS (SELECT * FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM bands)
       |  WHERE bc <= $D3MaxBucket)
       |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |  ($eqSum)::DOUBLE / $K AS est_sim
       |FROM kept l JOIN kept r
       |  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** INCREMENTAL dedup — the corpus-growth shape: base = docs 0-399
    * (already deduped in "a previous run"), increment = docs 400+ PLUS
    * exact twins of docs 0-99 (re-crawls of known content). The operator
    * sketches both sides and bucket-joins increment x base ONLY (the base
    * is never self-joined again), Jaccard-confirms, and labels each
    * increment doc is_new / n_dups. The oracle replays sketching, the
    * base-side bucket cap, the cross join and the verify — certifying the
    * exact topology a nightly ingest run executes. */
  private val D13MaxBucket = 2L

  def d13DedupIncremental(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") < 400)
    val inc = docs.filter(col("doc_id") >= 400)
      .union(docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    Dedup.incrementalNearDups(spread(base), spread(inc), col("doc_id"),
        col("text"), n = 3, k = K, rows = BandRows, threshold = 0.8,
        maxBucket = D13MaxBucket)
      .orderBy("id")
  }

  val d13Sql: String = {
    val bands = K / BandRows
    def bandSelects(sig: String) = (0 until bands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(s${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM $sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |  UNION ALL SELECT doc_id + 2000000, text FROM documents
       |  WHERE doc_id < 100),
       |tb AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
       |shb AS (SELECT doc_id, ${shingleSql("t")} AS s FROM tb),
       |hhb AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs FROM shb),
       |sigb AS (SELECT doc_id, $sigSqlCols FROM hhb),
       |ti AS (SELECT doc_id, string_split(text, ' ') AS t FROM inc),
       |shi AS (SELECT doc_id, ${shingleSql("t")} AS s FROM ti),
       |hhi AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs FROM shi),
       |sigi AS (SELECT doc_id, $sigSqlCols FROM hhi),
       |bandsb AS (${bandSelects("sigb")}),
       |keptb AS (SELECT doc_id, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM bandsb)
       |  WHERE bc <= $D13MaxBucket),
       |bandsi AS (${bandSelects("sigi")}),
       |cand AS (SELECT DISTINCT i.doc_id AS inc_id, b.doc_id AS base_id
       |  FROM bandsi i JOIN keptb b ON i.band = b.band AND i.key = b.key),
       |conf AS (SELECT c.inc_id,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
       |    len(a.s) + len(b.s) AS tot
       |  FROM cand c JOIN shi a ON a.doc_id = c.inc_id
       |              JOIN shb b ON b.doc_id = c.base_id),
       |dups AS (SELECT inc_id AS id, count(*) AS n_dups FROM conf
       |  WHERE CASE WHEN tot = 0 THEN 0.0
       |             ELSE inter::DOUBLE / (tot - inter) END >= 0.8
       |  GROUP BY 1)
       |SELECT inc.doc_id AS id, (dups.n_dups IS NULL) AS is_new,
       |  coalesce(dups.n_dups, 0) AS n_dups
       |FROM inc LEFT JOIN dups ON dups.id = inc.doc_id
       |ORDER BY id""".stripMargin
  }

  /** The END-TO-END dedup pipeline over a re-crawled corpus: MinHash
    * sketches -> LSH band candidates -> exact Jaccard verify -> greedy
    * survivors. Every stage of the composition is replayed by the oracle,
    * so the gate certifies the pipeline, not just its pieces. */
  /** The duplicated (doc + recrawl twin) sf0.01 corpus has four buckets of
    * size 6 (measured); maxBucket=4 drops them live, keeping the 86
    * size-4 buckets — d11 and d12 both run the capped pipeline. */
  private val PipeMaxBucket = 4L

  def d11DedupE2e(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val recrawl = docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text"))
    Dedup.nearDupSurvivors(spread(docs.union(recrawl)), col("doc_id"),
        col("text"), n = 3, k = K, rows = BandRows, threshold = 0.8,
        maxBucket = PipeMaxBucket)
      .orderBy("id")
  }

  val d11Sql: String = {
    val bands = K / BandRows
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(s${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig2"
    }.mkString("\nUNION ALL\n")
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |sh2 AS (SELECT doc_id, ${shingleSql("t")} AS s FROM toks2),
       |hh2 AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs FROM sh2),
       |sig2 AS (SELECT doc_id, $sigSqlCols FROM hh2),
       |bands2 AS ($bandSelects),
       |kept2 AS (SELECT doc_id, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM bands2)
       |  WHERE bc <= $PipeMaxBucket),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM kept2 l JOIN kept2 r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |conf AS (SELECT c.id_a, c.id_b,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
       |    len(a.s) + len(b.s) AS tot
       |  FROM cand c JOIN sh2 a ON a.doc_id = c.id_a
       |              JOIN sh2 b ON b.doc_id = c.id_b),
       |confirmed AS (SELECT id_a, id_b FROM conf
       |  WHERE CASE WHEN tot = 0 THEN 0.0
       |             ELSE inter::DOUBLE / (tot - inter) END >= 0.8),
       |drops AS (SELECT id_b AS id, count(*) AS n_dups
       |  FROM confirmed GROUP BY 1)
       |SELECT corpus.doc_id AS id, (drops.n_dups IS NULL) AS is_survivor,
       |  coalesce(drops.n_dups, 0) AS n_dups
       |FROM corpus LEFT JOIN drops ON drops.id = corpus.doc_id
       |ORDER BY id""".stripMargin
  }

  /** Full dedup clustering: the d11 pipeline's confirmed pairs, then 3
    * rounds of min-label propagation — every doc labeled with its
    * connected component's minimum id, so a-b-c chains collapse into one
    * cluster (d11's greedy rule cannot). Oracle unrolls the rounds. */
  def d12DedupClusters(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val recrawl = docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text"))
    val corpus = spread(docs.union(recrawl))
    val confirmed = Dedup.confirmedNearDupPairs(corpus, col("doc_id"),
      col("text"), n = 3, k = K, rows = BandRows, threshold = 0.8,
      maxBucket = PipeMaxBucket)
    Dedup.dedupClusters(corpus.select(col("doc_id").as("id")), confirmed,
        iters = 3)
      .orderBy("id")
  }

  val d12Sql: String = {
    val bands = K / BandRows
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(s${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig2"
    }.mkString("\nUNION ALL\n")
    def round(prev: String, cur: String) =
      s"""n$cur AS (SELECT e.dst AS id, min(l$prev.label) AS nl
         |  FROM edges e JOIN l$prev ON l$prev.id = e.src GROUP BY e.dst),
         |l$cur AS (SELECT l$prev.id,
         |    least(l$prev.label, coalesce(n$cur.nl, l$prev.label)) AS label
         |  FROM l$prev LEFT JOIN n$cur ON n$cur.id = l$prev.id)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |sh2 AS (SELECT doc_id, ${shingleSql("t")} AS s FROM toks2),
       |hh2 AS (SELECT doc_id, list_transform(s, x -> ${h("x")}) AS hs FROM sh2),
       |sig2 AS (SELECT doc_id, $sigSqlCols FROM hh2),
       |bands2 AS ($bandSelects),
       |kept2 AS (SELECT doc_id, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM bands2)
       |  WHERE bc <= $PipeMaxBucket),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM kept2 l JOIN kept2 r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |conf AS (SELECT c.id_a, c.id_b,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
       |    len(a.s) + len(b.s) AS tot
       |  FROM cand c JOIN sh2 a ON a.doc_id = c.id_a
       |              JOIN sh2 b ON b.doc_id = c.id_b),
       |confirmed AS (SELECT id_a, id_b FROM conf
       |  WHERE CASE WHEN tot = 0 THEN 0.0
       |             ELSE inter::DOUBLE / (tot - inter) END >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM confirmed
       |  UNION ALL SELECT id_b, id_a FROM confirmed),
       |l0 AS (SELECT doc_id AS id, doc_id AS label FROM corpus),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT id, label AS cluster_id FROM l3 ORDER BY id""".stripMargin
  }

  /** QUALITY-AWARE CANONICAL ELECTION — the keep-BEST dedup rule
    * (FineWeb/RefinedWeb practice): within each near-dup cluster the
    * survivor is the HIGHEST-QUALITY member, not the first-seen one
    * (d1/d11's keep-first is the cheap rule; it silently keeps whichever
    * crawl happened to arrive first, which for recrawl twins is a coin
    * flip and for boilerplate-heavy mirrors is often the worst copy).
    * Composes d12's confirmed-pair min-label clustering with t2's
    * quality kernel: one groupBy(cluster) max(struct(quality, -id))
    * partial agg elects the keeper — no corpus window, ties break to
    * the smallest id deterministically. Output is cluster-grain (the
    * dedup decision log a curation team audits): members, keeper, its
    * quality, and how many copies drop. The oracle replays the ENTIRE
    * chain — LSH bands, capped buckets, Jaccard confirmation, three
    * label-propagation rounds, the quality formula, and the argmax —
    * so a drift anywhere in the composed pipeline fails the hash. */
  def d21QualityKeeper(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"), col("text"))
    val recrawl = docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text"))
    val corpus = spread(docs.union(recrawl))
    val confirmed = Dedup.confirmedNearDupPairs(corpus, col("doc_id"),
      col("text"), n = 3, k = K, rows = BandRows, threshold = 0.8,
      maxBucket = PipeMaxBucket)
    val clusters = Dedup.dedupClusters(
      corpus.select(col("doc_id").as("id")), confirmed, iters = 3)
    val quality = corpus.select(col("doc_id").as("id"),
      Text.qualityScore(col("text")).as("q"))
    clusters.join(quality, "id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("id")).as("nid"))).as("__k"))
      .select(col("cluster_id"), col("n_members"),
        (-col("__k.nid")).as("keeper_id"),
        col("__k.q").as("keeper_q"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  val d21Sql: String = {
    // replay d12's full clustering chain, then score + elect
    val clusterCtes = d12Sql
      .stripSuffix("SELECT id, label AS cluster_id FROM l3 ORDER BY id")
      .stripSuffix("\n")
    s"""$clusterCtes,
       |cl AS (SELECT id, label AS cluster_id FROM l3),
       |q AS (SELECT doc_id AS id, $qualitySqlExpr AS q
       |  FROM corpus AS documents(doc_id, text)),
       |j AS (SELECT cl.cluster_id, cl.id, q.q FROM cl JOIN q USING (id)),
       |e AS (SELECT cluster_id, id, q, row_number() OVER (
       |    PARTITION BY cluster_id ORDER BY q DESC, id) AS rn FROM j)
       |SELECT j.cluster_id, count(*) AS n_members,
       |  any_value(e.id) AS keeper_id,
       |  any_value(e.q) AS keeper_q,
       |  count(*) - 1 AS n_dropped
       |FROM j JOIN e ON e.cluster_id = j.cluster_id AND e.rn = 1
       |GROUP BY j.cluster_id ORDER BY j.cluster_id""".stripMargin
  }

  // ---- shared 64-bit SimHash SQL (mirrors Hashing.simhash64 exactly) ----
  private def h2(x: String, w: Int) =
    s"('0x' || substr(md5($x), ${1 + 8 * w}, 8))::BIGINT"
  private val simhash64Bits: String = (0 until 64).map { j =>
    val (arr, bit) = if (j < 32) ("lo", j) else ("hi", j - 32)
    s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform($arr, x -> ((x >> $bit) % 2) * 2 - 1)), " +
      s"(x,y) -> x+y) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")
  private val simhash64Cte: String =
    s"""hh AS (SELECT doc_id, list_transform($Toks, t -> ${h2("t", 0)}) AS lo,
       |             list_transform($Toks, t -> ${h2("t", 1)}) AS hi FROM documents),
       |sh AS (SELECT doc_id, $simhash64Bits AS sh FROM hh)""".stripMargin

  def d4Simhash(sp: SparkSession, dir: String): DataFrame =
    documents(sp, dir).select(
      col("doc_id"),
      Hashing.simhash64(Text.tokens(col("text"))).as("sh"))
      .orderBy("doc_id")

  val d4Sql: String =
    s"""WITH $simhash64Cte
       |SELECT doc_id, sh FROM sh ORDER BY doc_id""".stripMargin

  /** n-gram Jaccard between consecutive docs — exact-similarity ground truth
    * at O(n) pairs (pairwise-at-scale goes through d3's LSH candidates). */
  def d5NgramJaccard(sp: SparkSession, dir: String): DataFrame = {
    val docs = spread(documents(sp, dir))
    val a = docs.select(col("doc_id").as("id_a"),
      Dedup.shingleSet(col("text"), 3).as("sa"))
    val b = docs.select((col("doc_id") - 1).as("id_a"),
      col("doc_id").as("id_b"), Dedup.shingleSet(col("text"), 3).as("sb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jac"))
      .orderBy("id_a")
  }

  val d5Sql: String =
    s"""WITH sh AS (SELECT doc_id, ${shingleSql(Toks)} AS s FROM documents),
       |pr AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
       |    len(a.s) + len(b.s) AS tot
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
       |SELECT id_a, id_b,
       |  round(CASE WHEN tot = 0 THEN 0.0
       |             ELSE inter::DOUBLE / (tot - inter)::DOUBLE END, 4) AS jac
       |FROM pr ORDER BY id_a""".stripMargin

  /** Embedding near-dup scan over consecutive vectors: bit-exact cosine. */
  def d6EmbedNearDup(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select((col("vec_id") - 1).as("id_a"),
      col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        Vectors.cosineR(col("va"), col("vb")).as("cos"),
        (Vectors.cosine(col("va"), col("vb")) > 0.95).as("near"))
      .orderBy("id_a")
  }

  val d6Sql: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(${cosSql("a.embedding", "b.embedding")}, 4) AS cos,
       |  (${cosSql("a.embedding", "b.embedding")} > 0.95) AS near
       |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |ORDER BY id_a""".stripMargin

  /** SimHash-bucketed near-dup pairs over the whole corpus: 8 bands of 8
    * bits over the 64-bit sketch; the hottest bucket in this corpus (128
    * docs) exceeds maxBucket=100, so the cap is exercised live — and the
    * oracle replays the same drop. */
  private val D7Bands = 8
  private val D7BandBits = 8
  private val D7MaxHamming = 8
  private val D7MaxBucket = 100L

  def d7SimhashPairs(sp: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(documents(sp, dir), col("doc_id"), col("text"),
        bandBits = D7BandBits, bands = D7Bands,
        maxHamming = D7MaxHamming, maxBucket = D7MaxBucket)
      .orderBy("id_a", "id_b")

  val d7Sql: String = {
    val mask = (1L << D7BandBits) - 1
    val banded = (0 until D7Bands).map { b =>
      s"SELECT doc_id, sh, $b AS band, (sh >> ${b * D7BandBits}) & $mask AS key FROM sh"
    }.mkString("\nUNION ALL\n")
    s"""WITH $simhash64Cte,
       |banded AS ($banded),
       |kept AS (SELECT doc_id, sh, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc FROM banded)
       |  WHERE bc <= $D7MaxBucket),
       |pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |    l.sh AS sa, r.sh AS sb
       |  FROM kept l JOIN kept r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= $D7MaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Corpus-wide embedding near-dup via sign-bit LSH buckets + exact
    * cosine confirm. */
  def d8EmbedPairs(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    // 6 planes -> 64 buckets: keeps per-bucket pair counts tractable as the
    // corpus grows (bucket count should scale with corpus size)
    val planes: Seq[Seq[Double]] = e.filter(col("vec_id") < 6)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    Dedup.embeddingNearDupPairs(e, col("vec_id"), col("embedding"),
        planes, threshold = 0.2)
      .orderBy("id_a", "id_b")
  }

  val d8Sql: String =
    s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 6),
       |bk AS (SELECT e.vec_id AS id, e.embedding AS vec,
       |         CAST(SUM(CASE WHEN ${dotSql("e.embedding", "p.pe")} >= 0 THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |       FROM embeddings e CROSS JOIN p GROUP BY e.vec_id, e.embedding)
       |SELECT l.id AS id_a, r.id AS id_b,
       |  round(${cosSql("l.vec", "r.vec")}, 4) AS cos
       |FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.id < r.id
       |WHERE ${cosSql("l.vec", "r.vec")} >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  /** Per-domain MinHash-sketch union via the real Aggregator UDAF
    * (SURVEY §2.2 UDAF row): group docs into 10 synthetic domains, union
    * their signatures map-side. The oracle is the algebraic identity —
    * union sketch = element-wise min per group. */
  def d9MinhashUnion(sp: SparkSession, dir: String): DataFrame = {
    val sigd = Dedup.withMinhashSig(
      spread(documents(sp, dir).select(col("doc_id"), col("text"))),
      col("text"), 3, K)
    val union = graft.functions.MinhashUnionAgg.minhashUnion(K)
    sigd
      .select((col("doc_id") % 10).as("grp"),
        array((0 until K).map(i => col(s"s$i")): _*).as("sig"))
      .groupBy("grp")
      .agg(union(col("sig")).as("u"))
      .select(col("grp") +:
        (0 until K).map(i => get(col("u"), lit(i)).as(s"u$i")): _*)
      .orderBy("grp")
  }

  val d9Sql: String =
    s"""WITH $sigCte
       |SELECT doc_id % 10 AS grp,
       |  ${(0 until K).map(i => s"min(s$i) AS u$i").mkString(", ")}
       |FROM sig GROUP BY 1 ORDER BY grp""".stripMargin

  /** Sorted-neighborhood dedup
    * ([[graft.operators.Dedup.sortedNeighborhoodPairs]]): the
    * merge/purge blocking family beside hash blocking and LSH — sort
    * by the first-24-chars key, pair each doc with its 3 successors,
    * confirm with the exact 3-gram Jaccard kernel. EVERY candidate
    * pair ships with its jaccard and the ≥ 0.5 verdict, so the gate
    * hashes the whole n·(w−1) comparison surface (the sorted-
    * neighborhood cost model made visible), not just the hits; the
    * fixture's shared-prefix documents land adjacent and score high
    * while unrelated neighbors score ~0. The oracle replays the
    * global (key, id) ordinal with ROW_NUMBER (domain-sized there)
    * and the same intersection arithmetic. */
  def d24SortedNeighborhood(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val pairs = Dedup.sortedNeighborhoodPairs(docs,
      substring(col("text"), 1, 24), col("doc_id"), w = 4)
    val sh = documents(sp, dir).select(col("doc_id"),
      Dedup.shingleSet(col("text"), 3).as("s"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("s").as("sa")),
        "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("s").as("sb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jac"),
        (Dedup.jaccard(col("sa"), col("sb")) >= 0.5).as("near_dup"))
      .orderBy("id_a", "id_b")
  }

  val d24Sql: String =
    s"""WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY substr(text, 1, 24), doc_id) - 1 AS r
       |  FROM documents),
       |sh AS (SELECT doc_id, ${shingleSql(Toks)} AS s FROM documents),
       |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM r a JOIN r b ON b.r > a.r AND b.r <= a.r + 3),
       |j AS (SELECT pr.id_a, pr.id_b,
       |    len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS inter,
       |    len(sa.s) + len(sb.s) AS tot
       |  FROM pr JOIN sh sa ON sa.doc_id = pr.id_a
       |  JOIN sh sb ON sb.doc_id = pr.id_b)
       |SELECT id_a, id_b,
       |  round(CASE WHEN tot = 0 THEN 0.0
       |    ELSE inter::DOUBLE / (tot - inter)::DOUBLE END, 4) AS jac,
       |  CASE WHEN tot = 0 THEN FALSE
       |    ELSE inter::DOUBLE / (tot - inter)::DOUBLE >= 0.5 END
       |    AS near_dup
       |FROM j ORDER BY id_a, id_b""".stripMargin

  /** Symmetric int8 embedding quantization + reconstruction quality: the 4x
    * storage lever for embedding columns, verified bit-for-bit (quantized
    * values) and to 4 decimals (cosine between original and dequantized). */
  def d10EmbedQuant(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    e.select(col("vec_id"), col("embedding"),
        Vectors.maxAbs(col("embedding")).as("m"))
      .select(col("vec_id"), col("embedding"), col("m"),
        Vectors.quantize(col("embedding"), col("m")).as("q"))
      .select(col("vec_id"),
        round(col("m"), 6).as("scale_max"),
        get(col("q"), lit(0)).as("q0"),
        get(col("q"), lit(1)).as("q1"),
        Vectors.cosineR(col("embedding"),
          Vectors.dequantize(col("q"), col("m"))).as("cos_recon"))
      .orderBy("vec_id")
  }

  val d10Sql: String = {
    val dq = "list_transform(q, x -> CAST(x AS DOUBLE) * m / 127.0)"
    s"""WITH mm AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
       |  FROM embeddings),
       |qq AS (SELECT vec_id, embedding, m,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m) AS INT)) AS q
       |  FROM mm)
       |SELECT vec_id, round(m, 6) AS scale_max, q[1] AS q0, q[2] AS q1,
       |  round(${cosSql("embedding", dq)}, 4) AS cos_recon
       |FROM qq ORDER BY vec_id""".stripMargin
  }

  // ======================= similarity search =======================

  def a1AnnBrute(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Ann.bruteForceTopK(qs, corpus, 5).orderBy("qid", "rank")
  }

  val a1Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT q.qid, e.vec_id AS id, ${cosSql("q.qvec", "e.embedding")} AS sim
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |r AS (SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM s)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor, round(sim, 4) AS sim
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** LSH-bucketed ANN with hyperplanes drawn deterministically from the
    * corpus (first 4 vectors) — reproducible bucketing in any engine — and
    * MULTI-PROBE (the query's bucket + its 4 Hamming-1 neighbors): the
    * standard recall recovery for sign-bit LSH, verified by a5. The 4-row
    * collect below fetches only the planes, never data. */
  def a2AnnLsh(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val planes: Seq[Seq[Double]] = e.filter(col("vec_id") < 4)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Ann.lshTopK(qs, corpus, 3, planes, multiProbe = true)
      .orderBy("qid", "rank")
  }

  val a2Sql: String =
    s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 4),
       |bk AS (SELECT e.vec_id AS id, e.embedding AS vec,
       |         CAST(SUM(CASE WHEN ${dotSql("e.embedding", "p.pe")} >= 0 THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |       FROM embeddings e CROSS JOIN p GROUP BY e.vec_id, e.embedding),
       |q AS (SELECT b.id AS qid, b.vec AS qvec,
       |        CASE WHEN t.f < 0 THEN b.bucket
       |             ELSE xor(b.bucket, CAST(1 AS BIGINT) << t.f) END AS qbucket
       |      FROM bk b, range(-1, 4) t(f) WHERE b.id < 5),
       |s AS (SELECT q.qid, c.id, ${cosSql("q.qvec", "c.vec")} AS sim
       |      FROM bk c JOIN q ON c.bucket = q.qbucket WHERE c.id <> q.qid),
       |r AS (SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM s)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor, round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Query-TABLE ANN ([[Ann.lshTopKJoin]]): the RAG shape — a 50-row
    * query TABLE scored against the corpus through a shuffle hash
    * equi-join on the LSH bucket, with the query side never broadcast
    * (plan-asserted: no BroadcastExchange anywhere). Same bucketing and
    * multi-probe as a2, so the oracle is a2's SQL at the bigger query
    * set; at 100 TB this is the plan that survives a 10M-row query set
    * where a2's broadcast form cannot. */
  def a6AnnQueryTable(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val planes: Seq[Seq[Double]] = e.filter(col("vec_id") < 4)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val qs = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val out = Ann.lshTopKJoin(qs, corpus, 3, planes, multiProbe = true)
      .orderBy("qid", "rank")
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastExchange"),
      s"query side must not be broadcast:\n$plan")
    out
  }

  /** Query-table ANN, IVF flavor ([[Ann.ivfTopKJoin]]): 50 queries as a
    * distributed table probing 2 cells of the seed centroid set, candidate
    * join as a shuffle hash equi-join on cid — plan-asserted no broadcast
    * of either join side (the a6 contract, different index geometry). */
  /** Product-quantized ADC top-k ([[graft.operators.Pq]]): 4 subspaces ×
    * 16 codewords (subvectors of the first 16 corpus vectors), corpus
    * encoded to 4 int codes map-side, queries score by asymmetric
    * distance (4 table lookups + 3 adds per pair). Distances fold
    * left-to-right in double arithmetic so the oracle replays encode +
    * ADC bit-exactly; codeword ties break to the lower code id. */
  def a8PqTopK(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val codebooks = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.operators.Pq.adcTopK(qs, corpus, codebooks, subDim = 16, k = 3)
      .orderBy("qid", "rank")
  }

  val a8Sql: String = {
    // L2² between subspace m of vector a and codeword row c, both read
    // from the FULL embedding at offset m*16 — same left fold as Spark's
    // aggregate HOF
    def l2(a: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)) *
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)))), (x,y) -> x+y)""".stripMargin
    s"""WITH cw AS (SELECT ms.m, e.vec_id AS j, e.embedding AS full
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |enc AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw c),
       |codes AS (SELECT id,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id),
       |qd AS (SELECT q.vec_id AS qid, c.m, c.j, ${l2("q")} AS d
       |  FROM embeddings q CROSS JOIN cw c WHERE q.vec_id < 5),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN qd d0 ON d0.m = 0 AND d0.j = codes.j0
       |  JOIN qd d1 ON d1.m = 1 AND d1.j = codes.j1 AND d1.qid = d0.qid
       |  JOIN qd d2 ON d2.m = 2 AND d2.j = codes.j2 AND d2.qid = d0.qid
       |  JOIN qd d3 ON d3.m = 3 AND d3.j = codes.j3 AND d3.qid = d0.qid
       |  WHERE codes.id <> d0.qid),
       |r AS (SELECT qid, id, adist, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(adist, 4) AS adist
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** IVF+PQ search ([[graft.operators.Pq.ivfAdcTopK]]): the a8 codebooks
    * plus a 5-cell coarse quantizer (seed vectors, as a7); each query
    * probes its 2 nearest cells and ADC-scores only those cells'
    * candidates through a shuffle hash join on cid — the stored index is
    * (id, cid, 4 codes), built in one map-side pass. */
  def a9IvfPqTopK(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val codebooks = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.operators.Pq.ivfAdcTopK(qs, corpus, cents, codebooks,
      subDim = 16, nprobe = 2, k = 3)
      .orderBy("qid", "rank")
  }

  val a9Sql: String = {
    def l2sub(a: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)) *
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)))), (x,y) -> x+y)""".stripMargin
    val l2full =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len(e.embedding) + 1), i ->
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    s"""WITH cw AS (SELECT ms.m, e.vec_id AS j, e.embedding AS full
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |enc AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2sub("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw c),
       |codes AS (SELECT id,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id),
       |cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 100 = 0),
       |celld AS (SELECT e.vec_id AS id, c.cid, $l2full AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |cella AS (SELECT id, cid FROM (SELECT id, cid, ROW_NUMBER() OVER (
       |    PARTITION BY id ORDER BY d, cid) AS rn FROM celld) WHERE rn = 1),
       |qprobe AS (SELECT id AS qid, cid FROM (SELECT id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM celld WHERE id < 5) WHERE rn <= 2),
       |qd AS (SELECT q.vec_id AS qid, c.m, c.j, ${l2sub("q")} AS d
       |  FROM embeddings q CROSS JOIN cw c WHERE q.vec_id < 5),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN cella ON cella.id = codes.id
       |  JOIN qprobe ON qprobe.cid = cella.cid
       |  JOIN qd d0 ON d0.m = 0 AND d0.j = codes.j0 AND d0.qid = qprobe.qid
       |  JOIN qd d1 ON d1.m = 1 AND d1.j = codes.j1 AND d1.qid = d0.qid
       |  JOIN qd d2 ON d2.m = 2 AND d2.j = codes.j2 AND d2.qid = d0.qid
       |  JOIN qd d3 ON d3.m = 3 AND d3.j = codes.j3 AND d3.qid = d0.qid
       |  WHERE codes.id <> d0.qid),
       |r AS (SELECT qid, id, adist, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(adist, 4) AS adist
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** PQ recall gate ([[graft.operators.Pq.adcRerankTopK]] vs
    * [[graft.operators.Pq.bruteL2TopK]]): the production two-stage
    * pipeline — ADC prunes to a 50-deep shortlist, exact L2 re-ranks —
    * must recover >= 50% of the true L2 top-3 (untrained seed codebooks;
    * quantization error affects shortlist membership only, so recall
    * here IS shortlist coverage). Mirrors a5's per-family floor
    * contract. */
  def a10PqRecall(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val codebooks = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rr = graft.operators.Pq
      .adcRerankTopK(qs, corpus, codebooks, subDim = 16, shortlist = 50,
        k = 3)
      .select(col("qid"), col("neighbor"))
    val truth = graft.operators.Pq.bruteL2TopK(qs, corpus, 3)
      .select(col("qid"), col("neighbor"))
    val floor = 0.5
    truth.join(rr, Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("pq_rerank").as("method"), col("n_hits"), col("n_truth"),
        round(col("n_hits").cast("double") / col("n_truth"), 4)
          .as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a10Sql: String = {
    def l2sub(a: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)) *
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)))), (x,y) -> x+y)""".stripMargin
    def l2pair(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i ->
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    s"""WITH cw AS (SELECT ms.m, e.vec_id AS j, e.embedding AS full
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |enc AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2sub("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw c),
       |codes AS (SELECT id,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id),
       |qd AS (SELECT q.vec_id AS qid, c.m, c.j, ${l2sub("q")} AS d
       |  FROM embeddings q CROSS JOIN cw c WHERE q.vec_id < 5),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN qd d0 ON d0.m = 0 AND d0.j = codes.j0
       |  JOIN qd d1 ON d1.m = 1 AND d1.j = codes.j1 AND d1.qid = d0.qid
       |  JOIN qd d2 ON d2.m = 2 AND d2.j = codes.j2 AND d2.qid = d0.qid
       |  JOIN qd d3 ON d3.m = 3 AND d3.j = codes.j3 AND d3.qid = d0.qid
       |  WHERE codes.id <> d0.qid),
       |sl AS (SELECT qid, id FROM (SELECT qid, id, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |  WHERE rank <= 50),
       |rr AS (SELECT qid, id FROM (SELECT s.qid, s.id, ROW_NUMBER() OVER (
       |    PARTITION BY s.qid ORDER BY
       |      ${l2pair("q.embedding", "e.embedding")}, s.id) AS rank
       |  FROM sl s JOIN embeddings q ON q.vec_id = s.qid
       |    JOIN embeddings e ON e.vec_id = s.id) WHERE rank <= 3),
       |truth AS (SELECT qid, id FROM (SELECT q.vec_id AS qid,
       |    e.vec_id AS id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${l2pair("q.embedding", "e.embedding")}, e.vec_id)
       |      AS rank
       |  FROM embeddings e CROSS JOIN embeddings q
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rank <= 3),
       |h AS (SELECT count(*) AS n_hits FROM rr
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = rr.qid AND t.id = rr.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'pq_rerank' AS method, h.n_hits, tt.n_truth,
       |  round(h.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.5 AS DOUBLE) AS floor,
       |  (h.n_hits::DOUBLE / tt.n_truth >= 0.5) AS recall_ok
       |FROM h, tt""".stripMargin
  }

  /** Trained-PQ recall gate ([[graft.operators.Pq.trainCodebooks]] →
    * [[graft.operators.Pq.adcRerankTopK]]): one per-subspace Lloyd
    * iteration over the corpus (means rounded to 4 decimals — the
    * kmeansRefine replayability discipline) lifts shortlist-50 coverage
    * from 0.6 (a10's seed codebooks) to ~0.87 here; floor 0.7. The
    * oracle unrolls the training iteration — assignment, per-component
    * rounded means, lost-cell carryover — then replays the full a10
    * pipeline against the trained codewords. */
  def a11PqTrainedRecall(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val init = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val trained = graft.operators.Pq
      .trainCodebooks(corpus, init, subDim = 16, iters = 1)
    val rr = graft.operators.Pq
      .adcRerankTopK(qs, corpus, trained, subDim = 16, shortlist = 50,
        k = 3)
      .select(col("qid"), col("neighbor"))
    val truth = graft.operators.Pq.bruteL2TopK(qs, corpus, 3)
      .select(col("qid"), col("neighbor"))
    val floor = 0.7
    truth.join(rr, Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("pq_trained").as("method"), col("n_hits"), col("n_truth"),
        round(col("n_hits").cast("double") / col("n_truth"), 4)
          .as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a11Sql: String = {
    def l2cv(a: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) - c.cv[i]) *
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) - c.cv[i]))),
         |  (x,y) -> x+y)""".stripMargin
    def l2pair(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i ->
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    s"""WITH cw0 AS (SELECT ms.m, e.vec_id AS j,
       |    list_transform(e.embedding[ms.m*16+1 : ms.m*16+16],
       |      x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |en0 AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2cv("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw0 c),
       |mean1 AS (SELECT a.m, a.j, p.i,
       |    round(avg(CAST(e.embedding[a.m*16 + p.i] AS DOUBLE)), 4) AS mv
       |  FROM en0 a JOIN embeddings e ON e.vec_id = a.id
       |  CROSS JOIN range(1, 17) AS p(i)
       |  WHERE a.rn = 1 GROUP BY 1, 2, 3),
       |agg1 AS (SELECT m, j, list(mv ORDER BY i) AS cv FROM mean1
       |  GROUP BY m, j),
       |cw AS (SELECT c.m, c.j, COALESCE(t.cv, c.cv) AS cv FROM cw0 c
       |  LEFT JOIN agg1 t ON t.m = c.m AND t.j = c.j),
       |enc AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2cv("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw c),
       |codes AS (SELECT id,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id),
       |qd AS (SELECT q.vec_id AS qid, c.m, c.j, ${l2cv("q")} AS d
       |  FROM embeddings q CROSS JOIN cw c WHERE q.vec_id < 5),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN qd d0 ON d0.m = 0 AND d0.j = codes.j0
       |  JOIN qd d1 ON d1.m = 1 AND d1.j = codes.j1 AND d1.qid = d0.qid
       |  JOIN qd d2 ON d2.m = 2 AND d2.j = codes.j2 AND d2.qid = d0.qid
       |  JOIN qd d3 ON d3.m = 3 AND d3.j = codes.j3 AND d3.qid = d0.qid
       |  WHERE codes.id <> d0.qid),
       |sl AS (SELECT qid, id FROM (SELECT qid, id, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |  WHERE rank <= 50),
       |rr AS (SELECT qid, id FROM (SELECT s.qid, s.id, ROW_NUMBER() OVER (
       |    PARTITION BY s.qid ORDER BY
       |      ${l2pair("q.embedding", "e.embedding")}, s.id) AS rank
       |  FROM sl s JOIN embeddings q ON q.vec_id = s.qid
       |    JOIN embeddings e ON e.vec_id = s.id) WHERE rank <= 3),
       |truth AS (SELECT qid, id FROM (SELECT q.vec_id AS qid,
       |    e.vec_id AS id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${l2pair("q.embedding", "e.embedding")}, e.vec_id)
       |      AS rank
       |  FROM embeddings e CROSS JOIN embeddings q
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rank <= 3),
       |h AS (SELECT count(*) AS n_hits FROM rr
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = rr.qid AND t.id = rr.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'pq_trained' AS method, h.n_hits, tt.n_truth,
       |  round(h.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.7 AS DOUBLE) AS floor,
       |  (h.n_hits::DOUBLE / tt.n_truth >= 0.7) AS recall_ok
       |FROM h, tt""".stripMargin
  }

  def a7AnnIvfQueryTable(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val init = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = Ann.ivfTopKJoin(qs, corpus, init, k = 3, nprobe = 2)
      .orderBy("qid", "rank")
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastExchange"),
      s"query side must not be broadcast:\n$plan")
    out
  }

  val a7Sql: String =
    s"""WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |cells AS (SELECT id, vec, cid FROM (
       |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
       |probes AS (SELECT qid, qvec, cid FROM (
       |  SELECT e.vec_id AS qid, e.embedding AS qvec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c0 c WHERE e.vec_id < 50)
       |  WHERE rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  val a6Sql: String =
    s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 4),
       |bk AS (SELECT e.vec_id AS id, e.embedding AS vec,
       |         CAST(SUM(CASE WHEN ${dotSql("e.embedding", "p.pe")} >= 0 THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |       FROM embeddings e CROSS JOIN p GROUP BY e.vec_id, e.embedding),
       |q AS (SELECT b.id AS qid, b.vec AS qvec,
       |        CASE WHEN t.f < 0 THEN b.bucket
       |             ELSE xor(b.bucket, CAST(1 AS BIGINT) << t.f) END AS qbucket
       |      FROM bk b, range(-1, 4) t(f) WHERE b.id < 50),
       |s AS (SELECT q.qid, c.id, ${cosSql("q.qvec", "c.vec")} AS sim
       |      FROM bk c JOIN q ON c.bucket = q.qbucket WHERE c.id <> q.qid),
       |r AS (SELECT qid, id, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM s)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor, round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** IVF ANN: deterministic stride-sampled centroids (vec_id % 100 == 0),
    * nearest-cell assignment, nprobe=2 search. */
  def a3AnnIvf(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Ann.ivfTopK(qs, corpus, centroids, k = 3, nprobe = 2)
      .orderBy("qid", "rank")
  }

  val a3Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 100 = 0),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |        FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT id AS qid, vec AS qvec, cid FROM asg
       |           WHERE id < 5 AND rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** k-NN-GRAPH-refined ANN ([[graft.operators.Pq.adcGraphExpandTopK]])
    * — the graph family the LSH/IVF/PQ ladder lacked: a degree-4 k-NN
    * graph built inside IVF cells (bounded candidate join, the d16
    * discipline — never all-pairs; degree 8), then a SMALL ADC
    * shortlist (12, vs a10's 50) expands through ONE graph hop before
    * the exact re-rank. Two rows: the un-expanded shortlist-12 baseline
    * and the graph-expanded result on the same truth set — the hop's
    * recall LIFT at equal seed budget is the point (measured
    * 0.33-0.47 → 0.60-0.67 across the three SFs), and the expanded
    * floor 0.55 sits above a10's 0.5. Oracle replays cell assignment,
    * graph edges, expansion, and both re-ranks. */
  def a21GraphRecall(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val codebooks = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // staged: truth is consumed FOUR times below (semi-join probe +
    // denominator count, per method) — one brute pass, not four
    val truth = graft.Tables.stage(
      graft.operators.Pq.bruteL2TopK(qs, corpus, 3)
        .select(col("qid"), col("neighbor")), "graft-a21-truth")
    // the ADC shortlist-12 is BOTH methods' seed (adcRerankTopK and
    // adcGraphExpandTopK ran the identical encode + ADC + window pass
    // twice) — staged once, fed to the composable second stages (r17,
    // guide §7.2 duplicated subtrees; results identical by construction)
    val seed = graft.Tables.stage(
      graft.operators.Pq.adcTopK(qs, corpus, codebooks, subDim = 16,
          k = 12)
        .select(col("qid"), col("neighbor")), "graft-a21-seed")
    val base = graft.operators.Pq.rerankTopK(seed, qs, corpus, k = 3)
      .select(col("qid"), col("neighbor"))
    val expanded = graft.operators.Pq
      .graphExpandRerank(seed, qs, corpus, cents, deg = 8, k = 3)
      .select(col("qid"), col("neighbor"))
    def row(method: String, rr: DataFrame, floor: Double): DataFrame =
      truth.join(rr, Seq("qid", "neighbor"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(method).as("method"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"),
          lit(floor).as("floor"),
          (col("n_hits").cast("double") / col("n_truth") >= floor)
            .as("recall_ok"))
    row("adc_short12", base, 0.2)
      .union(row("graph_hop", expanded, 0.55))
      .orderBy("method")
  }

  val a21Sql: String = {
    def l2sub(a: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)) *
         |    (CAST($a.embedding[c.m*16+i] AS DOUBLE) -
         |       CAST(c.full[c.m*16+i] AS DOUBLE)))), (x,y) -> x+y)""".stripMargin
    def l2pair(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i ->
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |    (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    val l2full =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len(e.embedding) + 1), i ->
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    s"""WITH cw AS (SELECT ms.m, e.vec_id AS j, e.embedding AS full
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |enc AS (SELECT e.vec_id AS id, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id, c.m ORDER BY ${l2sub("e")}, c.j) AS rn
       |  FROM embeddings e CROSS JOIN cw c),
       |codes AS (SELECT id,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id),
       |qd AS (SELECT q.vec_id AS qid, c.m, c.j, ${l2sub("q")} AS d
       |  FROM embeddings q CROSS JOIN cw c WHERE q.vec_id < 5),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN qd d0 ON d0.m = 0 AND d0.j = codes.j0
       |  JOIN qd d1 ON d1.m = 1 AND d1.j = codes.j1 AND d1.qid = d0.qid
       |  JOIN qd d2 ON d2.m = 2 AND d2.j = codes.j2 AND d2.qid = d0.qid
       |  JOIN qd d3 ON d3.m = 3 AND d3.j = codes.j3 AND d3.qid = d0.qid
       |  WHERE codes.id <> d0.qid),
       |sl AS (SELECT qid, id FROM (SELECT qid, id, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |  WHERE rank <= 12),
       |cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 100 = 0),
       |celld AS (SELECT e.vec_id AS id, c.cid, $l2full AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |cella AS (SELECT id, cid FROM (SELECT id, cid, ROW_NUMBER() OVER (
       |    PARTITION BY id ORDER BY d, cid) AS rn FROM celld) WHERE rn = 1),
       |g AS (SELECT id, nbr FROM (SELECT a.id, b.id AS nbr,
       |    ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
       |      ${l2pair("ea.embedding", "eb.embedding")}, b.id) AS rn
       |  FROM cella a JOIN cella b ON a.cid = b.cid AND a.id <> b.id
       |    JOIN embeddings ea ON ea.vec_id = a.id
       |    JOIN embeddings eb ON eb.vec_id = b.id) WHERE rn <= 8),
       |cand AS (SELECT DISTINCT qid, id FROM (
       |    SELECT qid, id FROM sl
       |    UNION ALL
       |    SELECT sl.qid, g.nbr AS id FROM sl JOIN g ON g.id = sl.id)
       |  WHERE qid <> id),
       |rr AS (SELECT qid, id FROM (SELECT cd.qid, cd.id, ROW_NUMBER()
       |    OVER (PARTITION BY cd.qid ORDER BY
       |      ${l2pair("q.embedding", "e.embedding")}, cd.id) AS rank
       |  FROM cand cd JOIN embeddings q ON q.vec_id = cd.qid
       |    JOIN embeddings e ON e.vec_id = cd.id) WHERE rank <= 3),
       |base AS (SELECT qid, id FROM (SELECT s.qid, s.id, ROW_NUMBER()
       |    OVER (PARTITION BY s.qid ORDER BY
       |      ${l2pair("q.embedding", "e.embedding")}, s.id) AS rank
       |  FROM sl s JOIN embeddings q ON q.vec_id = s.qid
       |    JOIN embeddings e ON e.vec_id = s.id) WHERE rank <= 3),
       |truth AS (SELECT qid, id FROM (SELECT q.vec_id AS qid,
       |    e.vec_id AS id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${l2pair("q.embedding", "e.embedding")}, e.vec_id)
       |      AS rank
       |  FROM embeddings e CROSS JOIN embeddings q
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rank <= 3),
       |tt AS (SELECT count(*) AS n_truth FROM truth),
       |hb AS (SELECT count(*) AS n_hits FROM base
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = base.qid AND t.id = base.id)),
       |hg AS (SELECT count(*) AS n_hits FROM rr
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = rr.qid AND t.id = rr.id))
       |SELECT 'adc_short12' AS method, hb.n_hits, tt.n_truth,
       |  round(hb.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.2 AS DOUBLE) AS floor,
       |  (hb.n_hits::DOUBLE / tt.n_truth >= CAST(0.2 AS DOUBLE))
       |    AS recall_ok
       |FROM hb, tt
       |UNION ALL
       |SELECT 'graph_hop' AS method, hg.n_hits, tt.n_truth,
       |  round(hg.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.55 AS DOUBLE) AS floor,
       |  (hg.n_hits::DOUBLE / tt.n_truth >= CAST(0.55 AS DOUBLE))
       |    AS recall_ok
       |FROM hg, tt
       |ORDER BY method""".stripMargin
  }

  /** RESIDUAL IVF+PQ ([[graft.operators.Pq.ivfResidualAdcTopK]]) — the
    * encoding FAISS's IVFPQ actually ships (a9 is the non-residual
    * flavor): vectors quantize `vec − centroid(cell)`, queries build
    * their ADC tables from their own residual against each probed
    * cell's centroid. Same index/probe/join plan as a9; the oracle
    * replays cell assignment, residual computation, residual encode,
    * per-cell query tables, and the ADC ranking — every step the same
    * left-fold double tree. */
  def a22ResidualIvfPq(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val codebooks = e.filter(col("vec_id") < 16)
      .select(explode(sequence(lit(0), lit(3))).as("m"),
        col("vec_id").cast("int").as("j"),
        expr("slice(embedding, m * 16 + 1, 16)").as("cvec"))
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.operators.Pq.ivfResidualAdcTopK(qs, corpus, cents, codebooks,
      subDim = 16, nprobe = 2, k = 3)
      .orderBy("qid", "rank")
  }

  val a22Sql: String = {
    def l2res(rv: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 17), i ->
         |    ($rv[c.m*16+i] - CAST(c.full[c.m*16+i] AS DOUBLE)) *
         |    ($rv[c.m*16+i] - CAST(c.full[c.m*16+i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    val l2full =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len(e.embedding) + 1), i ->
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
         |    (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
         |  (x,y) -> x+y)""".stripMargin
    s"""WITH cw AS (SELECT ms.m, e.vec_id AS j, e.embedding AS full
       |  FROM embeddings e, (VALUES (0),(1),(2),(3)) AS ms(m)
       |  WHERE e.vec_id < 16),
       |cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 100 = 0),
       |celld AS (SELECT e.vec_id AS id, c.cid, $l2full AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |cella AS (SELECT id, cid FROM (SELECT id, cid, ROW_NUMBER() OVER (
       |    PARTITION BY id ORDER BY d, cid) AS rn FROM celld) WHERE rn = 1),
       |rv AS (SELECT a.id, a.cid,
       |    list_transform(range(1, 65), i ->
       |      CAST(e.embedding[i] AS DOUBLE) - CAST(ct.cvec[i] AS DOUBLE))
       |      AS r
       |  FROM cella a JOIN embeddings e ON e.vec_id = a.id
       |    JOIN cents ct ON ct.cid = a.cid),
       |enc AS (SELECT rv.id, rv.cid, c.m, c.j, ROW_NUMBER() OVER (
       |    PARTITION BY rv.id, c.m ORDER BY ${l2res("rv.r")}, c.j) AS rn
       |  FROM rv CROSS JOIN cw c),
       |codes AS (SELECT id, cid,
       |    MAX(CASE WHEN m = 0 THEN j END) AS j0,
       |    MAX(CASE WHEN m = 1 THEN j END) AS j1,
       |    MAX(CASE WHEN m = 2 THEN j END) AS j2,
       |    MAX(CASE WHEN m = 3 THEN j END) AS j3
       |  FROM enc WHERE rn = 1 GROUP BY id, cid),
       |qprobe AS (SELECT id AS qid, cid FROM (SELECT id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM celld WHERE id < 5) WHERE rn <= 2),
       |qrv AS (SELECT p.qid, p.cid,
       |    list_transform(range(1, 65), i ->
       |      CAST(q.embedding[i] AS DOUBLE) - CAST(ct.cvec[i] AS DOUBLE))
       |      AS r
       |  FROM qprobe p JOIN embeddings q ON q.vec_id = p.qid
       |    JOIN cents ct ON ct.cid = p.cid),
       |qd AS (SELECT qrv.qid, qrv.cid, c.m, c.j, ${l2res("qrv.r")} AS d
       |  FROM qrv CROSS JOIN cw c),
       |adc AS (SELECT d0.qid, codes.id,
       |    (((d0.d + d1.d) + d2.d) + d3.d) AS adist
       |  FROM codes
       |  JOIN qd d0 ON d0.cid = codes.cid AND d0.m = 0 AND d0.j = codes.j0
       |  JOIN qd d1 ON d1.cid = codes.cid AND d1.qid = d0.qid
       |    AND d1.m = 1 AND d1.j = codes.j1
       |  JOIN qd d2 ON d2.cid = codes.cid AND d2.qid = d0.qid
       |    AND d2.m = 2 AND d2.j = codes.j2
       |  JOIN qd d3 ON d3.cid = codes.cid AND d3.qid = d0.qid
       |    AND d3.m = 3 AND d3.j = codes.j3
       |  WHERE codes.id <> d0.qid),
       |r AS (SELECT qid, id, adist, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, id) AS rank FROM adc)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(adist, 4) AS adist
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** Incremental IVF index MAINTENANCE — the production corpus-growth
    * shape: centroids were trained when only the base corpus existed and
    * are FROZEN; the base postings live on disk partitioned by cell (the
    * real index layout); a new increment is assigned against the frozen
    * centroids and APPENDED — no retraining, no base re-scan. Because IVF
    * assignment is per-row independent, append-only maintenance is
    * lossless: the oracle computes the FULL-REBUILD result over
    * base+increment, and the hash match proves the incremental index
    * answers queries identically. At 100 TB this is the difference
    * between re-indexing the corpus per ingest batch and scanning only
    * the batch. */
  def a12IvfIncremental(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val centroids = e
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def slice2(pred: org.apache.spark.sql.Column) = e.filter(pred)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idxDir = graft.Tables.scratchDir("graft-a12-idx")
    Ann.ivfIndex(slice2(col("vec_id") < 400), centroids)
      .write.partitionBy("cid").mode("overwrite").parquet(idxDir)
    // the increment: assignment scans ONLY the new vectors
    Ann.ivfIndex(slice2(col("vec_id") >= 400), centroids)
      .write.partitionBy("cid").mode("append").parquet(idxDir)
    val postings = sp.read.parquet(idxDir)
      .withColumn("cid", col("cid").cast("long")) // partition-dir inference
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.ivfTopKOnIndex(qs, postings, centroids, k = 3, nprobe = 2)
      .orderBy("qid", "rank")
  }

  val a12Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 100 = 0 AND vec_id < 400),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |        FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT id AS qid, vec AS qvec, cid FROM asg
       |           WHERE id < 5 AND rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** VECTOR-STORE DELETION — the erasure path of the index-maintenance
    * pair (a12 is insertion): a forget-set is purged from the persisted
    * IVF postings by ONE anti-join rewrite and queries run against the
    * purged index. This is q49's right-to-be-forgotten applied to the
    * embedding store — deleting source rows is not erasure while their
    * vectors still answer similarity queries. Scale shape: per-row IVF
    * assignment means the purged index IS the purged rows of the old
    * index (nothing re-trains, centroids stay frozen — the a12/a18
    * property again), and because postings are partitioned by cell, a
    * production rewrite scopes to the AFFECTED cells via dynamic
    * partition overwrite — the gate emits n_cells vs n_affected_cells,
    * the numbers that size that rewrite (with the caveat that a cell
    * whose every member is forgotten needs an explicit empty-partition
    * delete, which dynamic overwrite alone won't produce). The
    * `forgotten` flag per result row is computed by an ACTUAL join
    * against the forget-set — hash-pinned FALSE on every row, so a
    * resurrected vector fails the gate, q49's zero-residual discipline.
    * Audit counts ride broadcast 1-row aggregates. */
  def a27IvfDelete(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idxDir = graft.Tables.scratchDir("graft-a27-idx")
    Ann.ivfIndex(corpus, cents)
      .write.partitionBy("cid").mode("overwrite").parquet(idxDir)
    val postings0 = sp.read.parquet(idxDir)
      .withColumn("cid", col("cid").cast("long"))
    val forget = e.filter(col("vec_id") % 17 === 5)
      .select(col("vec_id").as("fid"))
    // the erasure rewrite: one anti-join, persisted (at scale: scoped to
    // affected cells with partitionOverwriteMode=dynamic)
    val purgedDir = graft.Tables.scratchDir("graft-a27-purged")
    postings0.join(forget, col("id") === col("fid"), "left_anti")
      .write.partitionBy("cid").mode("overwrite").parquet(purgedDir)
    val postings = sp.read.parquet(purgedDir)
      .withColumn("cid", col("cid").cast("long"))
    val audit = postings0
      .join(forget, col("id") === col("fid"), "left")
      .agg(count(when(col("fid").isNotNull, 1)).as("n_deleted"),
        countDistinct(col("cid")).as("n_cells"),
        countDistinct(when(col("fid").isNotNull, col("cid")))
          .as("n_affected_cells"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.ivfTopKOnIndex(qs, postings, cents, k = 3, nprobe = 2)
      .join(forget, col("neighbor") === col("fid"), "left")
      .crossJoin(broadcast(audit))
      .select(col("qid"), col("rank"), col("neighbor"), col("sim"),
        col("fid").isNotNull.as("forgotten"),
        col("n_deleted"), col("n_cells"), col("n_affected_cells"))
      .orderBy("qid", "rank")
  }

  val a27Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid)
       |            AS rn
       |        FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |forget AS (SELECT vec_id AS fid FROM embeddings
       |  WHERE vec_id % 17 = 5),
       |purged AS (SELECT * FROM cells
       |  WHERE id NOT IN (SELECT fid FROM forget)),
       |aud AS (SELECT
       |    CAST((SELECT count(*) FROM cells
       |      WHERE id IN (SELECT fid FROM forget)) AS BIGINT) AS n_deleted,
       |    CAST((SELECT count(DISTINCT cid) FROM cells) AS BIGINT)
       |      AS n_cells,
       |    CAST((SELECT count(DISTINCT cid) FROM cells
       |      WHERE id IN (SELECT fid FROM forget)) AS BIGINT)
       |      AS n_affected_cells),
       |probes AS (SELECT id AS qid, vec AS qvec, cid FROM asg
       |           WHERE id < 5 AND rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM purged c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim, FALSE AS forgotten,
       |  aud.n_deleted, aud.n_cells, aud.n_affected_cells
       |FROM r CROSS JOIN aud WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** FILTERED vector search — the retrieval shape every production vector
    * store exposes (metadata predicate + ANN: "nearest among lang='en'
    * docs"). Two deliberate design points, both scale decisions:
    * (1) PRE-FILTER, not post-filter: at ~44% selectivity, probing cells
    * first and filtering candidates after would silently lose recall
    * (filtered-away candidates still occupy the shortlist); filtering the
    * corpus BEFORE the cell join searches only survivors, and IVF
    * assignment being per-row independent means the filtered index is
    * exactly the filtered rows of the full index — nothing recomputes.
    * (2) The centroid set is trained on (strided from) the FULL corpus
    * and shared across every filter — one frozen index serves all
    * predicates, the a12 maintenance property applied to filtering.
    * The metadata dimension (documents.lang) semi-joins the embedding
    * corpus on vec_id = doc_id; the dim side may broadcast (it is
    * key+predicate only — correct at 100 TB), while the probe join stays
    * a shuffle hash equi-join on cid (spec-asserted). Exact-replayable
    * top-3, so the oracle hash-matches; a5/a10 carry the recall
    * contracts. */
  def a18FilteredIvf(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val enDocs = documents(sp, dir).filter(col("lang") === "en")
      .select(col("doc_id"))
    val corpus = e.join(enDocs, col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.ivfTopKJoin(qs, corpus, cents, k = 3, nprobe = 2)
      .orderBy("qid", "rank")
  }

  val a18Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |        FROM embeddings e CROSS JOIN cent c
       |        WHERE EXISTS (SELECT 1 FROM en WHERE en.doc_id = e.vec_id)),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT qid, qvec, cid FROM (
       |  SELECT e.vec_id AS qid, e.embedding AS qvec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 50 = 0)
       |  WHERE rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** MMR-DIVERSIFIED re-rank ([[Ann.mmrRerank]]) over a brute-force
    * shortlist — the RAG answer-diversity pass: a pure top-k hands the
    * generator k near-duplicate passages; MMR greedily trades relevance
    * against similarity-to-already-selected (λ=0.7), so the 5 returned
    * rows cover 5 distinct regions of the shortlist. Shortlist N=12 from
    * a1's exact scorer (rel pre-rounded there); the greedy runs per-qid
    * inside one task (driver-free, result-sized), and the oracle replays
    * the exact selection sequence with a recursive CTE over a candidate
    * list carrying (id, rel, vec, penalty) — one divergent pick anywhere
    * cascades and fails the hash. */
  def a19MmrRerank(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val short = Ann.bruteForceTopK(qs, corpus, 12)
      .select(col("qid"), col("neighbor").as("id"), col("sim").as("rel"))
    // reattach candidate vectors: shortlist is result-sized, broadcast it
    val withVec = corpus.join(broadcast(short), "id")
    Ann.mmrRerank(withVec, lambda = 0.7, k = 5).orderBy("qid", "mmr_rank")
  }

  val a19Sql: String =
    s"""WITH RECURSIVE q AS (SELECT vec_id AS qid, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT q.qid, e.vec_id AS id,
       |        round(${cosSql("q.qvec", "e.embedding")}, 4) AS rel,
       |        e.embedding AS vec,
       |        ROW_NUMBER() OVER (PARTITION BY q.qid
       |          ORDER BY ${cosSql("q.qvec", "e.embedding")} DESC, e.vec_id)
       |          AS rank
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |init AS (SELECT qid, list(struct_pack(id := id, rel := rel,
       |    vec := vec, pen := CAST(0.0 AS DOUBLE)) ORDER BY id) AS cands
       |  FROM s WHERE rank <= 12 GROUP BY qid),
       |mmr AS (
       |  SELECT qid, CAST(0 AS BIGINT) AS step, CAST(NULL AS BIGINT)
       |      AS pick_id, CAST(NULL AS DOUBLE) AS rel,
       |    CAST(NULL AS DOUBLE) AS mmr_score, cands
       |  FROM init
       |  UNION ALL
       |  SELECT qid, step + 1, (pick).id, (pick).rel,
       |    0.7::DOUBLE * (pick).rel
       |      - (1.0::DOUBLE - 0.7::DOUBLE) * (pick).pen,
       |    list_transform(list_filter(cands, c -> c.id != (pick).id),
       |      c -> struct_pack(id := c.id, rel := c.rel, vec := c.vec,
       |        pen := greatest(c.pen,
       |          round(${cosSql("c.vec", "(pick).vec")}, 4))))
       |  FROM (
       |    SELECT qid, step, cands,
       |      list_filter(cands, c -> c.id = -((bk).i))[1] AS pick
       |    FROM (
       |      SELECT qid, step, cands,
       |        list_aggregate(list_transform(cands,
       |          c -> struct_pack(s := 0.7::DOUBLE * c.rel
       |              - (1.0::DOUBLE - 0.7::DOUBLE) * c.pen,
       |            i := -c.id)), 'max') AS bk
       |      FROM mmr WHERE step < 5 AND len(cands) > 0)))
       |SELECT qid, CAST(step AS INT) AS mmr_rank, pick_id AS neighbor,
       |  rel, mmr_score
       |FROM mmr WHERE step > 0 ORDER BY qid, mmr_rank""".stripMargin

  /** END-TO-END RAG retrieval composition — the full retrieval stack as
    * ONE pipeline over a 3-query batch, so the stage INTERFACES are
    * pinned the way t41 pins the curation chain:
    *
    *   chunk (t26 geometry) -> per-query BM25 over chunks (t13
    *   arithmetic, batch form) + dense ranker (chunks inherit the
    *   parent document's embedding — the doc-level dense prior) ->
    *   reciprocal-rank fusion (t27, batch mode on qid) -> MMR
    *   diversity re-rank (a19) of the fused shortlist.
    *
    * Chunks get a global key cid = doc_id*1000 + chunk_idx (chunk
    * counts are len/8-ish, far under 1000). The lexical candidate set
    * is posting-bounded (only chunks containing a query term score),
    * so the per-qid rank window sorts posting-sized groups; the dense
    * leg is the a1 brute-force-baseline shape (the IVF path a3/a17 is
    * the scale swap-in). RRF needs no score calibration; MMR's rel is
    * the raw RRF score mapped onto the penalty's [0,1] scale
    * (x 30.5 = 61/2, the two-system RRF maximum) and rounded(4) like
    * a19's rel. Because all chunks of one document share its embedding,
    * a selected chunk pins its siblings' penalty at cos=1.0 — MMR
    * provably forces CROSS-DOCUMENT diversity in the final context
    * pack. One DuckDB oracle replays the entire fused ranking
    * end-to-end, recursion included. */
  def a20RagPipeline(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import sp.implicits._
    // stage 1 — chunk the corpus once, materialized (three consumers:
    // lexical explode, dense join, shortlist vector reattach)
    val ch = graft.Tables.stage(graft.operators.Chunk
      .overlapping(documents(sp, dir), col("text"), col("doc_id"), 16, 8)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
        col("doc_id"), col("n_tokens").as("dl"), col("chunk")),
      "graft-a20-ch")
    // stage 2a — lexical: per-query BM25 (qid x tidx keyed, so the
    // 3-term sum recombines in fixed (s0+s1)+s2 order — IEEE parity)
    val termsDf = Seq(
      (0L, 0, "join"), (0L, 1, "vector"), (0L, 2, "stream"),
      (1L, 0, "big"), (1L, 1, "order"), (1L, 2, "scan"),
      (2L, 0, "window"), (2L, 1, "merge"), (2L, 2, "sort"))
      .toDF("qid", "tidx", "term")
    val stats = ch.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = ch.select(col("cid"), explode(Text.tokens(col("chunk"))).as("t"))
      .join(broadcast(termsDf), col("t") === col("term"))
      .groupBy(col("qid"), col("tidx"), col("cid"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("qid"), col("tidx"))
      .agg(count(lit(1)).as("df"))
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    val idf = ((col("n") - col("df")).cast("double") + 0.5) /
      (col("df").cast("double") + 0.5)
    val tfd = col("tf").cast("double")
    val tfn = (tfd * 2.2) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / avgdl)))
    val contrib = tf
      .join(ch.select(col("cid"), col("dl")), "cid")
      .join(broadcast(dfs), Seq("qid", "tidx"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("cid"), col("tidx"), (idf * tfn).as("c"))
    val sc = contrib.groupBy(col("qid"), col("cid"))
      .agg(sum(when(col("tidx") === 0, col("c"))).as("s0"),
        sum(when(col("tidx") === 1, col("c"))).as("s1"),
        sum(when(col("tidx") === 2, col("c"))).as("s2"))
      .select(col("qid"), col("cid"),
        ((coalesce(col("s0"), lit(0.0)) + coalesce(col("s1"), lit(0.0))) +
          coalesce(col("s2"), lit(0.0))).as("score"))
    val lexW = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("cid"))
    val lex = sc.withColumn("rank", row_number().over(lexW))
      .filter(col("rank") <= 20)
      .select(col("qid"), col("cid").as("doc_id"), col("rank"))
    // stage 2b — dense: cosine to the query embedding, doc-level prior
    val qv = embeddings(sp, dir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .withColumn("__nq", Vectors.norm2(col("qvec")))
    val dv = embeddings(sp, dir)
      .select(col("vec_id").as("doc_id"), col("embedding").as("dvec"))
    val dsim = ch.select(col("cid"), col("doc_id")).join(dv, "doc_id")
      .withColumn("__nv", Vectors.norm2(col("dvec")))
      .crossJoin(broadcast(qv))
      .select(col("qid"), col("cid"),
        (Vectors.dot(col("qvec"), col("dvec")) /
          (col("__nq") * col("__nv"))).as("sim"))
    val denseW = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("cid"))
    val dense = dsim.withColumn("rank", row_number().over(denseW))
      .filter(col("rank") <= 20)
      .select(col("qid"), col("cid").as("doc_id"), col("rank"))
    // stage 3 — RRF fusion, 12-deep shortlist per query
    val fused = graft.operators.Retrieval.rrfFuse(
      Seq("lex" -> lex, "dense" -> dense), k = 60, topK = 12,
      queryKeys = Seq("qid"))
    // stage 4 — MMR over the fused shortlist (result-sized: broadcast)
    val short = fused.select(col("qid"), col("doc_id").as("id"),
      round(col("rrf") * 30.5, 4).as("rel"))
    val shortDocs = ch.select(col("cid").as("id"), col("doc_id"))
      .join(broadcast(short), "id")
    val withVec = dv.join(broadcast(shortDocs), "doc_id")
      .select(col("qid"), col("id"), col("rel"), col("dvec").as("vec"))
    Ann.mmrRerank(withVec, lambda = 0.7, k = 5).orderBy("qid", "mmr_rank")
  }

  val a20Sql: String =
    s"""WITH RECURSIVE toksC AS (SELECT doc_id, string_split(text, ' ') AS l
       |  FROM documents),
       |ch AS (SELECT doc_id, doc_id * 1000 + i AS cid,
       |    array_to_string(l[i*8+1:i*8+16], ' ') AS chunk,
       |    len(l[i*8+1:i*8+16]) AS dl
       |  FROM toksC, LATERAL unnest(range(0, CAST(
       |    1 + floor((greatest(len(l)-16,0)+7)/8) AS BIGINT))) AS t(i)),
       |terms(qid, tidx, term) AS (VALUES
       |  (0, 0, 'join'), (0, 1, 'vector'), (0, 2, 'stream'),
       |  (1, 0, 'big'), (1, 1, 'order'), (1, 2, 'scan'),
       |  (2, 0, 'window'), (2, 1, 'merge'), (2, 2, 'sort')),
       |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM ch),
       |hits AS (SELECT cid, unnest(string_split(chunk, ' ')) AS t FROM ch),
       |tf AS (SELECT q.qid, q.tidx, h.cid, count(*) AS tf
       |  FROM hits h JOIN terms q ON h.t = q.term GROUP BY 1, 2, 3),
       |dfs AS (SELECT qid, tidx, count(*) AS df FROM tf GROUP BY 1, 2),
       |contrib AS (SELECT tf.qid, tf.cid, tf.tidx,
       |    ((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |    ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) +
       |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
       |        (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS c
       |  FROM tf JOIN ch USING (cid)
       |  JOIN dfs ON tf.qid = dfs.qid AND tf.tidx = dfs.tidx
       |  CROSS JOIN stats),
       |sc AS (SELECT qid, cid,
       |    COALESCE(SUM(CASE WHEN tidx = 0 THEN c END), 0.0) AS s0,
       |    COALESCE(SUM(CASE WHEN tidx = 1 THEN c END), 0.0) AS s1,
       |    COALESCE(SUM(CASE WHEN tidx = 2 THEN c END), 0.0) AS s2
       |  FROM contrib GROUP BY qid, cid),
       |lex AS (SELECT qid, cid, CAST(rn AS INT) AS lex_rank FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY ((s0 + s1) + s2) DESC, cid) AS rn FROM sc)
       |  WHERE rn <= 20),
       |qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |  WHERE vec_id < 3),
       |dv AS (SELECT vec_id AS doc_id, embedding AS dvec FROM embeddings),
       |ds AS (SELECT qv.qid, ch.cid, ${cosSql("qv.qvec", "dv.dvec")} AS sim
       |  FROM ch JOIN dv USING (doc_id) CROSS JOIN qv),
       |dense AS (SELECT qid, cid, CAST(rn AS INT) AS dense_rank FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, cid) AS rn FROM ds)
       |  WHERE rn <= 20),
       |fusedAll AS (SELECT COALESCE(l.qid, d.qid) AS qid,
       |    COALESCE(l.cid, d.cid) AS cid,
       |    (COALESCE(CAST(1.0 AS DOUBLE) /
       |        (CAST(60 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE)), 0.0) +
       |     COALESCE(CAST(1.0 AS DOUBLE) /
       |        (CAST(60 AS DOUBLE) + CAST(d.dense_rank AS DOUBLE)), 0.0))
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN dense d
       |    ON l.qid = d.qid AND l.cid = d.cid),
       |fused AS (SELECT qid, cid, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY rrf DESC, cid) AS rn FROM fusedAll)
       |  WHERE rn <= 12),
       |init AS (SELECT f.qid, list(struct_pack(id := f.cid,
       |    rel := round(f.rrf * CAST(30.5 AS DOUBLE), 4), vec := dv.dvec,
       |    pen := CAST(0.0 AS DOUBLE)) ORDER BY f.cid) AS cands
       |  FROM fused f JOIN ch ON ch.cid = f.cid
       |  JOIN dv ON dv.doc_id = ch.doc_id
       |  GROUP BY f.qid),
       |mmr AS (
       |  SELECT qid, CAST(0 AS BIGINT) AS step, CAST(NULL AS BIGINT)
       |      AS pick_id, CAST(NULL AS DOUBLE) AS rel,
       |    CAST(NULL AS DOUBLE) AS mmr_score, cands
       |  FROM init
       |  UNION ALL
       |  SELECT qid, step + 1, (pick).id, (pick).rel,
       |    0.7::DOUBLE * (pick).rel
       |      - (1.0::DOUBLE - 0.7::DOUBLE) * (pick).pen,
       |    list_transform(list_filter(cands, c -> c.id != (pick).id),
       |      c -> struct_pack(id := c.id, rel := c.rel, vec := c.vec,
       |        pen := greatest(c.pen,
       |          round(${cosSql("c.vec", "(pick).vec")}, 4))))
       |  FROM (
       |    SELECT qid, step, cands,
       |      list_filter(cands, c -> c.id = -((bk).i))[1] AS pick
       |    FROM (
       |      SELECT qid, step, cands,
       |        list_aggregate(list_transform(cands,
       |          c -> struct_pack(s := 0.7::DOUBLE * c.rel
       |              - (1.0::DOUBLE - 0.7::DOUBLE) * c.pen,
       |            i := -c.id)), 'max') AS bk
       |      FROM mmr WHERE step < 5 AND len(cands) > 0)))
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(step AS INT) AS mmr_rank,
       |  pick_id AS neighbor, rel, mmr_score
       |FROM mmr WHERE step > 0 ORDER BY qid, mmr_rank""".stripMargin

  /** IVF with seeded k-means refinement (2 Lloyd iterations over the stride
    * sample), then the same nprobe search as a3. The oracle unrolls both
    * iterations in SQL — possible because the refinement rounds each
    * component mean (see Ann.kmeansRefine). */
  def a4AnnIvfKmeans(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val init = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val refined = Ann.kmeansRefine(corpus, init, iters = 2)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.ivfTopK(qs, corpus, refined, k = 3, nprobe = 2)
      .orderBy("qid", "rank")
  }

  val a4Sql: String = {
    val dim = 64
    def assignCte(cent: String, out: String) =
      s"""$out AS (SELECT id, vec, cid FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def meanCte(asg: String, prev: String, out: String) =
      s"""${out}m AS (SELECT cid, list(m ORDER BY pos) AS mvec FROM (
         |  SELECT cid, pos, round(avg(vec[pos]), 4) AS m
         |  FROM $asg, range(1, ${dim + 1}) t(pos) GROUP BY cid, pos)
         |  GROUP BY cid),
         |$out AS (SELECT p.cid, coalesce(m.mvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN ${out}m m ON p.cid = m.cid)""".stripMargin
    s"""WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |${assignCte("c0", "a1")},
       |${meanCte("a1", "c0", "c1")},
       |${assignCte("c1", "a2")},
       |${meanCte("a2", "c1", "c2")},
       |${assignCte("c2", "cells")},
       |probes AS (SELECT qid, qvec, cid FROM (
       |  SELECT e.vec_id AS qid, e.embedding AS qvec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c2 c WHERE e.vec_id < 5)
       |  WHERE rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** Recall gate for the approximate ANN paths: recall@3 of a2 (LSH), a3
    * (IVF) and a4 (k-means IVF) against the exact brute-force top-3 on the
    * same queries — the metric that decides whether an index is usable,
    * now tracked per round. `recall_ok` asserts a PER-FAMILY floor (a
    * single shared floor would let an IVF regression hide behind LSH
    * headroom — or vice versa): multi-probe LSH must clear 0.6, both IVF
    * paths 0.8 at nprobe=2. The oracle recomputes all four pipelines in SQL
    * (CTE-composed from the a1-a4 oracles), so the recall numbers AND the
    * floors themselves are hash-verified. */
  private val RecallFloors: Seq[(String, Double)] =
    Seq("ivf" -> 0.8, "ivf_kmeans" -> 0.8, "lsh" -> 0.6)

  def a5AnnRecall(sp: SparkSession, dir: String): DataFrame = {
    // materialize the exact truth set once: it is referenced twice per
    // method (semi-join probe + denominator count) and would otherwise
    // re-run the whole brute-force pipeline ~6x
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a5-truth")
    val methods = Seq(
      ("ivf", a3AnnIvf(sp, dir)),
      ("ivf_kmeans", a4AnnIvfKmeans(sp, dir)),
      ("lsh", a2AnnLsh(sp, dir)))
    val floors = RecallFloors.toMap
    methods.map { case (name, res) =>
      val floor = floors(name)
      truth.join(res.select(col("qid"), col("neighbor")),
          Seq("qid", "neighbor"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(name).as("method"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"),
          lit(floor).as("floor"),
          (col("n_hits").cast("double") / col("n_truth") >= floor)
            .as("recall_ok"))
    }.reduce(_ union _).orderBy("method")
  }

  val a5Sql: String = {
    val floorRows = RecallFloors
      .map { case (m, f) => s"('$m', CAST($f AS DOUBLE))" }.mkString(", ")
    s"""WITH truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |m AS (
       |  SELECT 'lsh' AS method, qid, neighbor FROM ($a2Sql)
       |  UNION ALL SELECT 'ivf', qid, neighbor FROM ($a3Sql)
       |  UNION ALL SELECT 'ivf_kmeans', qid, neighbor FROM ($a4Sql)),
       |names(method, floor) AS (VALUES $floorRows),
       |h AS (SELECT method, count(*) AS hits FROM m
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = m.qid AND t.neighbor = m.neighbor)
       |  GROUP BY method),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT names.method, coalesce(h.hits, 0) AS n_hits, tt.n_truth,
       |  round(coalesce(h.hits, 0)::DOUBLE / tt.n_truth, 4) AS recall,
       |  names.floor,
       |  (coalesce(h.hits, 0)::DOUBLE / tt.n_truth >= names.floor)
       |    AS recall_ok
       |FROM names LEFT JOIN h ON h.method = names.method CROSS JOIN tt
       |ORDER BY 1""".stripMargin
  }

  /** MULTI-ASSIGNMENT IVF ([[graft.operators.Ann.ivfIndexMulti]]) — the
    * FAISS "spilled postings" trick measured head-to-head: the corpus
    * indexed once normally and once with each vector posted to its TWO
    * nearest cells, both searched at nprobe = 1, recall@3 vs the exact
    * truth. A vector near a Voronoi boundary is findable from either
    * side, so the na=2 candidate set is a SUPERSET of na=1's by
    * construction (spec-pinned) — recall can only rise — and the gate
    * reports the price alongside: n_postings doubles. Floors from the
    * measured tri-SF band (na1 0.27-0.47, na2 0.40-0.60 on this
    * near-orthogonal corpus at nprobe=1). Both indexes materialize to
    * scratch once (count + search read them); probe selection stays
    * map-side; the only shuffles are the cell equi-join and the
    * qid-partitioned rank window. */
  private val A28Methods = Seq(("ivf_na1", 1, 0.25), ("ivf_na2", 2, 0.35))

  def a28IvfMultiAssign(sp: SparkSession, dir: String): DataFrame = {
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a28-truth")
    val e = embeddings(sp, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    A28Methods.map { case (name, na, floor) =>
      val post = graft.Tables.stage(
        graft.operators.Ann.ivfIndexMulti(corpus, centroids, na),
        s"graft-a28-$name")
      val res = graft.operators.Ann
        .ivfTopKOnIndex(qs, post, centroids, k = 3, nprobe = 1)
      truth.join(res.select(col("qid"), col("neighbor")),
          Seq("qid", "neighbor"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .crossJoin(broadcast(post.agg(count(lit(1)).as("n_postings"))))
        .select(lit(name).as("method"), lit(na).as("na"),
          col("n_postings"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"),
          lit(floor).as("floor"),
          (col("n_hits").cast("double") / col("n_truth") >= floor)
            .as("recall_ok"))
    }.reduce(_ union _).orderBy("method")
  }

  val a28Sql: String = {
    val methodRows = A28Methods
      .map { case (m, na, f) => s"('$m', $na, CAST($f AS DOUBLE))" }
      .mkString(", ")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid)
       |      AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |probes AS (SELECT id AS qid, vec AS qvec, cid FROM asg
       |  WHERE id < 5 AND rn = 1),
       |methods(method, na, floor) AS (VALUES $methodRows),
       |res AS (
       |  SELECT m.method, p.qid, c.id
       |  FROM methods m
       |  JOIN asg c ON c.rn <= m.na
       |  JOIN probes p ON c.cid = p.cid
       |  WHERE c.id <> p.qid
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY m.method, p.qid
       |    ORDER BY ${cosSql("p.qvec", "c.vec")} DESC, c.id) <= 3),
       |h AS (SELECT method, count(*) AS n_hits FROM res
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = res.qid AND t.neighbor = res.id)
       |  GROUP BY method),
       |np AS (SELECT m.method, count(*) AS n_postings
       |  FROM methods m JOIN asg a ON a.rn <= m.na GROUP BY 1),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT m.method, CAST(m.na AS INT) AS na, np.n_postings,
       |  coalesce(h.n_hits, 0) AS n_hits, tt.n_truth,
       |  round(coalesce(h.n_hits, 0)::DOUBLE / tt.n_truth, 4) AS recall,
       |  m.floor,
       |  (coalesce(h.n_hits, 0)::DOUBLE / tt.n_truth >= m.floor)
       |    AS recall_ok
       |FROM methods m JOIN np ON np.method = m.method
       |LEFT JOIN h ON h.method = m.method CROSS JOIN tt
       |ORDER BY 1""".stripMargin
  }

  /** GONZALEZ k-CENTER SEEDING ([[graft.operators.Ann.kcenterSeeds]],
    * k = 6) — the principled IVF/k-means seed picker beside a3's stride
    * sample: farthest-point traversal spreads seeds across the data
    * (2-approx for the k-center objective) instead of wherever the ids
    * landed. Every selection distance is the shared l2sq left-fold
    * double tree, so the oracle replays all 5 argmax rounds exactly
    * (min-over-seeds via a join against the picked-id set, argmax via
    * ORDER BY md DESC, id LIMIT 1 = Spark's max(struct(md, −id))); the
    * final coverage RADIUS (max over the corpus of min-dist to the 6
    * seeds — the k-center objective value) rides every row, and
    * sel_dist is pinned monotone non-increasing by construction. Scale:
    * k single-scan rounds, seeds as plan literals, 1-row argmax
    * collects — never a sort. */
  def a29KcenterSeeds(sp: SparkSession, dir: String): DataFrame = {
    val corpus = embeddings(sp, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val seeds = graft.operators.Ann.kcenterSeeds(corpus, 6)
    val seedVecs = corpus
      .join(seeds.select(col("vec_id").as("id")), "id")
      .select(col("vec")).collect().map(_.getSeq[Float](0).toArray)
    val mind = least(seedVecs.map(v =>
      graft.functions.Vectors.l2sq(col("vec"),
        array(v.toSeq.map(x => lit(x.toDouble)): _*))): _*)
    val radius = corpus.agg(max(mind).as("radius"))
    seeds.crossJoin(broadcast(radius)).orderBy("rank")
  }

  val a29Sql: String = {
    def sqd(a: String, b: String) = foldSum(
      s"list_transform(range(1, len($a)+1), i -> " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))")
    def seedSet(r: Int) =
      (0 until r).map(i => s"SELECT id FROM p$i").mkString(" UNION ALL ")
    val rounds = (1 until 6).map { r =>
      s"""m$r AS (SELECT e.vec_id AS id,
         |    min(${sqd("e.embedding", "s.embedding")}) AS md
         |  FROM embeddings e JOIN embeddings s
         |    ON s.vec_id IN (${seedSet(r)})
         |  GROUP BY e.vec_id),
         |p$r AS (SELECT id, md FROM m$r ORDER BY md DESC, id LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val selRows = (1 until 6).map { r =>
      s"SELECT ${r + 1} AS rank, id AS vec_id, md AS sel_dist FROM p$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH p0 AS (SELECT min(vec_id) AS id FROM embeddings),
       |$rounds,
       |mAll AS (SELECT e.vec_id AS id,
       |    min(${sqd("e.embedding", "s.embedding")}) AS md
       |  FROM embeddings e JOIN embeddings s
       |    ON s.vec_id IN (${seedSet(6)})
       |  GROUP BY e.vec_id),
       |rad AS (SELECT max(md) AS radius FROM mAll),
       |sel AS (SELECT 1 AS rank, id AS vec_id, 0.0 AS sel_dist FROM p0
       |  UNION ALL $selRows)
       |SELECT CAST(rank AS INT) AS rank, vec_id, sel_dist, rad.radius
       |FROM sel CROSS JOIN rad ORDER BY rank""".stripMargin
  }

  // ======================= multimodal =======================

  /** Real container decode round-trip: docs become actual BMPs
    * (doc_id%3=0), PCM WAVs (%3=1) or uncompressed AVIs (%3=2) via
    * Multimodal.attachBlobs, then decodeBlob parses dimensions / sample
    * layout / frame counts back out of the little-endian headers (the AVI
    * frame count comes from WALKING `LIST movi`, not trusting avih) —
    * while the oracle computes the same facts straight from the documents
    * table. A hash match proves the byte-level build AND parse. */
  def m1Multimodal(sp: SparkSession, dir: String): DataFrame =
    Multimodal.decode(sp,
        Multimodal.attachBlobs(documents(sp, dir), frameSize = 100))
      .toDF().orderBy("doc_id")

  val m1Sql: String = {
    val ob = "octet_length(encode(text))"
    // BMP: width = bytes%31+1, height = doc_id%7+1, 24bpp rows 4-aligned
    val w = s"($ob % 31 + 1)"
    val h = "(doc_id % 7 + 1)"
    val bmpBytes = s"(54 + ((3 * $w + 3) // 4) * 4 * $h)"
    // WAV: 16-bit PCM, channels = bytes%2+1, data truncated to whole frames
    val ch = s"($ob % 2 + 1)"
    val dataLen = s"($ob - $ob % ($ch * 2))"
    // AVI: width = bytes%7+1, height = doc_id%4+1, frames = doc_id%5+2,
    // 224 header bytes + one (8+frameBytes) 00db chunk per frame
    val aw = s"($ob % 7 + 1)"
    val ah = "(doc_id % 4 + 1)"
    val nf = "(doc_id % 5 + 2)"
    val fb = s"(((3 * $aw + 3) // 4) * 4 * $ah)"
    val aviBytes = s"(224 + $nf * (8 + $fb))"
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
       |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |       ELSE 'video/avi' END AS fmt,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN $bmpBytes
       |            WHEN doc_id % 3 = 1 THEN 44 + $dataLen
       |            ELSE $aviBytes END AS BIGINT) AS n_bytes,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN $w
       |            WHEN doc_id % 3 = 1 THEN 0
       |            ELSE $aw END AS INT) AS width,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN $h
       |            WHEN doc_id % 3 = 1 THEN 0
       |            ELSE $ah END AS INT) AS height,
       |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 1000
       |            ELSE 0 END AS INT) AS sample_rate,
       |  CAST(CASE WHEN doc_id % 3 = 1 THEN $ch ELSE 0 END AS INT) AS n_channels,
       |  CAST(CASE WHEN doc_id % 3 = 1 THEN $dataLen // ($ch * 2)
       |            WHEN doc_id % 3 = 2 THEN $nf
       |            ELSE 0 END AS BIGINT) AS n_samples
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** REAL pixel processing gate: every BMP doc's image (built from its
    * text bytes, doc_id%3=0) is resized 8x8 by nearest-neighbor, and the
    * gate hashes the decoded dimensions plus the resized image's pixel
    * checksum. The oracle recomputes the full chain — fill byte at data
    * index i is text byte i % len, source pixel (x*srcW/8, y*srcH/8), sum
    * over the 192 resized pixel bytes — straight from the documents table,
    * so a hash match proves actual pixel resampling, not payload
    * truncation. */
  def m2MultimodalResize(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    Multimodal.resize(sp, media, 8, 8)
      .map(r => (r.doc_id, r.width, r.height,
        Multimodal.bmpPixelChecksum(r.media)))
      .toDF("doc_id", "width", "height", "checksum")
      .orderBy("doc_id")
  }

  val m2Sql: String = {
    // byte k (0-based) of the UTF-8 text as an int, via the hex dump
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |s AS (SELECT p.doc_id,
       |    CAST(SUM(('0x' || substr(p.hx,
       |      2 * ((((ty.y * p.src_h) // 8) * p.src_row
       |            + ((tx.x * p.src_w) // 8) * 3 + tc.c) % p.len) + 1,
       |      2))::BIGINT) AS BIGINT) AS checksum
       |  FROM p, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       |  checksum
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** BILINEAR BMP resize ([[Multimodal.resizeBmpBilinear]]) — the
    * production augmentation beside m2's nearest-neighbor: every 8×8
    * output pixel blends its 4 source neighbors in 8.8 FIXED-POINT
    * INTEGER arithmetic (endpoint-aligned source coordinate fx =
    * x·(srcW−1)·256∕7, weights summing to 2¹⁶, +2¹⁵ half-up rounding),
    * so the oracle recomputes EVERY output byte from the blob-fill
    * formula — all four neighbor lookups, both fractional weights, and
    * the rounding shift — and the checksum match certifies the full
    * interpolation, not a resample of convenience. Per-doc map work,
    * zero shuffle, like the rest of the m-family. */
  def m19BilinearResize(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.resizeBmpBilinear(r.media, 8, 8).map { out =>
          (r.doc_id, 8, 8, Multimodal.bmpPixelChecksum(out))
        }
      }
      .toDF("doc_id", "width", "height", "checksum")
      .orderBy("doc_id")
  }

  val m19Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(sy: String, sx: String): String =
      s"('0x' || substr(hx, 2 * ((($sy) * src_row + ($sx) * 3 + c) " +
        "% len) + 1, 2))::BIGINT"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.doc_id, p.hx, p.len, p.src_w, p.src_h, p.src_row,
       |    tc.c AS c,
       |    (ty.y * (p.src_h - 1) * 256) // 7 AS fy,
       |    (tx.x * (p.src_w - 1) * 256) // 7 AS fx
       |  FROM p, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)),
       |q AS (SELECT doc_id, hx, len, src_row, c,
       |    fy // 256 AS y0, fy % 256 AS dy,
       |    least(fy // 256 + 1, src_h - 1) AS y1,
       |    fx // 256 AS x0, fx % 256 AS dx,
       |    least(fx // 256 + 1, src_w - 1) AS x1
       |  FROM g),
       |v AS (SELECT doc_id,
       |    (${byteAt("y0", "x0")} * (256 - dx) * (256 - dy)
       |     + ${byteAt("y0", "x1")} * dx * (256 - dy)
       |     + ${byteAt("y1", "x0")} * (256 - dx) * dy
       |     + ${byteAt("y1", "x1")} * dx * dy + 32768) // 65536 AS v
       |  FROM q)
       |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       |  CAST(SUM(v) AS BIGINT) AS checksum
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** LETTERBOX RESIZE ([[Multimodal.letterboxBmp]]) — the
    * aspect-PRESERVING canonical model-input transform composing m19's
    * bilinear kernel: integer fit scale min(8·256∕srcW, 8·256∕srcH),
    * inner box (tw, th) centered at integer offsets, mid-gray (128)
    * pad. The witness re-decodes the output's header dims and
    * checksums EVERY canvas pixel byte; the oracle recomputes the box
    * geometry AND each byte — bilinear samples inside (the full m19
    * fixed-point tree on the (tw, th) mapping), the 128 pad outside —
    * from the blob-fill formula, so a hash match certifies geometry,
    * interpolation and padding together. Per-doc map work, zero
    * shuffle. */
  def m20LetterboxResize(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.letterboxBmp(r.media, 8, 8).map { out =>
          val hb = java.nio.ByteBuffer.wrap(out)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (r.doc_id, hb.getInt(18), hb.getInt(22),
            Multimodal.bmpPixelChecksum(out))
        }
      }
      .toDF("doc_id", "width", "height", "checksum")
      .orderBy("doc_id")
  }

  val m20Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(sy: String, sx: String): String =
      s"('0x' || substr(hx, 2 * ((($sy) * src_row + ($sx) * 3 + c) " +
        "% len) + 1, 2))::BIGINT"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row,
       |    least((8 * 256) // src_w, (8 * 256) // src_h) AS scl
       |  FROM e),
       |b AS (SELECT doc_id, hx, len, src_w, src_h, src_row,
       |    greatest((src_w * scl) // 256, 1) AS tw,
       |    greatest((src_h * scl) // 256, 1) AS th
       |  FROM p),
       |o AS (SELECT b.*, (8 - tw) // 2 AS ox, (8 - th) // 2 AS oy FROM b),
       |g AS (SELECT o.doc_id, o.hx, o.len, o.src_row, o.src_w, o.src_h,
       |    tc.c AS c,
       |    tx.x >= o.ox AND tx.x < o.ox + o.tw
       |      AND ty.y >= o.oy AND ty.y < o.oy + o.th AS inside,
       |    CASE WHEN o.th = 1 OR ty.y < o.oy OR ty.y >= o.oy + o.th
       |      THEN 0
       |      ELSE ((ty.y - o.oy) * (o.src_h - 1) * 256) // (o.th - 1)
       |      END AS fy,
       |    CASE WHEN o.tw = 1 OR tx.x < o.ox OR tx.x >= o.ox + o.tw
       |      THEN 0
       |      ELSE ((tx.x - o.ox) * (o.src_w - 1) * 256) // (o.tw - 1)
       |      END AS fx
       |  FROM o, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)),
       |q AS (SELECT doc_id, hx, len, src_row, c, inside,
       |    fy // 256 AS y0, fy % 256 AS dy,
       |    least(fy // 256 + 1, src_h - 1) AS y1,
       |    fx // 256 AS x0, fx % 256 AS dx,
       |    least(fx // 256 + 1, src_w - 1) AS x1
       |  FROM g),
       |v AS (SELECT doc_id,
       |    CASE WHEN NOT inside THEN 128 ELSE
       |      (${byteAt("y0", "x0")} * (256 - dx) * (256 - dy)
       |       + ${byteAt("y0", "x1")} * dx * (256 - dy)
       |       + ${byteAt("y1", "x0")} * (256 - dx) * dy
       |       + ${byteAt("y1", "x1")} * dx * dy + 32768) // 65536
       |      END AS v
       |  FROM q)
       |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       |  CAST(SUM(v) AS BIGINT) AS checksum
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** HISTOGRAM EQUALIZATION ([[Multimodal.equalizeBmp]]) — the classic
    * contrast normalization before feature extraction: per-pixel
    * integer luma (b+g+r)/3, the 256-bin CDF, and the standard remap
    * eq(v) = (cdf(v) − cdf_min)·255 ∕ (N − cdf_min) in floor integer
    * arithmetic (darkest present level → 0, flat image → all 0 by
    * contract), output rebuilt as a valid grayscale 24bpp BMP. The
    * witness re-decodes the output dims and checksums every pixel byte;
    * the oracle recomputes the full chain from the blob-fill formula —
    * per-pixel luma over the SOURCE geometry, the per-doc histogram,
    * the cumulative window over the ≤256-row luma domain, the remap,
    * and checksum = 3·Σ count·eq (three identical channels). Per-doc
    * map work, zero shuffle; the only window in the oracle runs on the
    * value domain, never the pixel table. */
  def m21HistEqualize(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.equalizeBmp(r.media).map { out =>
          val hb = java.nio.ByteBuffer.wrap(out)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (r.doc_id, hb.getInt(18), hb.getInt(22),
            Multimodal.bmpPixelChecksum(out))
        }
      }
      .toDF("doc_id", "width", "height", "checksum")
      .orderBy("doc_id")
  }

  val m21Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(c: String): String =
      s"('0x' || substr(hx, 2 * ((ty.y * src_row + tx.x * 3 + $c) " +
        "% len) + 1, 2))::BIGINT"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.doc_id, p.src_w, p.src_h,
       |    (${byteAt("0")} + ${byteAt("1")} + ${byteAt("2")}) // 3
       |      AS luma
       |  FROM p, unnest(range(0, p.src_h)) ty(y),
       |    unnest(range(0, p.src_w)) tx(x)),
       |hist AS (SELECT doc_id, src_w, src_h, luma, count(*) AS c
       |  FROM g GROUP BY 1, 2, 3, 4),
       |cdf AS (SELECT doc_id, src_w, src_h, luma, c,
       |    sum(c) OVER (PARTITION BY doc_id ORDER BY luma) AS cdf,
       |    first_value(c) OVER (PARTITION BY doc_id ORDER BY luma
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |      AS cdf_min
       |  FROM hist),
       |eq AS (SELECT doc_id, src_w, src_h, c,
       |    CASE WHEN src_w * src_h > cdf_min
       |      THEN (cdf - cdf_min) * 255 // (src_w * src_h - cdf_min)
       |      ELSE 0 END AS eq
       |  FROM cdf)
       |SELECT doc_id, CAST(src_w AS INT) AS width,
       |  CAST(src_h AS INT) AS height,
       |  CAST(3 * SUM(c * eq) AS BIGINT) AS checksum
       |FROM eq GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin
  }

  /** SOBEL EDGE ENERGY ([[Multimodal.sobelEnergyBmp]]) — the classic
    * first vision feature (blur/blank screens threshold it): integer
    * luma, both 3×3 Sobel kernels over every INTERIOR pixel, energy =
    * Σ(|gx|+|gy|) — an all-integer convolution, so the oracle replays
    * EVERY tap (9 luma lookups × 2 kernels per pixel) from the
    * blob-fill formula; fixture heights run 1..7, so the no-interior
    * degenerate (height < 3 → 0 energy over 0 pixels) is exercised
    * live. Per-doc map work, zero shuffle; the oracle's only explode
    * is the interior pixel grid. */
  def m22SobelEnergy(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.sobelEnergyBmp(r.media).map { case (w, h, n, e) =>
          (r.doc_id, w, h, n, e)
        }
      }
      .toDF("doc_id", "width", "height", "n_interior", "edge_energy")
      .orderBy("doc_id")
  }

  val m22Sql: String = {
    val ob = "octet_length(encode(text))"
    def lum(dy: Int, dx: Int): String = {
      def b(c: Int) =
        s"('0x' || substr(hx, 2 * (((ty.y + ${dy}) * src_row + " +
          s"(tx.x + ${dx}) * 3 + $c) % len) + 1, 2))::BIGINT"
      s"((${b(0)} + ${b(1)} + ${b(2)}) // 3)"
    }
    val gx = s"(${lum(-1, 1)} + 2 * ${lum(0, 1)} + ${lum(1, 1)} " +
      s"- ${lum(-1, -1)} - 2 * ${lum(0, -1)} - ${lum(1, -1)})"
    val gy = s"(${lum(1, -1)} + 2 * ${lum(1, 0)} + ${lum(1, 1)} " +
      s"- ${lum(-1, -1)} - 2 * ${lum(-1, 0)} - ${lum(-1, 1)})"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.doc_id,
       |    abs($gx) + abs($gy) AS en
       |  FROM p, unnest(range(1, p.src_h - 1)) ty(y),
       |    unnest(range(1, p.src_w - 1)) tx(x)),
       |s AS (SELECT doc_id, count(*) AS n_interior,
       |    SUM(en) AS edge_energy
       |  FROM g GROUP BY 1)
       |SELECT p.doc_id, CAST(p.src_w AS INT) AS width,
       |  CAST(p.src_h AS INT) AS height,
       |  CAST(coalesce(s.n_interior, 0) AS BIGINT) AS n_interior,
       |  CAST(coalesce(s.edge_energy, 0) AS BIGINT) AS edge_energy
       |FROM p LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** REAL BMP crop ([[Multimodal.cropBmp]]) — the augmentation pair to
    * m2's resize (random-crop + resize is the standard image-pretraining
    * transform): a 2×3 window anchored at (doc_id % w, doc_id % h),
    * CLIPPED at the source edge so the emitted width/height prove the
    * clip logic, checksummed over the cropped pixel array. The oracle
    * recomputes every cropped byte from the blob-fill formula — a hash
    * match certifies the crop's byte geometry (row stride, 3-byte
    * pixels, storage-order anchor), not a pass-through. */
  def m10Crop(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        val buf = java.nio.ByteBuffer.wrap(r.media)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val srcW = buf.getInt(18)
        val srcH = buf.getInt(22)
        Multimodal.cropBmp(r.media, (r.doc_id % srcW).toInt,
            (r.doc_id % srcH).toInt, 2, 3)
          .map { c =>
            val cb = java.nio.ByteBuffer.wrap(c)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            (r.doc_id, cb.getInt(18), cb.getInt(22),
              Multimodal.bmpPixelChecksum(c))
          }
      }
      .toDF("doc_id", "width", "height", "checksum")
      .orderBy("doc_id")
  }

  val m10Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row,
       |    doc_id % src_w AS x0, doc_id % src_h AS y0,
       |    least(2, src_w - doc_id % src_w) AS cw,
       |    least(3, src_h - doc_id % src_h) AS ch
       |  FROM e),
       |s AS (SELECT p.doc_id, MAX(p.cw) AS cw, MAX(p.ch) AS ch,
       |    CAST(SUM(('0x' || substr(p.hx,
       |      2 * (((p.y0 + tj.j) * p.src_row + (p.x0 + ti.i) * 3 + tc.c)
       |           % p.len) + 1,
       |      2))::BIGINT) AS BIGINT) AS checksum
       |  FROM p, range(0, 3) tj(j), range(0, 2) ti(i), range(0, 3) tc(c)
       |  WHERE tj.j < p.ch AND ti.i < p.cw
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(cw AS INT) AS width, CAST(ch AS INT) AS height,
       |  checksum
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Real BMP horizontal FLIP ([[graft.operators.Multimodal.flipBmp]]) —
    * the mirror augmentation beside m2's resize and m10's crop, applied
    * to nearly every image-pretraining batch. The witness is the
    * position-WEIGHTED pixel checksum: the plain pixel sum is
    * permutation-invariant (a broken flip that shuffled or didn't move
    * bytes would still pass it), so the gate emits both — `checksum`
    * pins content preservation, `wsum` pins that every byte landed at
    * its mirrored position (the oracle recomputes it from the blob-fill
    * formula with the x-index reversed). Valid-BMP structure of the
    * output is spec-pinned via the header decoder round-trip. */
  def m13FlipBmp(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.flipBmp(r.media).map { f =>
          val fb = java.nio.ByteBuffer.wrap(f)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (r.doc_id, fb.getInt(18), fb.getInt(22),
            Multimodal.bmpWeightedChecksum(f),
            Multimodal.bmpPixelChecksum(f))
        }
      }
      .toDF("doc_id", "width", "height", "wsum", "checksum")
      .orderBy("doc_id")
  }

  val m13Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(idx: String) =
      s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT"
    val srcIdx = "tj.j * p.src_row + (p.src_w - 1 - ti.x) * 3 + tc.c"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row
       |  FROM e),
       |s AS (SELECT p.doc_id, MAX(p.src_w) AS w, MAX(p.src_h) AS h,
       |    CAST(SUM(${byteAt(srcIdx)}
       |      * (tj.j * 3 * p.src_w + ti.x * 3 + tc.c + 1)) AS BIGINT)
       |      AS wsum,
       |    CAST(SUM(${byteAt(srcIdx)}) AS BIGINT) AS checksum
       |  -- fixed range bounds (w <= 31, h <= 7) filtered per doc:
       |  -- range() cannot take correlated lateral parameters
       |  FROM p, range(0, 7) tj(j), range(0, 31) ti(x), range(0, 3) tc(c)
       |  WHERE tj.j < p.src_h AND ti.x < p.src_w
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |  wsum, checksum
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** 90° rotation ([[Multimodal.rotateBmp]]): dimensions SWAP, so the
    * container is genuinely rebuilt (new stride and padding) — unlike
    * m13's flip, which edits in place. The witness re-decodes the
    * REWRITTEN bytes (header dims + position-weighted checksum +
    * plain pixel sum); the oracle replays every destination byte from
    * the blob-fill formula through the quarter-turn map
    * dst(x', j') = src(W−1−j', x'). The plain checksum is
    * rotation-INVARIANT (same multiset of pixel bytes) while wsum is
    * not — together they witness both content preservation and actual
    * motion. */
  def m24RotateBmp(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.rotateBmp(r.media).map { f =>
          val fb = java.nio.ByteBuffer.wrap(f)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (r.doc_id, fb.getInt(18), fb.getInt(22),
            Multimodal.bmpWeightedChecksum(f),
            Multimodal.bmpPixelChecksum(f))
        }
      }
      .toDF("doc_id", "width", "height", "wsum", "checksum")
      .orderBy("doc_id")
  }

  val m24Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(idx: String) =
      s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT"
    val srcIdx = "ti.x * p.src_row + (p.src_w - 1 - tj.j) * 3 + tc.c"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row
       |  FROM e),
       |-- dst row j' in 0..src_w-1, dst col x' in 0..src_h-1: the
       |-- quarter-turn swaps the loop bounds vs m13's replay
       |s AS (SELECT p.doc_id, MAX(p.src_h) AS w, MAX(p.src_w) AS h,
       |    CAST(SUM(${byteAt(srcIdx)}
       |      * (tj.j * 3 * p.src_h + ti.x * 3 + tc.c + 1)) AS BIGINT)
       |      AS wsum,
       |    CAST(SUM(${byteAt(srcIdx)}) AS BIGINT) AS checksum
       |  FROM p, range(0, 31) tj(j), range(0, 7) ti(x), range(0, 3) tc(c)
       |  WHERE tj.j < p.src_w AND ti.x < p.src_h
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |  wsum, checksum
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Patch-grid statistics ([[Multimodal.patchStats]], p = 4): the ViT
    * patch-embedding precursor as typed rows — every image cut into a
    * 4×4 storage-order grid (edge patches CLIP, their smaller pixel
    * count reported, exercised live by the 31-mod widths and ≤7
    * heights), each patch reduced to integer luma count/sum/min/max.
    * Map-side only: one row per patch, no shuffle before the final
    * orderBy; the oracle replays every patch from the blob-fill
    * formula with the luma and grid arithmetic inline. */
  def m25PatchStats(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.patchStats(r.media, 4).toSeq.flatten.map { t =>
          (r.doc_id, t._1, t._2, t._3, t._4, t._5, t._6)
        }
      }
      .toDF("doc_id", "py", "px", "n_px", "luma_sum", "luma_min",
        "luma_max")
      .orderBy("doc_id", "py", "px")
  }

  val m25Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(idx: String) =
      s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT"
    val base = "tj.j * p.src_row + ti.x * 3"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row
       |  FROM e),
       |g AS (SELECT p.doc_id, tj.j // 4 AS py, ti.x // 4 AS px,
       |    (${byteAt(s"$base + 0")} + ${byteAt(s"$base + 1")}
       |      + ${byteAt(s"$base + 2")}) // 3 AS luma
       |  FROM p, range(0, 7) tj(j), range(0, 31) ti(x)
       |  WHERE tj.j < p.src_h AND ti.x < p.src_w)
       |SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
       |  CAST(count(*) AS INT) AS n_px,
       |  CAST(SUM(luma) AS BIGINT) AS luma_sum,
       |  CAST(MIN(luma) AS INT) AS luma_min,
       |  CAST(MAX(luma) AS INT) AS luma_max
       |FROM g GROUP BY doc_id, py, px ORDER BY doc_id, py, px""".stripMargin
  }

  /** Per-channel normalization constants
    * ([[Multimodal.channelStats]]) — the dataset mean/std every image
    * training pipeline computes first (the transforms.Normalize
    * numbers), demonstrated in its SCALABLE form: each image reduces
    * map-side to 3 rows of exact integer (n, Σv, Σv²) per B/G/R
    * channel, the corpus folds them in ONE partial agg (the sums are
    * the mergeable carrier — shards agree bit-for-bit), and mean/std
    * are the only floats, computed from exact BIGINTs through one
    * shared IEEE tree (population std via (n·Σv² − (Σv)²)∕n²). The
    * oracle rebuilds every channel byte from the blob-fill formula and
    * re-folds. */
  def m28ChannelStats(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.channelStats(r.media).toSeq.flatten.map { s =>
          (r.doc_id, s.channel, s.n, s.sum, s.sumSq)
        }
      }
      .toDF("doc_id", "channel", "n_px", "v_sum", "v_sumsq")
      .groupBy(col("channel"))
      .agg(countDistinct(col("doc_id")).as("n_images"),
        sum(col("n_px")).as("n_px"), sum(col("v_sum")).as("v_sum"),
        sum(col("v_sumsq")).as("v_sumsq"))
      .select(col("channel"), col("n_images"), col("n_px"),
        col("v_sum"), col("v_sumsq"),
        (col("v_sum").cast("double") / col("n_px").cast("double"))
          .as("mean"),
        sqrt((col("n_px") * col("v_sumsq") - col("v_sum") * col("v_sum"))
          .cast("double") /
          (col("n_px") * col("n_px")).cast("double")).as("std"))
      .orderBy("channel")
  }

  val m28Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(idx: String) =
      s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT"
    val base = "tj.j * p.src_row + ti.x * 3"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row
       |  FROM e),
       |g AS (SELECT p.doc_id, tc.c AS channel,
       |    ${byteAt(s"$base + tc.c")} AS v
       |  FROM p, range(0, 7) tj(j), range(0, 31) ti(x),
       |    range(0, 3) tc(c)
       |  WHERE tj.j < p.src_h AND ti.x < p.src_w),
       |s AS (SELECT channel,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
       |    CAST(count(*) AS BIGINT) AS n_px,
       |    CAST(SUM(v) AS BIGINT) AS v_sum,
       |    CAST(SUM(v * v) AS BIGINT) AS v_sumsq
       |  FROM g GROUP BY 1)
       |SELECT CAST(channel AS INT) AS channel, n_images, n_px, v_sum,
       |  v_sumsq,
       |  CAST(v_sum AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean,
       |  sqrt(CAST(n_px * v_sumsq - v_sum * v_sum AS DOUBLE)
       |    / CAST(n_px * n_px AS DOUBLE)) AS std
       |FROM s ORDER BY channel""".stripMargin
  }

  /** DCT PERCEPTUAL HASH near-dup screen
    * ([[Multimodal.bmpDctHash]] through the m16 banding kernel) — the
    * frequency-domain fingerprint beside m5's spatial aHash: 8×8 gray
    * grid → separable Q14 integer DCT-II (m27's fixed-point
    * discipline, truncating division both engines share) → one bit per
    * coefficient vs the lower median of the 63 AC values. PLANTED
    * twins: every image doc with id < 300 recurs under id+10⁶ with a
    * SATURATING −80 brightness shift ([[Multimodal
    * .adjustBmpBrightness]] — dark bytes clamp at 0, bending the gray
    * map nonlinearly; an unclamped shift would leave BOTH hashes
    * provably invariant). Measured at sf0.01: 44 of 167 planted twins
    * move aHash past the Hamming-8 radius while 31 of those stay
    * inside it for pHash — the `ahash_missed` column reports the gap
    * pair by pair, honestly (some twins move past both). The oracle
    * replays EVERY DCT coefficient from the blob-fill formula — grid,
    * both fixed-point matrix stages, median rank, bit assembly,
    * banding, cap, Hamming confirm, and the per-pair aHash distances.
    * Scale: same d7 topology as m16 — one shuffle on (band, key),
    * never an image self-join. */
  private val M29Delta = -80
  private val M29Cap = 32L
  private val M29MaxHam = 8

  def m29DctPhash(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      spread(documents(sp, dir).filter(col("doc_id") % 3 === 0)),
      frameSize = 100)
    val base = media.as[Multimodal.MediaRow].flatMap { r =>
      for {
        p <- Multimodal.bmpDctHash(r.media)
        a <- Multimodal.bmpAverageHash(r.media)
      } yield (r.doc_id, p, a)
    }
    val twins = media.filter(col("doc_id") < 300)
      .as[Multimodal.MediaRow].flatMap { r =>
        for {
          m2 <- Multimodal.adjustBmpBrightness(r.media, M29Delta)
          p <- Multimodal.bmpDctHash(m2)
          a <- Multimodal.bmpAverageHash(m2)
        } yield (r.doc_id + 1000000L, p, a)
      }
    val all = base.union(twins).toDF("doc_id", "phash", "ahash")
    val pairs = Dedup.hammingBandPairs(
      all.select(col("doc_id"), col("phash")), col("doc_id"),
      col("phash"), bandBits = 16, bands = 4, maxHamming = M29MaxHam,
      maxBucket = M29Cap)
    pairs
      .join(all.select(col("doc_id").as("id_a"), col("ahash").as("__aa")),
        Seq("id_a"))
      .join(all.select(col("doc_id").as("id_b"), col("ahash").as("__ab")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        col("hamming").as("phash_hamming"),
        bit_count(col("__aa").bitwiseXOR(col("__ab"))).cast("int")
          .as("ahash_hamming"))
      .withColumn("planted",
        col("id_b") === col("id_a") + 1000000L && col("id_a") < 300)
      .withColumn("ahash_missed", col("ahash_hamming") > M29MaxHam)
      .orderBy("id_a", "id_b")
  }

  val m29Sql: String = {
    val ob = "octet_length(encode(text))"
    val idx = "(((ty.y * p.src_h) // 8) * p.src_row" +
      " + ((tx.x * p.src_w) // 8) * 3 + tc.c)"
    val byteAt = s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))" +
      "::BIGINT"
    val dctVals = (for { k <- 0 until 8; n <- 0 until 8 } yield
      s"($k, $n, ${Multimodal.DctQ14(k)(n)})").mkString(", ")
    s"""WITH e AS (SELECT doc_id AS sid, tw.t AS tw,
       |    hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents, range(0, 2) tw(t)
       |  WHERE doc_id % 3 = 0 AND (tw.t = 0 OR doc_id < 300)),
       |p AS (SELECT sid + tw * 1000000 AS oid, tw, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.oid, ty.y AS y, tx.x AS x,
       |    (SUM(CASE WHEN p.tw = 1
       |      THEN GREATEST(LEAST($byteAt + ($M29Delta), 255), 0)
       |      ELSE $byteAt END)) // 3 AS gray
       |  FROM p, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
       |  GROUP BY p.oid, ty.y, tx.x),
       |dctt(k, n, c) AS (SELECT * FROM (VALUES $dctVals) v(k, n, c)),
       |s1 AS (SELECT g.oid, t.k AS k, g.x AS x,
       |    (SUM(t.c * g.gray)) // 16384 AS v
       |  FROM g JOIN dctt t ON t.n = g.y GROUP BY g.oid, t.k, g.x),
       |f AS (SELECT s1.oid, s1.k AS k, t.k AS l,
       |    (SUM(s1.v * t.c)) // 16384 AS v
       |  FROM s1 JOIN dctt t ON t.n = s1.x GROUP BY s1.oid, s1.k, t.k),
       |med AS (SELECT oid, v AS med FROM (
       |  SELECT oid, v, row_number() OVER (PARTITION BY oid ORDER BY v)
       |    AS rn
       |  FROM f WHERE NOT (k = 0 AND l = 0)) WHERE rn = 32),
       |ph0 AS (SELECT f.oid,
       |    SUM(CASE WHEN f.v > m.med
       |      THEN (1::HUGEINT << CAST(f.k * 8 + f.l AS INT))
       |      ELSE 0::HUGEINT END) AS hsum
       |  FROM f JOIN med m USING (oid) GROUP BY f.oid),
       |ph AS (SELECT oid,
       |    CAST(CASE WHEN hsum >= 9223372036854775808::HUGEINT
       |      THEN hsum - 18446744073709551616::HUGEINT ELSE hsum END
       |      AS BIGINT) AS phash
       |  FROM ph0),
       |am AS (SELECT oid, SUM(gray) // 64 AS mean FROM g GROUP BY oid),
       |ah0 AS (SELECT g.oid,
       |    SUM(CASE WHEN g.gray > am.mean
       |      THEN (1::HUGEINT << (g.y * 8 + g.x)) ELSE 0::HUGEINT END)
       |      AS hsum
       |  FROM g JOIN am ON g.oid = am.oid GROUP BY g.oid),
       |ah AS (SELECT oid,
       |    CAST(CASE WHEN hsum >= 9223372036854775808::HUGEINT
       |      THEN hsum - 18446744073709551616::HUGEINT ELSE hsum END
       |      AS BIGINT) AS ahash
       |  FROM ah0),
       |banded AS (SELECT oid, phash, CAST(bb.b AS INT) AS band,
       |    (phash >> CAST(16 * bb.b AS INT)) & 65535 AS key
       |  FROM ph, range(0, 4) bb(b)),
       |kept AS (SELECT oid, phash, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc
       |  FROM banded) WHERE bc <= $M29Cap),
       |pairs AS (SELECT DISTINCT l.oid AS id_a, r.oid AS id_b,
       |    l.phash AS ha, r.phash AS hb
       |  FROM kept l JOIN kept r
       |    ON l.band = r.band AND l.key = r.key AND l.oid < r.oid)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(ha, hb)) AS INT) AS phash_hamming,
       |  CAST(bit_count(xor(aa.ahash, ab.ahash)) AS INT) AS ahash_hamming,
       |  (id_b = id_a + 1000000 AND id_a < 300) AS planted,
       |  bit_count(xor(aa.ahash, ab.ahash)) > $M29MaxHam AS ahash_missed
       |FROM pairs JOIN ah aa ON aa.oid = id_a JOIN ah ab ON ab.oid = id_b
       |WHERE bit_count(xor(ha, hb)) <= $M29MaxHam
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Otsu binarization threshold ([[Multimodal.otsuThreshold]]): the
    * automatic foreground/background split per image — exact integer
    * between-class-variance numerators/denominators with the ranking
    * ratio as the one final float per candidate (identical num∕den
    * double division in both engines, ties to the smallest t). The
    * oracle rebuilds the full 256-level histogram from the blob-fill
    * formula, runs the cumulative scan over each image's PRESENT-value
    * domain only (a per-doc window over ≤217 rows, never pixels), and
    * replays the argmax with the same tie order. */
  def m26OtsuThreshold(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.otsuThreshold(r.media).map { t =>
          (r.doc_id, t._1, t._2, t._3, t._4, t._5)
        }
      }
      .toDF("doc_id", "threshold", "num", "den", "n_below", "n_above")
      .orderBy("doc_id")
  }

  val m26Sql: String = {
    val ob = "octet_length(encode(text))"
    def byteAt(idx: String) =
      s"('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT"
    val base = "tj.j * p.src_row + ti.x * 3"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row
       |  FROM e),
       |g AS (SELECT p.doc_id,
       |    (${byteAt(s"$base + 0")} + ${byteAt(s"$base + 1")}
       |      + ${byteAt(s"$base + 2")}) // 3 AS v
       |  FROM p, range(0, 7) tj(j), range(0, 31) ti(x)
       |  WHERE tj.j < p.src_h AND ti.x < p.src_w),
       |hst AS (SELECT doc_id, v, count(*) AS c FROM g GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(SUM(v * c) AS BIGINT) AS s, MAX(v) AS vmax
       |  FROM hst GROUP BY 1),
       |cum AS (SELECT h.doc_id, h.v,
       |    CAST(SUM(h.c) OVER (PARTITION BY h.doc_id ORDER BY h.v)
       |      AS BIGINT) AS w0,
       |    CAST(SUM(h.v * h.c) OVER (PARTITION BY h.doc_id ORDER BY h.v)
       |      AS BIGINT) AS s0
       |  FROM hst h),
       |cand AS (SELECT c.doc_id, c.v,
       |    (c.w0 * t.s - t.n * c.s0) * (c.w0 * t.s - t.n * c.s0) AS num,
       |    c.w0 * (t.n - c.w0) AS den, c.w0, t.n
       |  FROM cum c JOIN tot t USING (doc_id) WHERE c.v < t.vmax),
       |r AS (SELECT doc_id, v, num, den, w0, n, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id
       |    ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, v)
       |    AS rn
       |  FROM cand)
       |SELECT doc_id, CAST(v AS INT) AS threshold,
       |  CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
       |  CAST(w0 AS INT) AS n_below, CAST(n - w0 AS INT) AS n_above
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Perceptual image dedup ([[Multimodal.bmpAverageHash]]): every image
    * doc's 64-bit aHash (REAL resize-to-8x8 + integer grayscale + bit per
    * pixel above the integer mean), grouped to surface perceptual
    * collisions — the image-side near-dup primitive. The oracle recomputes
    * every BIT from the blob-fill formula: resample indices, channel
    * bytes, integer-division grayscale and mean, two's-complement bit 63
    * via int128 summation — a hash match proves the whole pixel pipeline,
    * not just a checksum. */
  def m5PerceptualHash(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    val hashes = media.as[Multimodal.MediaRow]
      .map(r => (r.doc_id, Multimodal.bmpAverageHash(r.media).getOrElse(0L)))
      .toDF("doc_id", "ahash")
    val groups = hashes.groupBy("ahash").agg(count(lit(1)).as("n_same"))
    hashes.join(groups, "ahash")
      .select(col("doc_id"), col("ahash"), col("n_same"))
      .orderBy("doc_id")
  }

  val m5Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.doc_id, ty.y AS y, tx.x AS x,
       |    (SUM(('0x' || substr(p.hx,
       |      2 * ((((ty.y * p.src_h) // 8) * p.src_row
       |            + ((tx.x * p.src_w) // 8) * 3 + tc.c) % p.len) + 1,
       |      2))::BIGINT)) // 3 AS gray
       |  FROM p, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
       |  GROUP BY p.doc_id, ty.y, tx.x),
       |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM g GROUP BY doc_id),
       |h0 AS (SELECT g.doc_id,
       |    SUM(CASE WHEN g.gray > m.mean
       |      THEN (1::HUGEINT << (g.y * 8 + g.x)) ELSE 0::HUGEINT END)
       |      AS hsum
       |  FROM g JOIN m ON g.doc_id = m.doc_id
       |  GROUP BY g.doc_id),
       |h AS (SELECT doc_id,
       |    CAST(CASE WHEN hsum >= 9223372036854775808::HUGEINT
       |      THEN hsum - 18446744073709551616::HUGEINT ELSE hsum END
       |      AS BIGINT) AS ahash
       |  FROM h0),
       |c AS (SELECT ahash, COUNT(*) AS n_same FROM h GROUP BY ahash)
       |SELECT h.doc_id, h.ahash, c.n_same
       |FROM h JOIN c ON h.ahash = c.ahash
       |ORDER BY h.doc_id""".stripMargin
  }

  /** PERCEPTUAL NEAR-DUP IMAGES — m5's 64-bit aHash pushed through the
    * d4/d7 Hamming-banding kernel ([[Dedup.hammingBandPairs]]: 4×16-bit
    * bands, bucket cap, exact Hamming ≤ 8 confirm), with PLANTED
    * one-pixel-off twins ([[Multimodal.bumpFirstPixelByte]]: every image
    * doc with id < 300 recurs under id+10⁶ with its first pixel-data
    * byte bumped +48). Exact-hash grouping (m5) misses a twin whose
    * hash moved; the banded pass catches any twin with one clean band —
    * the image-side analogue of d4's text SimHash screen. The oracle
    * recomputes every twin bit from the blob-fill formula (the modified
    * byte is data index 0, sampled only by the resample cells whose
    * source pixel is (0,0): (y·src_h)//8 = 0, (x·src_w)//8 = 0, c = 0)
    * and replays banding, cap, and Hamming confirm exactly. Scale: the
    * image corpus never self-joins — one shuffle on (band, key), the
    * d7 topology, same pathological-bucket cap. */
  private val M16Delta = 48
  private val M16Cap = 32L
  private val M16MaxHam = 8

  def m16ImageNearDup(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      spread(documents(sp, dir).filter(col("doc_id") % 3 === 0)),
      frameSize = 100)
    // flatMap, not getOrElse(0L): an undecodable blob must be DROPPED,
    // not collapsed into a spurious hamming-0 cluster at hash 0 (the
    // twins path below already flatMaps for the same reason)
    val base = media.as[Multimodal.MediaRow]
      .flatMap(r => Multimodal.bmpAverageHash(r.media).map(h => (r.doc_id, h)))
    val twins = media.filter(col("doc_id") < 300).as[Multimodal.MediaRow]
      .flatMap { r =>
        Multimodal.bumpFirstPixelByte(r.media, M16Delta)
          .flatMap(Multimodal.bmpAverageHash)
          .map(h => (r.doc_id + 1000000L, h))
      }
    val hashes = base.union(twins).toDF("doc_id", "ahash")
    Dedup.hammingBandPairs(hashes, col("doc_id"), col("ahash"),
        bandBits = 16, bands = 4, maxHamming = M16MaxHam,
        maxBucket = M16Cap)
      .withColumn("planted",
        col("id_b") === col("id_a") + 1000000L && col("id_a") < 300)
      .orderBy("id_a", "id_b")
  }

  val m16Sql: String = {
    val ob = "octet_length(encode(text))"
    val idx = "(((ty.y * p.src_h) // 8) * p.src_row" +
      " + ((tx.x * p.src_w) // 8) * 3 + tc.c)"
    s"""WITH e AS (SELECT doc_id AS sid, tw.t AS tw,
       |    hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents, range(0, 2) tw(t)
       |  WHERE doc_id % 3 = 0 AND (tw.t = 0 OR doc_id < 300)),
       |p AS (SELECT sid + tw * 1000000 AS oid, tw, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |g AS (SELECT p.oid, ty.y AS y, tx.x AS x,
       |    (SUM(CASE WHEN p.tw = 1 AND $idx = 0
       |      THEN (('0x' || substr(p.hx, 1, 2))::BIGINT + $M16Delta) % 256
       |      ELSE ('0x' || substr(p.hx, 2 * (($idx) % p.len) + 1, 2))::BIGINT
       |      END)) // 3 AS gray
       |  FROM p, range(0, 8) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
       |  GROUP BY p.oid, ty.y, tx.x),
       |m AS (SELECT oid, SUM(gray) // 64 AS mean FROM g GROUP BY oid),
       |h0 AS (SELECT g.oid,
       |    SUM(CASE WHEN g.gray > m.mean
       |      THEN (1::HUGEINT << (g.y * 8 + g.x)) ELSE 0::HUGEINT END)
       |      AS hsum
       |  FROM g JOIN m ON g.oid = m.oid GROUP BY g.oid),
       |h AS (SELECT oid,
       |    CAST(CASE WHEN hsum >= 9223372036854775808::HUGEINT
       |      THEN hsum - 18446744073709551616::HUGEINT ELSE hsum END
       |      AS BIGINT) AS ahash
       |  FROM h0),
       |banded AS (SELECT oid, ahash, CAST(bb.b AS INT) AS band,
       |    (ahash >> CAST(16 * bb.b AS INT)) & 65535 AS key
       |  FROM h, range(0, 4) bb(b)),
       |kept AS (SELECT oid, ahash, band, key FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bc
       |  FROM banded) WHERE bc <= $M16Cap),
       |pairs AS (SELECT DISTINCT l.oid AS id_a, r.oid AS id_b,
       |    l.ahash AS ha, r.ahash AS hb
       |  FROM kept l JOIN kept r
       |    ON l.band = r.band AND l.key = r.key AND l.oid < r.oid)
       |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
       |  (id_b = id_a + 1000000 AND id_a < 300) AS planted
       |FROM pairs WHERE bit_count(xor(ha, hb)) <= $M16MaxHam
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** WAV DECIMATION RESAMPLE ([[Multimodal.decimateWav]]) — the
    * rate-normalization step an audio training pipeline runs before
    * batching (mixed-rate corpora can't share a feature grid): every
    * WAV doc is downsampled 2× through a per-channel integer boxcar
    * (floorDiv mean of each complete 2-frame group; channels NEVER mix
    * — a flat decimation of the interleaved stream would fold L into
    * R), re-emitted as a valid WAV at rate/2, and witnessed by
    * [[Multimodal.wavStats]] over the REBUILT container — header rate,
    * channel count, and the sample sum/energy of the re-walked data
    * chunk, so header rebuild and payload arithmetic are both hashed.
    * The oracle replays every output sample from the blob-fill formula
    * (s16 decode as m4, pairwise floorDiv mean per channel). */
  def m17WavDecimate(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      spread(documents(sp, dir).filter(col("doc_id") % 3 === 1)),
      frameSize = 100)
    media.as[Multimodal.MediaRow].flatMap { r =>
      Multimodal.decimateWav(r.media, 2).flatMap(Multimodal.wavStats)
        .map { case (rate, ch, n, sum, energy) =>
          (r.doc_id, rate, ch, n, sum, energy)
        }
    }.toDF("doc_id", "dst_rate", "n_channels", "n_samples", "sum_s",
        "energy")
      .orderBy("doc_id")
  }

  val m17Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 2 + 1 AS ch, 8000 + (doc_id % 8) * 1000 AS rate
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx, ch, rate,
       |    (len - len % (ch * 2)) // 2 AS nsamp,
       |    (((len - len % (ch * 2)) // 2) // ch) // 2 AS outf
       |  FROM e),
       |sm AS (SELECT doc_id, k,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |      ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |        + 256 * ('0x' || substr(p.hx,
       |            4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |    FROM p, range(0, 512) k(k) WHERE k.k < p.nsamp)),
       |i AS (SELECT p.doc_id,
       |    CAST((2 * j.j) * p.ch + c.c AS BIGINT) AS k0,
       |    CAST((2 * j.j + 1) * p.ch + c.c AS BIGINT) AS k1
       |  FROM p, range(0, 256) j(j), range(0, 2) c(c)
       |  WHERE j.j < p.outf AND c.c < p.ch),
       |o AS (SELECT i.doc_id, (a.s16 + b.s16) // 2 AS o
       |  FROM i JOIN sm a ON a.doc_id = i.doc_id AND a.k = i.k0
       |         JOIN sm b ON b.doc_id = i.doc_id AND b.k = i.k1),
       |agg AS (SELECT doc_id, count(*) AS n, SUM(o) AS sum_s,
       |    SUM(o * o) AS energy
       |  FROM o GROUP BY 1)
       |SELECT p.doc_id, CAST(p.rate // 2 AS INT) AS dst_rate,
       |  CAST(p.ch AS INT) AS n_channels,
       |  CAST(coalesce(agg.n, 0) AS BIGINT) AS n_samples,
       |  CAST(coalesce(agg.sum_s, 0) AS BIGINT) AS sum_s,
       |  CAST(coalesce(agg.energy, 0) AS BIGINT) AS energy
       |FROM p LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** REAL video-container gate: every AVI doc's blob (doc_id%3=2) goes
    * through the `LIST movi` walk and every SECOND frame is emitted
    * (stride 2 — the frame-sampling primitive of a video training
    * pipeline), hashed on frame index, frame byte count and whole-frame
    * checksum. The oracle recomputes the frame fill — frame f's data byte
    * i is text byte (f+i) % len, frameBytes = 4-aligned 24bpp rows x
    * height — straight from the documents table, so a hash match proves
    * the container walk found the right chunks at the right offsets, not
    * a stride slice of raw bytes. */
  def m3FrameSample(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 2), frameSize = 100)
    Multimodal.sampleFrames(sp, media, stride = 2)
      .map(r => (r.doc_id, r.frame_idx, r.frame.length,
        Multimodal.frameChecksum(r.frame)))
      .toDF("doc_id", "frame_idx", "n_bytes", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  val m3Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 2),
       |p AS (SELECT doc_id, hx, len,
       |    ((3 * (len % 7 + 1) + 3) // 4) * 4 * (doc_id % 4 + 1) AS fb,
       |    doc_id % 5 + 2 AS nf
       |  FROM e),
       |s AS (SELECT p.doc_id, CAST(fr.f AS INT) AS frame_idx,
       |    CAST(p.fb AS INT) AS n_bytes,
       |    CAST(SUM(('0x' || substr(p.hx,
       |      2 * ((fr.f + i.i) % p.len) + 1, 2))::BIGINT) AS BIGINT)
       |      AS checksum
       |  FROM p, range(0, 6) fr(f), range(0, 96) i(i)
       |  -- fixed range bounds (nf <= 6, fb <= 24*4 = 96) filtered per doc:
       |  -- DuckDB's range() cannot take correlated lateral parameters
       |  WHERE fr.f % 2 = 0 AND fr.f < p.nf AND i.i < p.fb
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, frame_idx, n_bytes, checksum
       |FROM s ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** AVI TEMPORAL DOWNSAMPLE ([[Multimodal.dropFramesAvi]]) — the video
    * leg of the resample triptych (m2 image resize, m17 audio
    * decimation): every AVI doc keeps frames 0, 2, 4, … and is REBUILT
    * as a valid container (m3 samples frames OUT of the container; m18
    * emits the working container a pipeline stores). The witness
    * re-decodes the REBUILT blob: header dims, re-walked frame count,
    * exact container byte length (224 + n·(8+fb) — header rebuild
    * pinned to the byte), the rebuilt frame CLOCK (avih
    * dwMicroSecPerFrame re-decoded — sources are 25 fps/40000 µs, so a
    * stride-2 downsample must emit 80000 µs: the rate is slowed, not
    * the playback sped up), and the summed bytes of every kept frame.
    * The oracle recomputes all of it from the blob-fill formula. */
  def m18AviDropFrames(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      spread(documents(sp, dir).filter(col("doc_id") % 3 === 2)),
      frameSize = 100)
    media.as[Multimodal.MediaRow].flatMap { r =>
      val nIn = Multimodal.aviFrameSlices(r.media).length
      Multimodal.dropFramesAvi(r.media, 2).map { out =>
        val (w, h) = Multimodal.aviMainHeaderDims(out)
        val slices = Multimodal.aviFrameSlices(out)
        var sum = 0L
        slices.foreach { case (from, len) =>
          var i = 0
          while (i < len) { sum += (out(from + i) & 0xff); i += 1 }
        }
        (r.doc_id, w, h, nIn, slices.length, out.length,
          Multimodal.aviUsPerFrame(out), sum)
      }
    }.toDF("doc_id", "width", "height", "n_frames_in", "n_frames_out",
        "out_bytes", "us_per_frame", "frames_checksum")
      .orderBy("doc_id")
  }

  val m18Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 2),
       |p AS (SELECT doc_id, hx, len,
       |    len % 7 + 1 AS w, CAST(doc_id % 4 + 1 AS INT) AS h,
       |    ((3 * (len % 7 + 1) + 3) // 4) * 4 * (doc_id % 4 + 1) AS fb,
       |    doc_id % 5 + 2 AS nf
       |  FROM e),
       |s AS (SELECT p.doc_id,
       |    CAST(SUM(('0x' || substr(p.hx,
       |      2 * ((fr.f + i.i) % p.len) + 1, 2))::BIGINT) AS BIGINT)
       |      AS checksum
       |  FROM p, range(0, 6) fr(f), range(0, 96) i(i)
       |  WHERE fr.f % 2 = 0 AND fr.f < p.nf AND i.i < p.fb
       |  GROUP BY 1)
       |SELECT p.doc_id, CAST(p.w AS INT) AS width, p.h AS height,
       |  CAST(p.nf AS INT) AS n_frames_in,
       |  CAST((p.nf + 1) // 2 AS INT) AS n_frames_out,
       |  CAST(224 + ((p.nf + 1) // 2) * (8 + p.fb) AS INT) AS out_bytes,
       |  CAST(80000 AS INT) AS us_per_frame,
       |  s.checksum AS frames_checksum
       |FROM p JOIN s USING (doc_id) ORDER BY p.doc_id""".stripMargin
  }

  /** INTER-FRAME MOTION gate ([[Multimodal.frameAbsDelta]]): every AVI
    * doc's consecutive frame pairs reduce to the sum of absolute byte
    * differences plus an integer basis-point motion score (delta
    * normalized by the frame's max possible delta) — the static-frame /
    * scene-cut signal a video curation pipeline thresholds on before
    * sampling training frames. The pairing happens INSIDE the per-doc
    * map (frames of one document live in one row — zero shuffle,
    * embarrassingly parallel; m3's container walk supplies the frame
    * slices). The oracle recomputes every byte of both frames from the
    * blob-fill formula, so a hash match certifies the walk offsets AND
    * the pairwise arithmetic. */
  def m11FrameDelta(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 2), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap { r =>
        val slices = Multimodal.aviFrameSlices(r.media)
        (0 until slices.length - 1).iterator.flatMap { f =>
          val (o1, l1) = slices(f)
          val (o2, l2) = slices(f + 1)
          // unequal or empty frames: malformed blob — skip the pair
          // rather than divide by zero in the bp normalization (a
          // zero-length chunk is legal RIFF)
          if (l1 != l2 || l1 == 0) Iterator.empty
          else {
            val a = java.util.Arrays.copyOfRange(r.media, o1, o1 + l1)
            val b = java.util.Arrays.copyOfRange(r.media, o2, o2 + l2)
            val d = Multimodal.frameAbsDelta(a, b)
            Iterator((r.doc_id, f, l1, d, d * 10000L / (l1.toLong * 255L)))
          }
        }
      }
      .toDF("doc_id", "pair_idx", "n_bytes", "delta", "motion_bp")
      .orderBy("doc_id", "pair_idx")
  }

  val m11Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 2),
       |p AS (SELECT doc_id, hx, len,
       |    ((3 * (len % 7 + 1) + 3) // 4) * 4 * (doc_id % 4 + 1) AS fb,
       |    doc_id % 5 + 2 AS nf
       |  FROM e),
       |s AS (SELECT p.doc_id, CAST(fr.f AS INT) AS pair_idx,
       |    CAST(p.fb AS INT) AS n_bytes,
       |    CAST(SUM(abs(
       |      ('0x' || substr(p.hx, 2 * ((fr.f + i.i) % p.len) + 1,
       |        2))::BIGINT
       |      - ('0x' || substr(p.hx, 2 * ((fr.f + 1 + i.i) % p.len) + 1,
       |        2))::BIGINT)) AS BIGINT) AS delta
       |  FROM p, range(0, 5) fr(f), range(0, 96) i(i)
       |  -- fixed range bounds (nf <= 6 -> <= 5 pairs, fb <= 96) filtered
       |  -- per doc: range() cannot take correlated lateral parameters
       |  WHERE fr.f < p.nf - 1 AND i.i < p.fb
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, pair_idx, n_bytes, delta,
       |  delta * 10000 // (n_bytes * 255) AS motion_bp
       |FROM s ORDER BY doc_id, pair_idx""".stripMargin
  }

  /** WAV zero-crossing rate after DC removal
    * ([[graft.operators.Multimodal.wavZcr]]) — m4's companion feature:
    * per-window count of flips of (sample < window-mean) between
    * adjacent PCM samples, the voicing/noisiness axis of the classic
    * (energy, ZCR) speech/music/silence triage. The DC estimate is
    * built in because raw sign-bit ZCR is degenerate on any DC-offset
    * payload (this fixture's ASCII-derived samples never go negative —
    * a constant-zero gate would certify nothing). Same RIFF walk, same
    * window grid as m4 so the two features join per (doc, window);
    * boundary-straddling pairs belong to neither window, making each
    * count a pure function of its own window. Integer-exact end to end
    * (floorDiv mean rides the output); the oracle recomputes every
    * sample from the blob-fill formula and counts flips with one lag()
    * window, so a hash match certifies sample decoding, the DC mean,
    * AND the pair bookkeeping at window edges. */
  def m12WavZcr(sp: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    Multimodal.wavZcr(sp, media, window = 100)
      .toDF()
      .orderBy("doc_id", "window_idx")
  }

  val m12Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  -- fixed range bound (text <= 1024 bytes -> < 512 samples)
       |  -- filtered per doc: range() cannot take lateral parameters
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id, k, k // 100 AS w,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM s),
       |-- floor (not //, which truncates toward zero) mirrors floorDiv;
       |-- |sum| <= 512*32768 keeps the double quotient's floor exact
       |mu AS (SELECT doc_id, w,
       |    CAST(floor(SUM(s16)::DOUBLE / count(*)::DOUBLE) AS BIGINT)
       |      AS dc_mean
       |  FROM v GROUP BY doc_id, w),
       |pr AS (SELECT doc_id, k, w, s16,
       |    lag(s16) OVER (PARTITION BY doc_id ORDER BY k) AS prev
       |  FROM v)
       |SELECT pr.doc_id, CAST(pr.w AS INT) AS window_idx,
       |  CAST(count(*) AS INT) AS n_samples,
       |  CAST(any_value(mu.dc_mean) AS BIGINT) AS dc_mean,
       |  CAST(SUM(CASE WHEN pr.k % 100 <> 0
       |    AND ((pr.prev < mu.dc_mean) <> (pr.s16 < mu.dc_mean))
       |    THEN 1 ELSE 0 END) AS INT) AS n_crossings
       |FROM pr JOIN mu ON mu.doc_id = pr.doc_id AND mu.w = pr.w
       |GROUP BY pr.doc_id, pr.w
       |ORDER BY 1, 2""".stripMargin
  }

  /** REAL audio-feature gate ([[graft.operators.Multimodal.wavEnergy]]):
    * every WAV doc's payload (doc_id%3=1) goes through the RIFF chunk
    * walk — the `data` chunk is located, not assumed at byte 44 — and its
    * 16-bit LE PCM samples reduce to per-window sum-of-squares energy,
    * the loudness/VAD screen of an audio curation pipeline. The oracle
    * recomputes every sample from the document text bytes (sample k =
    * bytes 2k, 2k+1 LE, sign-extended) and replays the exact integer
    * energy, so a hash match proves sample decoding, not byte slicing. */
  def m4WavEnergy(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    Multimodal.wavEnergy(sp, media, window = 100)
      .toDF()
      .orderBy("doc_id", "window_idx")
  }

  val m4Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  -- fixed range bound (text <= 1024 bytes -> < 512 samples)
       |  -- filtered per doc: range() cannot take lateral parameters
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id, k // 100 AS w,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM s)
       |SELECT doc_id, CAST(w AS INT) AS window_idx,
       |  CAST(count(*) AS INT) AS n_samples,
       |  CAST(SUM(s16 * s16) AS BIGINT) AS energy
       |FROM v GROUP BY doc_id, w
       |ORDER BY doc_id, window_idx""".stripMargin
  }

  /** Goertzel single-bin tone energy ([[Multimodal.goertzelEnergy]])
    * over the m4 window grid — the first frequency-domain audio
    * feature: fixed-point Q14 recurrence with the bin-5/100 coefficient
    * pinned as the literal 31164 = round(2·cos(2π·5∕100)·2¹⁴), final
    * state (s1, s2) exposed so the oracle replays EVERY recurrence
    * step as a recursive CTE (truncating integer division in both
    * engines), not just the power formula. */
  def m27Goertzel(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    Multimodal.goertzelEnergy(sp, media, window = 100, coeff = 31164L)
      .toDF()
      .orderBy("doc_id", "window_idx")
  }

  val m27Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH RECURSIVE e AS (SELECT doc_id, hex(encode(text)) AS hx,
       |    $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id, k // 100 AS w, CAST(k % 100 AS BIGINT) AS i,
       |    CAST(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
       |      AS BIGINT) AS s16
       |  FROM s),
       |nsz AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |  FROM v GROUP BY 1, 2),
       |rec AS (
       |  SELECT doc_id, w, CAST(0 AS BIGINT) AS i,
       |    CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2 FROM nsz
       |  UNION ALL
       |  SELECT r.doc_id, r.w, r.i + 1,
       |    g.s16 + (31164 * r.s1) // 16384 - r.s2,
       |    r.s1
       |  FROM rec r JOIN v g ON g.doc_id = r.doc_id AND g.w = r.w
       |    AND g.i = r.i)
       |SELECT r.doc_id, CAST(r.w AS INT) AS window_idx,
       |  CAST(nsz.n AS INT) AS n_samples, r.s1, r.s2,
       |  CAST(r.s1 * r.s1 + r.s2 * r.s2
       |    - (31164 * r.s1 * r.s2) // 16384 AS BIGINT) AS bin_power
       |FROM rec r JOIN nsz ON nsz.doc_id = r.doc_id AND nsz.w = r.w
       |  AND r.i = nsz.n
       |ORDER BY r.doc_id, window_idx""".stripMargin
  }

  /** GOERTZEL FILTER-BANK TONE DECODE (m30 — the DTMF shape, m27's
    * single-bin kernel composed into a BANK): every WAV doc with
    * id < 300 is replaced by a planted dual-tone signal
    * ([[Multimodal.buildToneWav]] — digit id%4 → one row square wave
    * ∈ bins {3,4} + one column wave ∈ {6,8} of the window-96 bank,
    * half-periods all integer so each window holds whole periods of
    * every bank tone and square-wave harmonics miss every other bank
    * bin: exact-DFT orthogonality makes the argmax decode clean).
    * Four goertzelEnergy passes (one per pinned Q14 coeff,
    * [[Multimodal.DtmfBank]]) reduce per doc to four exact BIGINT
    * total powers; row = argmax{3,4}, col = argmax{6,8} (ties to the
    * smaller bin), decoded digit vs expected pinned per row. The
    * oracle SYNTHESIZES every sample from the digit formula and
    * replays all four recurrences in one bank-joined recursive CTE —
    * signal synthesis, fixed-point state, powers, argmax, verdict all
    * hash-pinned. Constant-size plant (100 docs × 960 samples at any
    * SF); scale story is m27's: per-partition flatMap, two multiplies
    * per sample per bin. */
  def m30DtmfDecode(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val ids = documents(sp, dir)
      .filter(col("doc_id") % 3 === 1 && col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val media = ids.map(id => Multimodal.MediaRow(id,
        Multimodal.buildToneWav((id % 4).toInt, 960), "audio/wav", 100))
      .toDF()
    val perBin = Multimodal.DtmfBank.map { case (k, c) =>
      Multimodal.goertzelEnergy(sp, media, window = 96, coeff = c)
        .toDF().groupBy(col("doc_id"))
        .agg(sum(col("bin_power")).as(s"p$k"))
    }
    perBin.reduce((a, b) => a.join(b, "doc_id"))
      .select(col("doc_id"), (col("doc_id") % 4).as("expected"),
        col("p3"), col("p4"), col("p6"), col("p8"))
      .withColumn("row_k",
        when(col("p3") >= col("p4"), 3L).otherwise(4L))
      .withColumn("col_k",
        when(col("p6") >= col("p8"), 6L).otherwise(8L))
      .withColumn("decoded",
        (col("row_k") - 3) * 2 + when(col("col_k") === 8, 1L)
          .otherwise(0L))
      .withColumn("ok", col("decoded") === col("expected"))
      .orderBy("doc_id")
  }

  val m30Sql: String = {
    val bank = Multimodal.DtmfBank
      .map { case (k, c) => s"($k, $c)" }.mkString(", ")
    s"""WITH RECURSIVE par AS (SELECT doc_id,
       |    CAST(doc_id % 4 AS BIGINT) AS d,
       |    96 // (2 * (3 + (doc_id % 4) // 2)) AS hr,
       |    96 // (2 * (6 + 2 * ((doc_id % 4) % 2))) AS hc
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 300),
       |v AS (SELECT p.doc_id, t.n // 96 AS w,
       |    CAST(t.n % 96 AS BIGINT) AS i,
       |    CAST(3000 * (CASE WHEN ((t.n // p.hr) % 2) = 0
       |        THEN 1 ELSE -1 END)
       |      + 3000 * (CASE WHEN ((t.n // p.hc) % 2) = 0
       |        THEN 1 ELSE -1 END) AS BIGINT) AS s16
       |  FROM par p, range(0, 960) t(n)),
       |bank(k, c) AS (SELECT * FROM (VALUES $bank) x(k, c)),
       |rec AS (
       |  SELECT v0.doc_id, b.k, CAST(b.c AS BIGINT) AS c, v0.w,
       |    CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s1,
       |    CAST(0 AS BIGINT) AS s2
       |  FROM (SELECT DISTINCT doc_id, w FROM v) v0 CROSS JOIN bank b
       |  UNION ALL
       |  SELECT r.doc_id, r.k, r.c, r.w, r.i + 1,
       |    g.s16 + (r.c * r.s1) // 16384 - r.s2,
       |    r.s1
       |  FROM rec r JOIN v g ON g.doc_id = r.doc_id AND g.w = r.w
       |    AND g.i = r.i),
       |pw AS (SELECT r.doc_id, r.k,
       |    CAST(SUM(r.s1 * r.s1 + r.s2 * r.s2
       |      - (r.c * r.s1 * r.s2) // 16384) AS BIGINT) AS p
       |  FROM rec r WHERE r.i = 96 GROUP BY 1, 2),
       |piv AS (SELECT doc_id,
       |    MAX(CASE WHEN k = 3 THEN p END) AS p3,
       |    MAX(CASE WHEN k = 4 THEN p END) AS p4,
       |    MAX(CASE WHEN k = 6 THEN p END) AS p6,
       |    MAX(CASE WHEN k = 8 THEN p END) AS p8
       |  FROM pw GROUP BY 1)
       |SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS expected,
       |  p3, p4, p6, p8,
       |  CAST(CASE WHEN p3 >= p4 THEN 3 ELSE 4 END AS BIGINT) AS row_k,
       |  CAST(CASE WHEN p6 >= p8 THEN 6 ELSE 8 END AS BIGINT) AS col_k,
       |  CAST((CASE WHEN p3 >= p4 THEN 0 ELSE 2 END)
       |    + (CASE WHEN p6 >= p8 THEN 0 ELSE 1 END) AS BIGINT)
       |    AS decoded,
       |  ((CASE WHEN p3 >= p4 THEN 0 ELSE 2 END)
       |    + (CASE WHEN p6 >= p8 THEN 0 ELSE 1 END)) = doc_id % 4 AS ok
       |FROM piv ORDER BY doc_id""".stripMargin
  }

  /** SPECTRAL FLATNESS over the Goertzel bank ([[Multimodal
    * .buildNoiseWav]] + [[Multimodal.DtmfBank]]): the tone-vs-noise
    * discriminator — Wiener entropy = geometric∕arithmetic mean of
    * the band energies — composed from m30's bank and the t60 Q16 log
    * kernel so the verdict is float-free: with add-one smoothing
    * E'ₖ = Eₖ + 1 (a tone's off-bins are EXACTLY 0 under the
    * integer-period orthogonality), log2 SF = (1∕B)ΣL(E'ₖ) −
    * L(ΣE'ₖ) + L(B) with B = 4 a power of two, so fl_num =
    * ΣL(E'ₖ) − 4·L(ΣE'ₖ) + 8·2¹⁶ over den 4·2¹⁶ is an exact BIGINT
    * and `tonal` iff fl_num < −4·den (SF < 2⁻⁴). Two planted classes
    * prove both sides LIVE at every SF: doc_id < 300 carries m30's
    * dual-square tones (energy on 2 of 4 bins → strongly negative),
    * 300 ≤ doc_id < 600 the deterministic hash-noise WAVs (flat bank
    * → near 0); the oracle synthesizes every sample of both classes,
    * replays all four recurrences and the log recurrence. Constant-
    * size plant at any SF. */
  def m32SpectralFlatness(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val ids = documents(sp, dir)
      .filter(col("doc_id") % 3 === 1 && col("doc_id") < 600)
      .select(col("doc_id")).as[Long]
    val media = ids.map(id => Multimodal.MediaRow(id,
        if (id < 300) Multimodal.buildToneWav((id % 4).toInt, 960)
        else Multimodal.buildNoiseWav(id, 960), "audio/wav", 100))
      .toDF()
    val perBin = Multimodal.DtmfBank.map { case (k, c) =>
      Multimodal.goertzelEnergy(sp, media, window = 96, coeff = c)
        .toDF().groupBy(col("doc_id"))
        .agg(sum(col("bin_power")).as(s"p$k"))
    }
    val piv = perBin.reduce((a, b) => a.join(b, "doc_id"))
      .select(col("doc_id"), col("p3"), col("p4"), col("p6"),
        col("p8"),
        (col("p3") + 1).as("__e3"), (col("p4") + 1).as("__e4"),
        (col("p6") + 1).as("__e6"), (col("p8") + 1).as("__e8"))
      .withColumn("__s",
        col("__e3") + col("__e4") + col("__e6") + col("__e8"))
    val need = Seq("__e3", "__e4", "__e6", "__e8", "__s")
      .map(c => piv.select(col(c).as("x"))).reduce(_.union(_))
    val ltab = graft.Tables.stage(
      graft.operators.NaiveBayes.logTable(need), "graft-m32-ltab")
    def l(of: String, as: String) =
      ltab.select(col("x").as(of), col("l").as(as))
    piv.join(l("__e3", "__l3"), Seq("__e3"))
      .join(l("__e4", "__l4"), Seq("__e4"))
      .join(l("__e6", "__l6"), Seq("__e6"))
      .join(l("__e8", "__l8"), Seq("__e8"))
      .join(l("__s", "__ls"), Seq("__s"))
      .select(col("doc_id"),
        when(col("doc_id") < 300, "tone").otherwise("noise")
          .as("kind"),
        col("p3"), col("p4"), col("p6"), col("p8"),
        (col("__l3") + col("__l4") + col("__l6") + col("__l8") -
          lit(4L) * col("__ls") + lit(8L * 65536L)).as("fl_num"),
        lit(4L * 65536L).as("fl_den"))
      .withColumn("flatness_log2",
        col("fl_num").cast("double") / col("fl_den").cast("double"))
      .withColumn("verdict",
        when(col("fl_num") < lit(-4L) * col("fl_den"), "tonal")
          .otherwise("broadband"))
      .withColumn("ok",
        (col("kind") === "tone") === (col("verdict") === "tonal"))
      .orderBy("doc_id")
  }

  val m32Sql: String = {
    val bank = Multimodal.DtmfBank
      .map { case (k, c) => s"($k, $c)" }.mkString(", ")
    s"""WITH RECURSIVE par AS (SELECT doc_id,
       |    96 // (2 * (3 + (doc_id % 4) // 2)) AS hr,
       |    96 // (2 * (6 + 2 * ((doc_id % 4) % 2))) AS hc,
       |    doc_id < 300 AS tone
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 600),
       |v AS MATERIALIZED (SELECT p.doc_id, t.n // 96 AS w,
       |    CAST(t.n % 96 AS BIGINT) AS i,
       |    CAST(CASE WHEN p.tone THEN
       |        3000 * (CASE WHEN ((t.n // p.hr) % 2) = 0
       |          THEN 1 ELSE -1 END)
       |        + 3000 * (CASE WHEN ((t.n // p.hc) % 2) = 0
       |          THEN 1 ELSE -1 END)
       |      ELSE ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR) || ':'
       |          || CAST(t.n AS VARCHAR)), 1, 8))::BIGINT % 4001
       |        - 2000 END AS BIGINT) AS s16
       |  FROM par p, range(0, 960) t(n)),
       |bank(k, c) AS (SELECT * FROM (VALUES $bank) x(k, c)),
       |rec AS (
       |  SELECT v0.doc_id, b.k, CAST(b.c AS BIGINT) AS c, v0.w,
       |    CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s1,
       |    CAST(0 AS BIGINT) AS s2
       |  FROM (SELECT DISTINCT doc_id, w FROM v) v0 CROSS JOIN bank b
       |  UNION ALL
       |  SELECT r.doc_id, r.k, r.c, r.w, r.i + 1,
       |    g.s16 + (r.c * r.s1) // 16384 - r.s2,
       |    r.s1
       |  FROM rec r JOIN v g ON g.doc_id = r.doc_id AND g.w = r.w
       |    AND g.i = r.i),
       |pw AS MATERIALIZED (SELECT r.doc_id, r.k,
       |    CAST(SUM(r.s1 * r.s1 + r.s2 * r.s2
       |      - (r.c * r.s1 * r.s2) // 16384) AS BIGINT) AS p
       |  FROM rec r WHERE r.i = 96 GROUP BY 1, 2),
       |piv AS MATERIALIZED (SELECT doc_id,
       |    MAX(CASE WHEN k = 3 THEN p END) AS p3,
       |    MAX(CASE WHEN k = 4 THEN p END) AS p4,
       |    MAX(CASE WHEN k = 6 THEN p END) AS p6,
       |    MAX(CASE WHEN k = 8 THEN p END) AS p8
       |  FROM pw GROUP BY 1),
       |ee AS MATERIALIZED (SELECT doc_id, p3, p4, p6, p8,
       |    p3 + 1 AS e3, p4 + 1 AS e4, p6 + 1 AS e6, p8 + 1 AS e8,
       |    p3 + p4 + p6 + p8 + 4 AS s
       |  FROM piv),
       |need AS (SELECT DISTINCT x FROM (
       |  SELECT e3 AS x FROM ee UNION SELECT e4 FROM ee
       |  UNION SELECT e6 FROM ee UNION SELECT e8 FROM ee
       |  UNION SELECT s FROM ee)),
       |lg(x, m, i, frac) AS (
       |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
       |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
       |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
       |    0, CAST(0 AS BIGINT)
       |  FROM need
       |  UNION ALL
       |  SELECT x,
       |    CAST(CASE WHEN m::HUGEINT * m >=
       |        9223372036854775807::HUGEINT + 1
       |      THEN (m::HUGEINT * m) // 4294967296
       |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
       |    i + 1,
       |    frac * 2 + CASE WHEN m::HUGEINT * m >=
       |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
       |  FROM lg WHERE i < 16),
       |ltab AS (SELECT x,
       |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
       |  FROM lg WHERE i = 16),
       |fin AS (SELECT ee.doc_id,
       |    CASE WHEN ee.doc_id < 300 THEN 'tone' ELSE 'noise' END
       |      AS kind,
       |    ee.p3, ee.p4, ee.p6, ee.p8,
       |    CAST(l3.l + l4.l + l6.l + l8.l - 4 * ls.l + 8 * 65536
       |      AS BIGINT) AS fl_num,
       |    CAST(4 * 65536 AS BIGINT) AS fl_den
       |  FROM ee JOIN ltab l3 ON l3.x = ee.e3
       |  JOIN ltab l4 ON l4.x = ee.e4
       |  JOIN ltab l6 ON l6.x = ee.e6
       |  JOIN ltab l8 ON l8.x = ee.e8
       |  JOIN ltab ls ON ls.x = ee.s)
       |SELECT doc_id, kind, p3, p4, p6, p8, fl_num, fl_den,
       |  CAST(fl_num AS DOUBLE) / CAST(fl_den AS DOUBLE)
       |    AS flatness_log2,
       |  CASE WHEN fl_num < -4 * fl_den THEN 'tonal'
       |    ELSE 'broadband' END AS verdict,
       |  (kind = 'tone') = (CASE WHEN fl_num < -4 * fl_den
       |    THEN 'tonal' ELSE 'broadband' END = 'tonal') AS ok
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** WAV PEAK NORMALIZATION ([[Multimodal.normalizeWavPeak]]) — the
    * standard audio gain pass before feature extraction: every sample
    * scaled in 16.16 fixed-point integer so the loudest hits 30000,
    * container rebuilt valid (only sample data changes). The witness
    * re-decodes the REWRITTEN bytes — per-doc sample count, signed
    * sum, energy, and both peaks (before via [[Multimodal.pcmPeaks]]
    * on the source, after on the rebuilt container) — and the oracle
    * recomputes every output sample from the blob-fill formula:
    * int16 LE decode, max-|s| peak, g = 30000·2¹⁶ div peak, clamp
    * (s·g div 2¹⁶) — with both engines truncating division toward
    * zero on negative samples. Floor gain lands peak_after at 30000
    * or 29999 depending on divisibility; the oracle replays that
    * exactly. Per-doc map work; the only shuffles are the doc_id
    * witness joins. */
  def m23WavNormalize(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    val normed = media.as[Multimodal.MediaRow]
      .map(r => r.copy(media = Multimodal.normalizeWavPeak(r.media)
        .getOrElse(r.media)))
    val before = Multimodal.pcmPeaks(sp, media).toDF()
      .select(col("doc_id"), col("peak").as("peak_before"))
    val after = Multimodal.pcmPeaks(sp, normed.toDF()).toDF()
      .select(col("doc_id"), col("peak").as("peak_after"))
    val st = normed
      .flatMap(r => Multimodal.wavStats(r.media)
        .map(s => (r.doc_id, s._3, s._4, s._5)))
      .toDF("doc_id", "n_samples", "sum_after", "energy_after")
    st.join(before, "doc_id").join(after, "doc_id")
      .select(col("doc_id"), col("n_samples"), col("peak_before"),
        col("peak_after"), col("sum_after"), col("energy_after"))
      .orderBy("doc_id")
  }

  val m23Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM s),
       |pk AS (SELECT doc_id, max(abs(s16)) AS peak FROM v GROUP BY 1),
       |w AS (SELECT v.doc_id, v.s16,
       |    CASE WHEN pk.peak = 0 THEN v.s16
       |      ELSE least(greatest(
       |        v.s16 * (30000 * 65536 // pk.peak) // 65536,
       |        -32768), 32767) END AS s2
       |  FROM v JOIN pk USING (doc_id))
       |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |  CAST(pk.peak AS BIGINT) AS peak_before,
       |  CAST(max(abs(w.s2)) AS BIGINT) AS peak_after,
       |  CAST(SUM(w.s2) AS BIGINT) AS sum_after,
       |  CAST(SUM(w.s2 * w.s2) AS BIGINT) AS energy_after
       |FROM w JOIN pk ON pk.doc_id = w.doc_id
       |GROUP BY w.doc_id, pk.peak ORDER BY w.doc_id""".stripMargin
  }

  /** Equi-width histogram ([[graft.operators.Profile.histogram]]): 20
    * exact bins over events.value — two all-reduce passes (min/max, then
    * bin counts), bin edges computed from the same double tree the oracle
    * replays. */
  def p8Histogram(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(events(sp, dir), "value", 20)
      .orderBy("bin")

  val p8Sql: String =
    """WITH st AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      |b AS (SELECT CAST(least(floor((value - mn) * 20.0 / (mx - mn)),
      |    19.0) AS INT) AS bin, mn, mx
      |  FROM events, st WHERE value IS NOT NULL)
      |SELECT bin, count(*) AS n,
      |  round(mn + (CAST(bin AS DOUBLE) * (mx - mn)) / 20.0, 6) AS lo,
      |  round(mn + ((CAST(bin AS DOUBLE) + 1.0) * (mx - mn)) / 20.0, 6) AS hi
      |FROM b GROUP BY bin, mn, mx ORDER BY bin""".stripMargin

  /** BURSTINESS INDEX (Goh & Barabási, EPL 2008) — B = (σ−μ)/(σ+μ) of
    * per-user inter-event gaps, per event type: the bot/anomaly signal
    * a rate threshold misses. B ≈ 0 for Poisson arrivals, → −1 for a
    * metronome (bots, cron), → +1 for extreme burst-silence cycles
    * (scrapers, incident storms). Identity used:
    * B = (√D − Σg) ∕ (√D + Σg) with D = n·Σg² − (Σg)², so everything
    * up to ONE final √/division is exact integer arithmetic. Gaps are
    * HOUR-floored (µs div 3.6e9) deliberately: at second granularity
    * D overflows int64 AND the double-exact range on this fixture
    * (measured ~10¹⁹); hour floors keep D ≈ 10¹² — exact in both the
    * BIGINT and the double it converts to, so the final float is
    * bit-identical cross-engine. Scale shape: the lag window is
    * per-(type, user) — bounded by one user's history, the p22
    * discipline, never a global sort — then one partial agg to the
    * |types| domain. */
  def p30Burstiness(sp: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = events(sp, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap",
        expr("(us - lag(us) over (partition by event_type, user_id " +
          "order by us, event_id)) div 3600000000"))
      .filter(col("gap").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap_h"),
        sum(col("gap") * col("gap")).as("sum_gap_h2"))
      .withColumn("d",
        col("n_gaps") * col("sum_gap_h2") -
          col("sum_gap_h") * col("sum_gap_h"))
      .withColumn("burstiness",
        when(sqrt(col("d").cast("double")) +
            col("sum_gap_h").cast("double") =!= 0.0,
          (sqrt(col("d").cast("double")) -
            col("sum_gap_h").cast("double")) /
            (sqrt(col("d").cast("double")) +
              col("sum_gap_h").cast("double"))))
      .orderBy("event_type")
  }

  val p30Sql: String =
    """WITH e AS (SELECT event_type, user_id, event_id,
      |    epoch_ns(ts) // 1000 AS us FROM events),
      |g AS (SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY event_type, user_id
      |       ORDER BY us, event_id)) // 3600000000 AS gap
      |  FROM e QUALIFY gap IS NOT NULL),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS sum_gap_h,
      |    CAST(SUM(gap * gap) AS BIGINT) AS sum_gap_h2
      |  FROM g GROUP BY 1)
      |SELECT event_type, n_gaps, sum_gap_h, sum_gap_h2,
      |  CAST(n_gaps * sum_gap_h2 - sum_gap_h * sum_gap_h AS BIGINT) AS d,
      |  CASE WHEN sqrt(CAST(n_gaps * sum_gap_h2 - sum_gap_h * sum_gap_h
      |      AS DOUBLE)) + CAST(sum_gap_h AS DOUBLE) <> 0
      |    THEN (sqrt(CAST(n_gaps * sum_gap_h2 - sum_gap_h * sum_gap_h
      |        AS DOUBLE)) - CAST(sum_gap_h AS DOUBLE))
      |      / (sqrt(CAST(n_gaps * sum_gap_h2 - sum_gap_h * sum_gap_h
      |        AS DOUBLE)) + CAST(sum_gap_h AS DOUBLE))
      |    END AS burstiness
      |FROM s ORDER BY event_type""".stripMargin

  /** THEIL–SEN ROBUST TREND (Sen 1968) — the median of all pairwise
    * slopes of monthly revenue, the robust counterpart to p3's least
    * squares: one crazy month moves OLS by its full leverage but moves
    * the slope MEDIAN by at most one rank. All-integer: slopes carried
    * as fixed-point 10⁶ (dy·10⁶ div dx — Spark `div` and DuckDB `//`
    * both truncate toward zero, probe-checked on negatives), the
    * median is the lower order statistic via a count-histogram +
    * cumulative window over the DISTINCT-slope domain (p17/p19
    * two-level discipline), and the Theil–Sen intercept is the median
    * of y − med·x div 10⁶ over the month domain. Scale: corpus → month
    * partial agg (~84 rows at any SF), pairs are month² ≈ 3.5k — a
    * broadcast nested loop over the calendar domain like p29, never
    * the corpus; every window runs on domain-sized frames. */
  def p31TheilSen(sp: SparkSession, dir: String): DataFrame = {
    val m = orders(sp, dir)
      .groupBy((year(col("o_orderdate")) * 12 +
        month(col("o_orderdate"))).as("x"))
      .agg(sum(dec(col("o_totalprice")) * 100).cast("long").as("y"))
    val nM = m.agg(count(lit(1)).as("n_months"))
    val pairs = m.as("a").join(m.as("b"), col("a.x") < col("b.x"))
      .select(expr("(b.y - a.y) * 1000000 div (b.x - a.x)").as("s"))
    val n0 = pairs.agg(count(lit(1)).as("n_pairs"))
    val cumW = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
    val med = pairs.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .withColumn("cdf", sum(col("c")).over(cumW))
      .crossJoin(broadcast(n0))
      .filter(col("cdf") >= expr("(n_pairs + 1) div 2"))
      .agg(min(col("s")).as("med_fp"))
    val ic = m.crossJoin(broadcast(med))
      .select(expr("y - (med_fp * x) div 1000000").as("b"))
    val icumW = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
    val imed = ic.groupBy(col("b")).agg(count(lit(1)).as("c"))
      .withColumn("cdf", sum(col("c")).over(icumW))
      .crossJoin(broadcast(nM))
      .filter(col("cdf") >= expr("(n_months + 1) div 2"))
      .agg(min(col("b")).as("med_intercept"))
    nM.crossJoin(broadcast(n0)).crossJoin(broadcast(med))
      .crossJoin(broadcast(imed))
      .select(col("n_months"), col("n_pairs"), col("med_fp"),
        col("med_intercept"))
  }

  val p31Sql: String =
    """WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS x,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |p AS (SELECT (b.y - a.y) * 1000000 // (b.x - a.x) AS s
      |  FROM m a JOIN m b ON a.x < b.x),
      |n AS (SELECT count(*) AS n0 FROM p),
      |h AS (SELECT s, count(*) AS c FROM p GROUP BY 1),
      |cum AS (SELECT s, SUM(c) OVER (ORDER BY s) AS cdf FROM h),
      |med AS (SELECT min(s) AS med_fp FROM cum, n
      |  WHERE cdf >= (n0 + 1) // 2),
      |ic AS (SELECT m.y - med.med_fp * m.x // 1000000 AS b FROM m, med),
      |ih AS (SELECT b, count(*) AS c FROM ic GROUP BY 1),
      |icum AS (SELECT b, SUM(c) OVER (ORDER BY b) AS cdf FROM ih),
      |imed AS (SELECT min(b) AS med_intercept FROM icum
      |  WHERE cdf >= ((SELECT count(*) FROM m) + 1) // 2)
      |SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS n_months,
      |  CAST(n.n0 AS BIGINT) AS n_pairs, med.med_fp, imed.med_intercept
      |FROM n, med, imed""".stripMargin

  /** WALD–WOLFOWITZ RUNS TEST — the sequence-randomness screen beside
    * p28's MWU (location) and p9's KS (shape): is the day-over-day
    * DIRECTION of revenue (up/down) a random coin sequence, or does it
    * cluster (momentum/trend: too FEW runs) or alternate (mean
    * reversion / oscillating load: too MANY runs)? Both tails matter
    * and both are caught by the squared statistic. All-integer: signs
    * from exact DECIMAL(18,2) cents diffs (zero diffs dropped — the
    * classic two-category reduction; a tie is neither up nor down),
    * runs counted as 1 + sign changes, and the z² ≥ 3.8416 (α = 0.05
    * two-sided, normal approximation) decision cross-multiplied to
    * 10⁴·A²·(N−1) ≥ 76832·n₊n₋·(2n₊n₋−N) with A = R·N − N − 2n₊n₋
    * (= N·(R−μ), integer because μ = 1 + 2n₊n₋∕N) in
    * DECIMAL(38)/HUGEINT — A ≤ N² ≈ 5.8·10⁶ puts the left side near
    * 8·10²⁰, past int64 but far inside 38 digits. Scale shape: corpus →
    * calendar-domain partial agg (one shuffle), then both lag windows
    * run over the ~2.4k-row day domain only (the p22/p28 domain-window
    * discipline — never a corpus-sized global sort). */
  def p32RunsTest(sp: SparkSession, dir: String): DataFrame = {
    val lagW = org.apache.spark.sql.expressions.Window.orderBy("d")
    val daily = orders(sp, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val sg = daily
      .withColumn("dx", col("cents") - lag(col("cents"), 1).over(lagW))
      .filter(col("dx").isNotNull && col("dx") =!= 0)
      .select(col("d"), when(col("dx") > 0, 1).otherwise(-1).as("s"))
    val ch = sg.withColumn("prev", lag(col("s"), 1).over(lagW))
      .select(col("s"),
        when(col("prev").isNotNull && col("prev") =!= col("s"), 1L)
          .otherwise(0L).as("chg"))
    ch.agg(
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_minus"),
        (sum(col("chg")) + lit(1L)).as("n_runs"))
      .select(col("n_plus"), col("n_minus"), col("n_runs"),
        (col("n_runs") * (col("n_plus") + col("n_minus"))
          - (col("n_plus") + col("n_minus"))
          - lit(2L) * col("n_plus") * col("n_minus")).as("a_num"))
      .select(col("n_plus"), col("n_minus"), col("n_runs"), col("a_num"),
        expr("CAST(10000 AS DECIMAL(38,0)) " +
          "* CAST(a_num AS DECIMAL(38,0)) " +
          "* CAST(a_num AS DECIMAL(38,0)) " +
          "* CAST(n_plus + n_minus - 1 AS DECIMAL(38,0)) " +
          ">= CAST(76832 AS DECIMAL(38,0)) " +
          "* CAST(n_plus AS DECIMAL(38,0)) " +
          "* CAST(n_minus AS DECIMAL(38,0)) " +
          "* CAST(2 * n_plus * n_minus - n_plus - n_minus " +
          "AS DECIMAL(38,0))").as("non_random"))
  }

  val p32Sql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |df AS (SELECT d, cents - lag(cents) OVER (ORDER BY d) AS dx
      |  FROM daily),
      |sg AS (SELECT d, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS s
      |  FROM df WHERE dx IS NOT NULL AND dx <> 0),
      |ch AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NOT NULL
      |      AND lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS chg
      |  FROM sg),
      |agg AS (SELECT
      |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_plus,
      |    CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_minus,
      |    CAST(SUM(chg) + 1 AS BIGINT) AS n_runs
      |  FROM ch),
      |f AS (SELECT n_plus, n_minus, n_runs,
      |    CAST(n_runs * (n_plus + n_minus) - (n_plus + n_minus)
      |      - 2 * n_plus * n_minus AS BIGINT) AS a_num
      |  FROM agg)
      |SELECT n_plus, n_minus, n_runs, a_num,
      |  (10000::HUGEINT * a_num * a_num * (n_plus + n_minus - 1)
      |    >= 76832::HUGEINT * n_plus * n_minus
      |       * (2 * n_plus * n_minus - n_plus - n_minus)) AS non_random
      |FROM f""".stripMargin

  /** SPEARMAN RANK CORRELATION (ρ) — the monotone-association measure
    * completing the correlation triptych: p10/p23 Pearson (linear,
    * moment-based), p29 Kendall τ-b (pair votes), and now Pearson ON
    * MIDRANKS — robust to monotone transforms and outliers but cheaper
    * than Kendall's pair join (rank domain + moments, no O(n²) votes).
    * Daily order count vs daily revenue cents over the same calendar
    * aggregate as p29. Midranks carried DOUBLED so ties stay integral
    * (2·r(v) = 2·#{strictly below} + #{equal} + 1 — the p28 midrank
    * identity), so every moment sum is an exact BIGINT. ρ = (M·Σxy −
    * Σx·Σy)∕(√(M·Σx²−(Σx)²)·√(M·Σy²−(Σy)²)) is the ONE final float:
    * numerator and both factors ≈ 10¹³⁻¹⁴ < 2⁵³ so their BIGINT→DOUBLE
    * casts are exact, and IEEE sqrt/·/÷ on the pinned expression tree
    * are correctly rounded in both engines (the factors multiply AFTER
    * their square roots precisely because f_x·f_y ≈ 10²⁶ would NOT be
    * exact in a double). Scale shape: corpus → calendar partial agg,
    * midranks via count-histogram + cumulative window over each
    * DISTINCT-VALUE domain (p17/p19 two-level discipline), joined back
    * on the value key — domain-sized hash joins, no corpus window. */
  def p33Spearman(sp: SparkSession, dir: String): DataFrame = {
    val d = orders(sp, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    def ranks2(key: String, out: String): DataFrame = {
      val cumW = org.apache.spark.sql.expressions.Window.orderBy(key)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      d.groupBy(col(key)).agg(count(lit(1)).as("cc"))
        .withColumn("before", coalesce(sum(col("cc")).over(cumW), lit(0L)))
        .select(col(key),
          (col("before") * 2 + col("cc") + 1).as(out))
    }
    val j = d
      .join(broadcast(ranks2("cnt", "x")), "cnt")
      .join(broadcast(ranks2("cents", "y")), "cents")
    j.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .select(col("m").as("n_days"),
        (col("m") * col("sx2") - col("sx") * col("sx")).as("f_x"),
        (col("m") * col("sy2") - col("sy") * col("sy")).as("f_y"),
        (col("m") * col("sxy") - col("sx") * col("sy")).as("num"))
      .select(col("n_days"), col("f_x"), col("f_y"), col("num"),
        (col("num").cast("double") /
          (sqrt(col("f_x").cast("double"))
            * sqrt(col("f_y").cast("double")))).as("rho"))
  }

  val p33Sql: String =
    """WITH d AS (SELECT o_orderdate AS day, count(*) AS cnt,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |hx AS (SELECT cnt, count(*) AS cc FROM d GROUP BY 1),
      |rx AS (SELECT cnt, COALESCE(SUM(cc) OVER (ORDER BY cnt
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      |    + cc + 1 AS x FROM hx),
      |hy AS (SELECT cents, count(*) AS cc FROM d GROUP BY 1),
      |ry AS (SELECT cents, COALESCE(SUM(cc) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      |    + cc + 1 AS y FROM hy),
      |j AS (SELECT rx.x, ry.y FROM d
      |  JOIN rx USING (cnt) JOIN ry USING (cents)),
      |s AS (SELECT count(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
      |  FROM j)
      |SELECT CAST(m AS BIGINT) AS n_days,
      |  CAST(m * sx2 - sx * sx AS BIGINT) AS f_x,
      |  CAST(m * sy2 - sy * sy AS BIGINT) AS f_y,
      |  CAST(m * sxy - sx * sy AS BIGINT) AS num,
      |  CAST(m * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(m * sx2 - sx * sx AS DOUBLE))
      |       * sqrt(CAST(m * sy2 - sy * sy AS DOUBLE))) AS rho
      |FROM s""".stripMargin

  /** KENDALL τ-b RANK CORRELATION — the concordance test beside p23's
    * Pearson autocorrelation and p28's MWU: do daily revenue and daily
    * order count move TOGETHER, measured by pair concordance, so one
    * monster order on a slow day (which drags Pearson around) counts as
    * exactly one discordant vote. All counts exact integers: over every
    * day pair (2399·2398∕2 at any SF — the CALENDAR domain squared,
    * never the corpus), concordant = (Δcnt·Δcents > 0), discordant < 0,
    * tie counts per axis; τ_b = (C−D)∕√((n₀−t_x)(n₀−t_y)) is the ONE
    * final float, both engines evaluating the identical expression on
    * exactly-equal integer operands ((n₀)² ≈ 8·10¹² < 2⁵³, so the
    * product is exact in the double and IEEE sqrt/division are
    * correctly rounded in both). Scale shape: corpus → daily partial
    * agg (one shuffle), then the pair join is a broadcast
    * nested-loop over the 2.4k-row calendar table — domain-sized by
    * construction; cents ride the exact DECIMAL(18,2) money tree. */
  def p29KendallTau(sp: SparkSession, dir: String): DataFrame = {
    val d = orders(sp, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val pairs = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
      .select(((col("a.cnt") - col("b.cnt"))
          * (col("a.cents") - col("b.cents"))).as("prod"),
        (col("a.cnt") === col("b.cnt")).cast("long").as("tx"),
        (col("a.cents") === col("b.cents")).cast("long").as("ty"))
    val nDays = d.agg(count(lit(1)).as("n_days"))
    pairs
      .agg(count(lit(1)).as("n0"),
        sum(when(col("prod") > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).as("disc"),
        sum(col("tx")).as("ties_x"),
        sum(col("ty")).as("ties_y"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n0"), col("conc"), col("disc"),
        col("ties_x"), col("ties_y"),
        ((col("conc") - col("disc")).cast("double") /
          sqrt(((col("n0") - col("ties_x"))
            * (col("n0") - col("ties_y"))).cast("double"))).as("tau_b"))
  }

  val p29Sql: String =
    """WITH d AS (SELECT o_orderdate AS day, count(*) AS cnt,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |p AS (SELECT
      |    (a.cnt - b.cnt) * (a.cents - b.cents) AS prod,
      |    CASE WHEN a.cnt = b.cnt THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END AS ty
      |  FROM d a JOIN d b ON a.day < b.day),
      |s AS (SELECT count(*) AS n0,
      |    CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS conc,
      |    CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS disc,
      |    CAST(SUM(tx) AS BIGINT) AS ties_x,
      |    CAST(SUM(ty) AS BIGINT) AS ties_y
      |  FROM p)
      |SELECT (SELECT count(*) FROM d) AS n_days, n0, conc, disc,
      |  ties_x, ties_y,
      |  CAST(conc - disc AS DOUBLE) /
      |    sqrt(CAST((n0 - ties_x) * (n0 - ties_y) AS DOUBLE)) AS tau_b
      |FROM s""".stripMargin

  /** MANN–WHITNEY U DRIFT — the rank-based two-sample location test
    * beside p9's KS (CDF gap) and p27's chi-square (binned shape):
    * non-parametric, outlier-robust, and here INTEGER-EXACT end to end.
    * view-values vs purchase-values; ranks are midranks over the
    * combined sample carried DOUBLED so ties stay integral (2·avgrank
    * of a tied value = 2·preceding + count + 1), giving exact 2·R₁ and
    * 2·U₁; the z²-vs-3.8416 (α = 0.05 two-sided, plain normal approx,
    * no tie correction — documented) decision cross-multiplies as
    * 3·(2U−n₁n₂)²·10⁴ ≥ 38416·n₁n₂·(n₁+n₂+1) in DECIMAL(38)/HUGEINT
    * (magnitudes ≤ ~3·10²⁴ at sf0.1 — far inside both). Scale shape:
    * one corpus→domain partial agg (per-value group counts), then the
    * cumulative window runs over the DISTINCT-VALUE domain only (~20k
    * rows at sf0.1; the p17/p19 two-level discipline — never a
    * corpus-sized global window). */
  def p28MwuDrift(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.mannWhitney(
      events(sp, dir)
        .filter(col("event_type").isin("view", "purchase") &&
          col("value").isNotNull),
      col("event_type") === "view", col("value").cast("double"))

  val p28Sql: String =
    """WITH ev AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      |  FROM events
      |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
      |vals AS (SELECT v,
      |    count(*) FILTER (g = 'view') AS c1,
      |    count(*) FILTER (g = 'purchase') AS c2
      |  FROM ev GROUP BY v),
      |rk AS (SELECT c1, c2, COALESCE(SUM(c1 + c2) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM vals),
      |s AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,
      |    SUM(c1 * (before * 2 + c1 + c2 + 1)) AS r1_2 FROM rk),
      |u AS (SELECT n1, n2, r1_2, r1_2 - n1 * (n1 + 1) AS u1_2 FROM s)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(r1_2 AS BIGINT) AS r1_2, CAST(u1_2 AS BIGINT) AS u1_2,
      |  CAST(n1 * n2 * 2 - u1_2 AS BIGINT) AS u2_2,
      |  (3::HUGEINT * (u1_2 - n1 * n2) * (u1_2 - n1 * n2) * 10000
      |    >= 38416::HUGEINT * n1 * n2 * (n1 + n2 + 1)) AS shifted
      |FROM u""".stripMargin

  /** QUALITY-FILTER BIAS AUDIT via exact ROC-AUC
    * ([[graft.operators.Profile.rocAuc]]) — the standard check that a
    * curation score does not systematically rank one language cohort
    * above the rest (the documented failure mode of English-tuned
    * quality filters on multilingual corpora): AUC of the t2 quality
    * kernel against the label lang = 'en', beside a hashed-score
    * CONTROL probe on the same cohort split whose AUC sits at the 0.5
    * null by construction. Both AUCs are the division of two exact
    * BIGINTs (2·U₁ with tie-halves / 2·n₊·n₋ — the p28 doubled-midrank
    * kernel), so the oracle replays them hash-exactly. Three probes
    * bracket the reading: `length_meter` validates the meter itself (a
    * score perfectly ordered with its own label must read exactly 1.0),
    * `hash_control` pins the 0.5 null, and `quality_vs_en` is the audit
    * — ≈ 0.50 on this corpus, i.e. NO language bias detected (the
    * synthetic text carries English stopwords at similar rates across
    * lang labels), which is itself the audit's finding: the meter is
    * proven live by the bracketing probes, so a clean reading means
    * clean, not broken. Scale shape: per-probe corpus → score-domain
    * counts, cumulative window over the score domain only. */
  def p35AucBias(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val sig = graft.operators.Profile.rocAuc(
      docs.select(col("lang"), Text.qualityScore(col("text")).as("q")),
      col("lang") === "en", col("q"))
      .withColumn("probe", lit("quality_vs_en"))
    val ctl = graft.operators.Profile.rocAuc(
      docs.select(col("lang"),
        pmod(Hashing.portableHash32(col("doc_id").cast("string")),
          lit(10000L)).cast("double").as("h")),
      col("lang") === "en", col("h"))
      .withColumn("probe", lit("hash_control"))
    val meter = graft.operators.Profile.rocAuc(
      docs.select(col("n_chars").cast("double").as("v"),
        (col("n_chars") >= 500L).as("p")),
      col("p"), col("v"))
      .withColumn("probe", lit("length_meter"))
    sig.unionByName(ctl).unionByName(meter)
      .select(col("probe"), col("n_pos"), col("n_neg"),
        col("auc_num2"), col("auc_den2"), col("auc"))
      .orderBy("probe")
  }

  val p35Sql: String = {
    def probe(tag: String, scoreExpr: String,
        labelExpr: String = "(lang = 'en')"): String =
      s"""SELECT '$tag' AS probe, n_pos, n_neg, auc_num2,
         |  CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den2,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST(auc_num2 AS DOUBLE)
         |      / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
         |FROM (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         |    CAST(SUM(nn) AS BIGINT) AS n_neg,
         |    CAST(SUM(np * (bfr * 2 + np + nn + 1))
         |      - SUM(np) * (SUM(np) + 1) AS BIGINT) AS auc_num2
         |  FROM (
         |    SELECT np, nn, COALESCE(SUM(np + nn) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS bfr
         |    FROM (
         |      SELECT v, count(*) FILTER (p) AS np,
         |        count(*) FILTER (NOT p) AS nn
         |      FROM (SELECT $labelExpr AS p, $scoreExpr AS v
         |            FROM documents) GROUP BY v)))""".stripMargin
    s"""${probe("quality_vs_en", qualitySqlExpr)}
       |UNION ALL
       |${probe("hash_control",
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))" +
          "::BIGINT % 10000 AS DOUBLE)")}
       |UNION ALL
       |${probe("length_meter", "CAST(n_chars AS DOUBLE)",
        "(n_chars >= 500)")}
       |ORDER BY probe""".stripMargin
  }

  /** BENFORD FIRST-DIGIT SCREEN — the classic fabricated-numbers
    * detector (fraud audits, synthetic-data detection): the leading
    * significant digit of naturally-grown multi-magnitude quantities
    * follows P(d) = log10(1 + 1∕d); uniform or generated numbers do
    * not. The 5-decimal Benford probabilities in basis-points-of-10⁵
    * (30103 … 4576) sum to EXACTLY 10⁵, so expectations are exact
    * rationals: per digit the chi-square term cross-multiplies as
    * (O_d·10⁵ − N·p_d)² ∕ (10⁵·N·p_d) — every input an exact BIGINT,
    * one shared IEEE tree (the p27 per-term contract; a 9-term double
    * total has no portable fold order). The DECISION is Nigrini's MAD
    * screen made integer-exact: mad_num = Σ_d |O_d·10⁵ − N·p_d| is a
    * plain integer SUM (portable), and conformity (MAD ≤ 0.015) is the
    * cross-multiplied comparison mad_num·1000 ≤ 15·9·N·10⁵ — no float
    * in the verdict at all. First digit via the integer cents' leading
    * character (no float log10). On this corpus the verdict is
    * NONCONFORMING — synthetic uniform prices flunk Benford, which is
    * exactly what the screen exists to catch. Scale: one digit-domain
    * agg (9 cells); everything after is 9-row arithmetic. Overflow:
    * dev² leaves int64 already near N ≈ 10⁶ (caught live by the sf1
    * probe), so the square rides DECIMAL(38)/HUGEINT; every other
    * term stays inside int64 through N ≈ 10⁹ and the float-free MAD
    * verdict through N ≈ 6·10¹². */
  def p36Benford(sp: SparkSession, dir: String): DataFrame = {
    val pBp = Map(1 -> 30103L, 2 -> 17609L, 3 -> 12494L, 4 -> 9691L,
      5 -> 7918L, 6 -> 6695L, 7 -> 5799L, 8 -> 5115L, 9 -> 4576L)
    val cents = orders(sp, dir)
      .select((graft.Tables.dec(col("o_totalprice")) * 100)
        .cast("long").as("c"))
      .filter(col("c") > 0)
    val obs = cents
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val pCol = pBp.foldLeft(lit(null).cast("long")) {
      case (acc, (d, p)) => when(col("digit") === d, p).otherwise(acc)
    }
    val withP = obs.withColumn("p_bp", pCol)
    val n1 = withP.agg(sum(col("n_obs")).as("__n"))
    withP.crossJoin(broadcast(n1))
      .withColumn("__dev", col("n_obs") * lit(100000L) -
        col("__n") * col("p_bp"))
      // dev² leaves int64 near N ≈ 10⁶ (the sf1 probe caught it live):
      // square in DECIMAL(38) / HUGEINT, one correctly-rounded final cast
      .withColumn("chi2_term",
        (col("__dev").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("__dev")).cast("double") /
          (lit(100000L) * col("__n") * col("p_bp")).cast("double"))
      .withColumn("__madnum", sum(abs(col("__dev"))).over())
      .select(col("digit"), col("n_obs"), col("p_bp"), col("chi2_term"),
        col("__madnum").as("mad_num"),
        (col("__madnum") * 1000L <=
          lit(15L) * 9L * col("__n") * 100000L).as("benford_conform"))
      .orderBy("digit")
  }

  val p36Sql: String =
    """WITH pb(digit, p_bp) AS (VALUES (1, 30103), (2, 17609),
      |  (3, 12494), (4, 9691), (5, 7918), (6, 6695), (7, 5799),
      |  (8, 5115), (9, 4576)),
      |c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |    AS BIGINT) AS c
      |  FROM orders
      |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |    AS BIGINT) > 0),
      |obs AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT)
      |    AS digit, CAST(count(*) AS BIGINT) AS n_obs
      |  FROM c GROUP BY 1),
      |j AS (SELECT o.digit, o.n_obs, CAST(p.p_bp AS BIGINT) AS p_bp,
      |    (SELECT SUM(n_obs) FROM obs) AS n
      |  FROM obs o JOIN pb p USING (digit)),
      |d AS (SELECT digit, n_obs, p_bp,
      |    n_obs * 100000 - n * p_bp AS dev, n FROM j),
      |m AS (SELECT CAST(SUM(abs(dev)) AS BIGINT) AS mad_num FROM d)
      |SELECT d.digit, d.n_obs, d.p_bp,
      |  CAST(CAST(d.dev AS HUGEINT) * d.dev AS DOUBLE) /
      |    CAST(100000 * d.n * d.p_bp AS DOUBLE) AS chi2_term,
      |  m.mad_num,
      |  m.mad_num * 1000 <= 15 * 9 * d.n * 100000 AS benford_conform
      |FROM d CROSS JOIN m ORDER BY digit""".stripMargin

  /** GINI CONCENTRATION AUDIT — the corpus-dominance check a curation
    * pipeline runs before committing a mix ("is the corpus a few
    * sources wearing a trench coat?"): the Gini coefficient of token
    * mass across sources and of spend across ordering customers, via
    * the sorted formulation G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) ∕ (n·Σx) —
    * gini_num and gini_den exact BIGINTs, one final float. Tie order
    * between equal masses is irrelevant to the sum (swapping equal
    * values fixes Σ i·x₍ᵢ₎), so the row_number tie-break is cosmetic.
    * Scale shape: the corpus reduces to the UNIT domain first (one
    * partial agg per probe — 20 sources / customer count), and the
    * rank window runs over that domain only, never corpus rows (the
    * p9/p28 two-level discipline). Units are groups with mass > 0
    * present in the data (customers without orders are not units). */
  def p37Gini(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def gini(units: DataFrame, probe: String): DataFrame = {
      val w = Window.orderBy(col("x"), col("u"))
      units.withColumn("i", row_number().over(w))
        .agg(count(lit(1)).as("n_units"), sum(col("x")).as("total"),
          sum(col("x") * col("i")).as("__ix"))
        .select(lit(probe).as("probe"), col("n_units"), col("total"),
          (lit(2L) * col("__ix") - (col("n_units") + 1) * col("total"))
            .as("gini_num"),
          (col("n_units") * col("total")).as("gini_den"),
          when(col("n_units") * col("total") === 0,
            lit(null).cast("double"))
            .otherwise((lit(2L) * col("__ix") -
              (col("n_units") + 1) * col("total")).cast("double") /
              (col("n_units") * col("total")).cast("double"))
            .as("gini"))
    }
    val bySource = documents(sp, dir)
      .groupBy(col("source").as("u"))
      .agg(sum(Text.tokenCount(col("text")).cast("long")).as("x"))
    val byCust = orders(sp, dir)
      .groupBy(col("o_custkey").as("u"))
      .agg(sum((graft.Tables.dec(col("o_totalprice")) * 100)
        .cast("long")).as("x"))
    gini(bySource, "tokens_by_source")
      .unionByName(gini(byCust.select(col("u").cast("long").as("u"),
        col("x")), "spend_by_customer"))
      .orderBy("probe")
  }

  val p37Sql: String = {
    def probe(tag: String, unitsSql: String): String =
      s"""SELECT '$tag' AS probe,
         |  CAST(COUNT(*) AS BIGINT) AS n_units,
         |  CAST(SUM(x) AS BIGINT) AS total,
         |  CAST(2 * SUM(x * i) - (COUNT(*) + 1) * SUM(x) AS BIGINT)
         |    AS gini_num,
         |  CAST(COUNT(*) * SUM(x) AS BIGINT) AS gini_den,
         |  CASE WHEN COUNT(*) * SUM(x) = 0 THEN NULL ELSE
         |    CAST(2 * SUM(x * i) - (COUNT(*) + 1) * SUM(x) AS DOUBLE) /
         |    CAST(COUNT(*) * SUM(x) AS DOUBLE) END AS gini
         |FROM (SELECT x, row_number() OVER (ORDER BY x, u) AS i
         |      FROM ($unitsSql))""".stripMargin
    s"""${probe("spend_by_customer",
        """SELECT o_custkey AS u,
          |  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
          |    AS BIGINT)) AS x
          |FROM orders GROUP BY 1""".stripMargin)}
       |UNION ALL
       |${probe("tokens_by_source",
        s"""SELECT source AS u, SUM(CAST(len($Toks) AS BIGINT)) AS x
           |FROM documents GROUP BY 1""".stripMargin)}
       |ORDER BY probe""".stripMargin
  }

  /** POPULATION STABILITY INDEX (PSI) drift — THE production
    * ML-monitoring metric beside p9's KS, p27's chi-square and p28's
    * rank test, on the SAME first-half-of-January split and 20-bin
    * grid as p27 so the families compare: PSI = Σ (pᵢ−qᵢ)·log(pᵢ∕qᵢ),
    * computed here in LOG2 units (PSI₂ = PSI·log2 e — a monotone
    * rescale with its own round thresholds, because ln is
    * transcendental and IEEE ln differs across libms while the t60
    * Q16 log2 kernel ([[graft.operators.NaiveBayes.logTable]], reused
    * verbatim) is a pure integer function both engines replay). With
    * add-one smoothing per observed bin (a' = o_a+1, A' = ΣA+bins —
    * zero-side bins stay defined), each bin's mass is the EXACT
    * integer psi2_num = (a'·B' − b'·A')·(L(a'·B') − L(b'·A')) over the
    * shared den = A'·B'·2¹⁶ — nonneg by construction since truncated
    * log2 is monotone, so the TOTAL is a portable integer sum (unlike
    * p27's per-term-only contract!) and the verdict is float-free:
    * stable iff 10·Σnum < den (PSI₂ < 0.1), shifted iff 4·Σnum ≥ den
    * (PSI₂ ≥ 0.25), drifting between. Scale: corpus → 20 bin cells,
    * then the log recurrence over ≤ 2·bins distinct masses; int64
    * holds through ~10⁹ rows per side (then DECIMAL, documented). */
  def p38Psi(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val v = col("value").cast("double")
    val stats = ev.agg(min(v).as("__mn"), max(v).as("__mx"))
    val counts = ev.filter(v.isNotNull)
      .withColumn("__a", col("ts") < lit("2024-01-16").cast("timestamp"))
      .crossJoin(broadcast(stats))
      .select(least(floor((v - col("__mn")) * 20.0 /
          (col("__mx") - col("__mn"))), lit(19.0)).cast("int").as("bin"),
        col("__a"))
      .groupBy(col("bin"))
      .agg(count(when(col("__a"), 1)).as("o_a"),
        count(when(!col("__a"), 1)).as("o_b"))
    val tot = counts.agg((sum(col("o_a")) + count(lit(1))).as("__ap"),
      (sum(col("o_b")) + count(lit(1))).as("__bp"))
    // staged: `masses` feeds FOUR subtrees below (need x2, terms, and
    // through ltab both join sides) — without a cut each replays the
    // full events scan + bin agg; ltab staged so the 16-step decimal
    // recurrence runs once, not once per join side (both bin-domain
    // sized: <=20 and <=40 rows)
    val masses = graft.Tables.stage(counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("o_a"), col("o_b"),
        ((col("o_a") + 1) * col("__bp")).as("__xa"),
        ((col("o_b") + 1) * col("__ap")).as("__xb"),
        col("__ap"), col("__bp")), "graft-p38-masses")
    val need = masses.select(col("__xa").as("x"))
      .union(masses.select(col("__xb").as("x")))
    val ltab = graft.Tables.stage(
      graft.operators.NaiveBayes.logTable(need), "graft-p38-ltab")
    val terms = masses
      .join(ltab.select(col("x").as("__xa"), col("l").as("__la")),
        Seq("__xa"))
      .join(ltab.select(col("x").as("__xb"), col("l").as("__lb")),
        Seq("__xb"))
      .select(col("bin"), col("o_a"), col("o_b"),
        ((col("__xa") - col("__xb")) * (col("__la") - col("__lb")))
          .as("psi2_num"),
        (col("__ap") * col("__bp") * lit(65536L)).as("psi2_den"))
    val totals = terms.agg(sum(col("psi2_num")).as("__tn"),
      max(col("psi2_den")).as("__td"))
    terms.crossJoin(broadcast(totals))
      .select(col("bin"), col("o_a"), col("o_b"), col("psi2_num"),
        col("psi2_den"),
        (col("psi2_num").cast("double") / col("psi2_den").cast("double"))
          .as("term"),
        (col("__tn").cast("double") / col("__td").cast("double"))
          .as("psi2_total"),
        when(col("__tn") * 10 < col("__td"), "stable")
          .when(col("__tn") * 4 >= col("__td"), "shifted")
          .otherwise("drifting").as("verdict"))
      .orderBy("bin")
  }

  val p38Sql: String =
    """WITH RECURSIVE st AS (SELECT min(CAST(value AS DOUBLE)) AS mn,
      |    max(CAST(value AS DOUBLE)) AS mx FROM events),
      |b AS (SELECT CAST(least(floor((CAST(value AS DOUBLE) - mn) * 20.0
      |      / (mx - mn)), 19.0) AS INT) AS bin,
      |    (make_timestamp(epoch_ns(ts) // 1000)
      |      < TIMESTAMP '2024-01-16') AS a
      |  FROM events, st WHERE value IS NOT NULL),
      |c AS (SELECT bin, count(*) FILTER (a) AS o_a,
      |    count(*) FILTER (NOT a) AS o_b
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(o_a) + COUNT(*) AS BIGINT) AS ap,
      |    CAST(SUM(o_b) + COUNT(*) AS BIGINT) AS bp FROM c),
      |ms AS (SELECT bin, o_a, o_b,
      |    CAST((o_a + 1) * bp AS BIGINT) AS xa,
      |    CAST((o_b + 1) * ap AS BIGINT) AS xb, ap, bp
      |  FROM c, t),
      |need AS (SELECT DISTINCT x FROM (
      |  SELECT xa AS x FROM ms UNION SELECT xb FROM ms)),
      |lg(x, m, i, frac) AS (
      |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
      |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
      |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
      |    0, CAST(0 AS BIGINT)
      |  FROM need
      |  UNION ALL
      |  SELECT x,
      |    CAST(CASE WHEN m::HUGEINT * m >=
      |        9223372036854775807::HUGEINT + 1
      |      THEN (m::HUGEINT * m) // 4294967296
      |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
      |    i + 1,
      |    frac * 2 + CASE WHEN m::HUGEINT * m >=
      |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
      |  FROM lg WHERE i < 16),
      |ltab AS (SELECT x,
      |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
      |  FROM lg WHERE i = 16),
      |terms AS (SELECT ms.bin, ms.o_a, ms.o_b,
      |    CAST((ms.xa - ms.xb) * (la.l - lb.l) AS BIGINT) AS psi2_num,
      |    CAST(ms.ap * ms.bp * 65536 AS BIGINT) AS psi2_den
      |  FROM ms JOIN ltab la ON la.x = ms.xa
      |  JOIN ltab lb ON lb.x = ms.xb),
      |tt AS (SELECT CAST(SUM(psi2_num) AS BIGINT) AS tn,
      |    CAST(MAX(psi2_den) AS BIGINT) AS td FROM terms)
      |SELECT terms.bin, CAST(terms.o_a AS BIGINT) AS o_a,
      |  CAST(terms.o_b AS BIGINT) AS o_b,
      |  terms.psi2_num, terms.psi2_den,
      |  CAST(terms.psi2_num AS DOUBLE) / CAST(terms.psi2_den AS DOUBLE)
      |    AS term,
      |  CAST(tt.tn AS DOUBLE) / CAST(tt.td AS DOUBLE) AS psi2_total,
      |  CASE WHEN tt.tn * 10 < tt.td THEN 'stable'
      |       WHEN tt.tn * 4 >= tt.td THEN 'shifted'
      |       ELSE 'drifting' END AS verdict
      |FROM terms CROSS JOIN tt ORDER BY bin""".stripMargin

  /** COHEN'S KAPPA LABEL AGREEMENT — the label-quality audit between
    * the pipeline's INGEST language label and the t3 language-ID
    * model's prediction: raw agreement p_o overstates quality when the
    * marginals are skewed, so kappa subtracts chance agreement p_e
    * from the confusion-matrix marginals. INTEGER-EXACT end to end:
    * kappa = (N·Σdiag − Σᵢ rowᵢ·colᵢ) ∕ (N² − Σᵢ rowᵢ·colᵢ) — both
    * sides exact BIGINTs, one final float (int64 holds through
    * N ≈ 3·10⁹ docs). Output: one row per confusion cell (label,
    * pred, n) with the global n_total/n_agree/kappa_num/kappa_den/
    * kappa pinned as columns — the full matrix is the artifact, kappa
    * the headline. On this corpus the model never predicts 'zh' (it
    * has no zh stopword list) and the synthetic text is
    * language-blind, so kappa reads ≈ 0 — the audit correctly says
    * the ingest labels and the model share no signal (the honest
    * companion of a24's embedding-label probe). Scale: corpus → the
    * label×pred cell domain in one partial agg; everything after is
    * cell-domain arithmetic. */
  def p39Kappa(sp: SparkSession, dir: String): DataFrame = {
    val cm = documents(sp, dir)
      .select(col("lang"), Text.langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
    val g = cm.agg(sum(col("n")).as("__N"),
      sum(when(col("lang") === col("pred"), col("n")).otherwise(0L))
        .as("__diag"))
    val rows = cm.groupBy(col("lang")).agg(sum(col("n")).as("__r"))
    val cols = cm.groupBy(col("pred")).agg(sum(col("n")).as("__c"))
    val pe = rows.join(cols, rows("lang") === cols("pred"))
      .agg(coalesce(sum(col("__r") * col("__c")), lit(0L)).as("__rc"))
    cm.crossJoin(broadcast(g)).crossJoin(broadcast(pe))
      .select(col("lang"), col("pred"), col("n"),
        col("__N").as("n_total"), col("__diag").as("n_agree"),
        (col("__N") * col("__diag") - col("__rc")).as("kappa_num"),
        (col("__N") * col("__N") - col("__rc")).as("kappa_den"),
        when(col("__N") * col("__N") - col("__rc") === 0,
          lit(null).cast("double"))
          .otherwise((col("__N") * col("__diag") - col("__rc"))
            .cast("double") /
            (col("__N") * col("__N") - col("__rc")).cast("double"))
          .as("kappa"))
      .orderBy("lang", "pred")
  }

  val p39Sql: String =
    s"""WITH cm AS (SELECT lang, ($langIdSqlExpr) AS pred,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |    CAST(SUM(CASE WHEN lang = pred THEN n ELSE 0 END) AS BIGINT)
       |      AS diag FROM cm),
       |r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rr FROM cm
       |  GROUP BY 1),
       |c AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS cc FROM cm
       |  GROUP BY 1),
       |pe AS (SELECT CAST(coalesce(SUM(r.rr * c.cc), 0) AS BIGINT) AS rc
       |  FROM r JOIN c ON r.lang = c.pred)
       |SELECT cm.lang, cm.pred, cm.n, g.nn AS n_total,
       |  g.diag AS n_agree,
       |  CAST(g.nn * g.diag - pe.rc AS BIGINT) AS kappa_num,
       |  CAST(g.nn * g.nn - pe.rc AS BIGINT) AS kappa_den,
       |  CASE WHEN g.nn * g.nn - pe.rc = 0 THEN NULL ELSE
       |    CAST(g.nn * g.diag - pe.rc AS DOUBLE) /
       |    CAST(g.nn * g.nn - pe.rc AS DOUBLE) END AS kappa
       |FROM cm CROSS JOIN g CROSS JOIN pe
       |ORDER BY lang, pred""".stripMargin

  /** ISOTONIC SCORE CALIBRATION ([[graft.operators.Isotonic]]) — the
    * classifier-calibration step (Zadrozny–Elkan KDD'02) between t2's
    * quality score and p39's label-agreement signal: per 1∕16-wide
    * score bin, the fraction of docs whose ingest lang matches the t3
    * prediction, fitted to the unique monotone non-decreasing curve by
    * pool-adjacent-violators. Corpus reduces map-side to ≤16 (bin, n,
    * n_pos) rows; PAV runs driver-side in EXACT Long cross-multiplied
    * fractions (the centroid discipline — no float decides a pooling),
    * and each emitted fit is one correctly-rounded IEEE division. The
    * oracle computes the fit by a DIFFERENT algorithm — the max-min
    * characterization fit_i = max_{j≤i} min_{k≥i} avg(j..k), a triple
    * self-join over the bin domain — so the hash equality checks the
    * PAV = max-min THEOREM on real data (the g23 two-algorithms
    * discipline); distinct pool rates differ by ≥ 1∕(c·c′) ≫ double
    * ulp, so the double comparisons can never misorder. Binning
    * floors q·16 in both engines (DuckDB CAST(double AS INT) ROUNDS —
    * floor() is the portable form). */
  def p40Isotonic(sp: SparkSession, dir: String): DataFrame = {
    val d = documents(sp, dir).select(
      least(floor(Text.qualityScore(col("text")) * 16), lit(15.0))
        .cast("long").as("bin"),
      (col("lang") === Text.langId(col("text"))).as("pos"))
    graft.operators.Isotonic
      .isotonicCalibration(d, col("bin"), col("pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("fit"), 6).as("fit"))
      .orderBy("bin")
  }

  val p40Sql: String =
    s"""WITH d AS (SELECT
       |    CAST(LEAST(FLOOR(($qualitySqlExpr) * 16), 15) AS BIGINT)
       |      AS bin,
       |    (lang = ($langIdSqlExpr)) AS pos
       |  FROM documents),
       |b AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM d GROUP BY 1),
       |o AS (SELECT bin, n, n_pos,
       |    ROW_NUMBER() OVER (ORDER BY bin) AS i,
       |    SUM(n) OVER (ORDER BY bin) AS cn,
       |    SUM(n_pos) OVER (ORDER BY bin) AS cs
       |  FROM b),
       |op AS (SELECT o.*, COALESCE(LAG(cn) OVER (ORDER BY i), 0) AS pn,
       |    COALESCE(LAG(cs) OVER (ORDER BY i), 0) AS ps
       |  FROM o),
       |inner_min AS (SELECT jj.i AS j, ii.i AS i,
       |    MIN(CAST(kk.cs - jj.ps AS DOUBLE) /
       |        CAST(kk.cn - jj.pn AS DOUBLE)) AS mn
       |  FROM op ii JOIN op jj ON jj.i <= ii.i
       |  JOIN op kk ON kk.i >= ii.i
       |  GROUP BY 1, 2),
       |ft AS (SELECT i, MAX(mn) AS fit FROM inner_min GROUP BY i)
       |SELECT op.bin, op.n, op.n_pos, round(ft.fit, 6) AS fit
       |FROM op JOIN ft ON ft.i = op.i
       |ORDER BY op.bin""".stripMargin

  /** CALIBRATION AUDIT — ECE + binned Brier, EXACT (the
    * calibration-triple closer beside p40's isotonic fit and p35's
    * AUC: isotonic asks "what monotone curve fits", AUC asks "does it
    * rank", this asks "can the raw score be READ as a probability").
    * On p40's exact 1/16 bins with bin-midpoint forecasts
    * f_b = (2b+1)/32, both headline metrics are SINGLE exact
    * integers: ECE·32N = Σ_b |(2b+1)·n_b − 32·s_b| (each bin's
    * n_b·|f_b − ȳ_b| times 32N is that absolute integer) and
    * Brier·1024N = Σ_b [(2b+1)²·n_b − 64·(2b+1)·s_b + 1024·s_b]
    * (y² = y collapses the square), with uncertainty S(N−S)/N²
    * exact — so the `calibrated` verdict (ECE < 0.1) is float-free
    * cross-multiplication and every float is one division of two
    * pinned BIGINTs. Corpus reduces map-side to ≤ 16 bin rows; the
    * per-bin signed gap_num localizes WHERE the score lies about
    * its probability. */
  def p43Calibration(sp: SparkSession, dir: String): DataFrame = {
    val d = documents(sp, dir).select(
      least(floor(Text.qualityScore(col("text")) * 16), lit(15.0))
        .cast("long").as("bin"),
      (col("lang") === Text.langId(col("text"))).as("pos"))
    val m = lit(2) * col("bin") + 1
    val b = d.groupBy(col("bin")).agg(count(lit(1)).as("n"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
    val tot = b.agg(sum(col("n")).as("__N"), sum(col("n_pos")).as("__S"),
      sum(abs(m * col("n") - lit(32) * col("n_pos"))).as("__ece"),
      sum(m * m * col("n") - lit(64) * m * col("n_pos") +
        lit(1024) * col("n_pos")).as("__bn"))
    b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        (m.cast("double") / 32.0).as("forecast_mid"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("observed"),
        (m * col("n") - lit(32) * col("n_pos")).as("gap_num"),
        col("__ece").as("ece_num"),
        (lit(32L) * col("__N")).as("ece_den"),
        (col("__ece").cast("double") /
          (lit(32L) * col("__N")).cast("double")).as("ece"),
        col("__bn").as("brier_num"),
        (lit(1024L) * col("__N")).as("brier_den"),
        (col("__bn").cast("double") /
          (lit(1024L) * col("__N")).cast("double")).as("brier"),
        (col("__S") * (col("__N") - col("__S"))).as("unc_num"),
        (col("__N") * col("__N")).as("unc_den"),
        when(col("__ece") * 10 < lit(32L) * col("__N"), "calibrated")
          .otherwise("miscalibrated").as("verdict"))
      .orderBy("bin")
  }

  val p43Sql: String =
    s"""WITH d AS (SELECT
       |    CAST(LEAST(FLOOR(($qualitySqlExpr) * 16), 15) AS BIGINT)
       |      AS bin,
       |    (lang = ($langIdSqlExpr)) AS pos
       |  FROM documents),
       |b AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS s
       |  FROM d GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |    CAST(SUM(s) AS BIGINT) AS ss,
       |    CAST(SUM(abs((2 * bin + 1) * n - 32 * s)) AS BIGINT) AS ece,
       |    CAST(SUM((2 * bin + 1) * (2 * bin + 1) * n
       |      - 64 * (2 * bin + 1) * s + 1024 * s) AS BIGINT) AS bn
       |  FROM b)
       |SELECT b.bin, b.n, b.s AS n_pos,
       |  CAST(2 * b.bin + 1 AS DOUBLE) / 32.0 AS forecast_mid,
       |  CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS observed,
       |  CAST((2 * b.bin + 1) * b.n - 32 * b.s AS BIGINT) AS gap_num,
       |  t.ece AS ece_num, CAST(32 * t.nn AS BIGINT) AS ece_den,
       |  CAST(t.ece AS DOUBLE) / CAST(32 * t.nn AS DOUBLE) AS ece,
       |  t.bn AS brier_num, CAST(1024 * t.nn AS BIGINT) AS brier_den,
       |  CAST(t.bn AS DOUBLE) / CAST(1024 * t.nn AS DOUBLE) AS brier,
       |  CAST(t.ss * (t.nn - t.ss) AS BIGINT) AS unc_num,
       |  CAST(t.nn * t.nn AS BIGINT) AS unc_den,
       |  CASE WHEN t.ece * 10 < 32 * t.nn THEN 'calibrated'
       |    ELSE 'miscalibrated' END AS verdict
       |FROM b, t ORDER BY b.bin""".stripMargin

  /** ROLLING 7-DAY DISTINCT ACTIVES (p41 — the WAU/DAU board metric,
    * and the exact sliding COUNT(DISTINCT) Spark's window frames cannot
    * express scalably: distinct has no partial state over a sliding
    * range, and a per-day set union serializes). The scalable form is
    * OFFSET EXPANSION: the corpus reduces to the DISTINCT (day, user)
    * domain, each pair map-side explodes to the 7 target days it makes
    * active, and one hash countDistinct per target day finishes —
    * shuffle carries (domain × 7), never raw events, never a user-set
    * state. Target days restricted to OBSERVED days (a trailing window
    * over phantom future days would report partial weeks as data).
    * actives_1d rides the same domain for the DAU/WAU ratio. */
  def p41RollingActives(sp: SparkSession, dir: String): DataFrame = {
    val du = events(sp, dir)
      .select(col("ts").cast("date").as("d"), col("user_id"))
      .distinct()
    val days = du.select(col("d")).distinct()
    val r7 = du
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("d"),
        col("user_id"))
      .select(date_add(col("d"), col("k")).as("d"), col("user_id"))
      .join(days, Seq("d"), "left_semi")
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("actives_7d"))
    val r1 = du.groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("actives_1d"))
    r1.join(r7, Seq("d"))
      .select(col("d"), col("actives_1d"), col("actives_7d"),
        round(col("actives_1d").cast("double") /
          col("actives_7d").cast("double"), 6).as("stickiness"))
      .orderBy("d")
  }

  val p41Sql: String =
    """WITH ev AS (SELECT
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS d,
      |    user_id FROM events),
      |du AS (SELECT DISTINCT d, user_id FROM ev),
      |days AS (SELECT DISTINCT d FROM du),
      |exp AS (SELECT du.d + CAST(k.k AS INT) AS d, du.user_id
      |  FROM du, range(0, 7) k(k)),
      |r7 AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |    AS actives_7d
      |  FROM exp WHERE d IN (SELECT d FROM days) GROUP BY 1),
      |r1 AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |    AS actives_1d
      |  FROM du GROUP BY 1)
      |SELECT r1.d, r1.actives_1d, r7.actives_7d,
      |  round(CAST(r1.actives_1d AS DOUBLE) /
      |    CAST(r7.actives_7d AS DOUBLE), 6) AS stickiness
      |FROM r1 JOIN r7 USING (d) ORDER BY d""".stripMargin

  /** MUTUAL-INFORMATION LEAKAGE AUDIT
    * ([[graft.operators.Profile.mutualInfo]]): MI(lang; source) over
    * documents — the "does a metadata column predict the label?"
    * screen beside p39's same-alphabet kappa, every log2 through the
    * t60 Q16 integer kernel so cell terms, entropies, the normalized
    * MI ratio and the verdict are all exact-integer-derived and
    * engine-portable. The synthetic corpus draws lang and source
    * (close to) independently — the audit should read `independent`
    * with NMI ≈ 0, and a leak would be the tripwire firing. */
  def p42MutualInfo(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.mutualInfo(
        documents(sp, dir), "lang", "source")
      .orderBy("x_val", "y_val")

  val p42Sql: String =
    """WITH RECURSIVE cells AS (
      |  SELECT lang AS x_val, source AS y_val,
      |    CAST(count(*) AS BIGINT) AS n_xy
      |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |  GROUP BY 1, 2),
      |mx AS (SELECT x_val, CAST(SUM(n_xy) AS BIGINT) AS n_x
      |  FROM cells GROUP BY 1),
      |my AS (SELECT y_val, CAST(SUM(n_xy) AS BIGINT) AS n_y
      |  FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
      |m AS (SELECT c.x_val, c.y_val, c.n_xy, mx.n_x, my.n_y, nn.n,
      |    CAST(nn.n * c.n_xy AS BIGINT) AS pa,
      |    CAST(mx.n_x * my.n_y AS BIGINT) AS pb
      |  FROM cells c JOIN mx USING (x_val) JOIN my USING (y_val), nn),
      |need AS (SELECT DISTINCT x FROM (
      |  SELECT pa AS x FROM m UNION SELECT pb FROM m
      |  UNION SELECT n_x FROM m UNION SELECT n_y FROM m
      |  UNION SELECT n FROM m)),
      |lg(x, m, i, frac) AS (
      |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
      |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
      |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
      |    0, CAST(0 AS BIGINT)
      |  FROM need
      |  UNION ALL
      |  SELECT x,
      |    CAST(CASE WHEN m::HUGEINT * m >=
      |        9223372036854775807::HUGEINT + 1
      |      THEN (m::HUGEINT * m) // 4294967296
      |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
      |    i + 1,
      |    frac * 2 + CASE WHEN m::HUGEINT * m >=
      |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
      |  FROM lg WHERE i < 16),
      |ltab AS (SELECT x,
      |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
      |  FROM lg WHERE i = 16),
      |terms AS (SELECT m.x_val, m.y_val, m.n_xy, m.n_x, m.n_y, m.n,
      |    CAST(m.n_xy * (la.l - lb.l) AS BIGINT) AS mi_num
      |  FROM m JOIN ltab la ON la.x = m.pa
      |  JOIN ltab lb ON lb.x = m.pb),
      |hx AS (SELECT CAST(SUM(mx.n_x * (ln.l - lx.l)) AS BIGINT)
      |    AS hx_num
      |  FROM mx, nn, ltab lx, ltab ln
      |  WHERE lx.x = mx.n_x AND ln.x = nn.n),
      |hy AS (SELECT CAST(SUM(my.n_y * (ln.l - ly.l)) AS BIGINT)
      |    AS hy_num
      |  FROM my, nn, ltab ly, ltab ln
      |  WHERE ly.x = my.n_y AND ln.x = nn.n),
      |tt AS (SELECT CAST(SUM(mi_num) AS BIGINT) AS mt FROM terms)
      |SELECT t.x_val, t.y_val, t.n_xy, t.n_x, t.n_y, t.mi_num,
      |  CAST(t.n * 65536 AS BIGINT) AS mi_den,
      |  CAST(tt.mt AS DOUBLE) / CAST(t.n * 65536 AS DOUBLE) AS mi_bits,
      |  CAST(hx.hx_num AS DOUBLE) / CAST(t.n * 65536 AS DOUBLE)
      |    AS h_x_bits,
      |  CAST(hy.hy_num AS DOUBLE) / CAST(t.n * 65536 AS DOUBLE)
      |    AS h_y_bits,
      |  CASE WHEN least(hx.hx_num, hy.hy_num) <= 0 THEN NULL
      |    ELSE CAST(tt.mt AS DOUBLE) /
      |      CAST(least(hx.hx_num, hy.hy_num) AS DOUBLE) END AS nmi,
      |  CASE WHEN least(hx.hx_num, hy.hy_num) <= 0 THEN 'degenerate'
      |    WHEN tt.mt * 20 < least(hx.hx_num, hy.hy_num)
      |      THEN 'independent'
      |    WHEN tt.mt * 2 >= least(hx.hx_num, hy.hy_num) THEN 'leaking'
      |    ELSE 'correlated' END AS verdict
      |FROM terms t, tt, hx, hy ORDER BY x_val, y_val""".stripMargin

  /** TWO-SAMPLE CHI-SQUARE DRIFT ([[graft.operators.Profile.chi2Drift]]):
    * events.value's distribution in the first half of January vs the
    * rest, on p8's shared 20-bin grid — the shape-drift monitor beside
    * p4's count/null drift. Per-bin contingency terms ride as raw
    * doubles (one shared integer-fed IEEE tree; no cross-engine fold
    * order exists for the 20-term sum, so terms are the contract). */
  def p27Chi2Drift(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.chi2Drift(events(sp, dir), "value",
        col("ts") < lit("2024-01-16").cast("timestamp"), 20)
      .orderBy("bin")

  val p27Sql: String =
    """WITH st AS (SELECT min(CAST(value AS DOUBLE)) AS mn,
      |    max(CAST(value AS DOUBLE)) AS mx FROM events),
      |b AS (SELECT CAST(least(floor((CAST(value AS DOUBLE) - mn) * 20.0
      |      / (mx - mn)), 19.0) AS INT) AS bin,
      |    (make_timestamp(epoch_ns(ts) // 1000)
      |      < TIMESTAMP '2024-01-16') AS a
      |  FROM events, st WHERE value IS NOT NULL),
      |c AS (SELECT bin, count(*) FILTER (a) AS o_a,
      |    count(*) FILTER (NOT a) AS o_b
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(o_a) AS BIGINT) AS na,
      |    CAST(SUM(o_b) AS BIGINT) AS nb FROM c),
      |d AS (SELECT bin, o_a, o_b,
      |    CAST(o_a + o_b AS DOUBLE) AS colt,
      |    CAST(na + nb AS DOUBLE) AS grand,
      |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
      |  FROM c, t)
      |SELECT bin, CAST(o_a AS BIGINT) AS o_a, CAST(o_b AS BIGINT) AS o_b,
      |  ((CAST(o_a AS DOUBLE) * grand - nad * colt)
      |     * (CAST(o_a AS DOUBLE) * grand - nad * colt))
      |    / (grand * nad * colt) AS term_a,
      |  ((CAST(o_b AS DOUBLE) * grand - nbd * colt)
      |     * (CAST(o_b AS DOUBLE) * grand - nbd * colt))
      |    / (grand * nbd * colt) AS term_b
      |FROM d ORDER BY bin""".stripMargin

  /** Audio activity segmentation ([[Multimodal.activeSegments]]): m4's
    * per-window PCM energies thresholded at 3·10¹⁰ (≈ the corpus median)
    * and merged into maximal active runs; per-doc segment structure. The
    * oracle extends m4's sample-exact replay with the same
    * gaps-and-islands reduction. */
  def m6AudioSegments(sp: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    Multimodal.activeSegments(
        Multimodal.wavEnergy(sp, media, window = 100).toDF(),
        threshold = 30000000000L)
      .orderBy("doc_id")
  }

  val m6Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id, CAST(k.k AS BIGINT) AS k,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id, k // 100 AS w,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM s),
       |en AS (SELECT doc_id, w, SUM(s16 * s16) AS energy
       |  FROM v GROUP BY doc_id, w),
       |act AS (SELECT doc_id, w,
       |    w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
       |  FROM en WHERE energy >= 30000000000),
       |seg AS (SELECT doc_id, grp, count(*) AS len
       |  FROM act GROUP BY doc_id, grp)
       |SELECT doc_id, count(*) AS n_segments, max(len) AS max_seg_len,
       |  CAST(sum(len) AS BIGINT) AS n_active
       |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ======================= streaming =======================

  /** True Structured-Streaming run: file source -> watermarked tumbling
    * window -> memory sink, drained to completion. The oracle aggregates the
    * same windows with time_bucket. */
  def s1StreamWindow(sp: SparkSession, dir: String): DataFrame = {
    val name = "s1_win_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val agg = graft.streaming.StreamOps.windowedAgg(
      graft.streaming.StreamOps.eventsStream(sp, dir), "1 hour", "1 hour")
    // update mode: the single-batch drain emits each window once, and the
    // memory sink holds only emitted rows — no driver-side rematerialization
    // of the whole aggregate per batch (complete mode's scale trap)
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "update")
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  val s1Sql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, make_timestamp(epoch_ns(ts) // 1000)) AS wstart,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin

  // ======================= sessionization =======================

  /** Session windows (10-min gap) over the events table — the batch face of
    * the streaming sessionizer (same session_window function runs under
    * Structured Streaming). */
  def s2Sessionize(sp: SparkSession, dir: String): DataFrame =
    events(sp, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  val s2Sql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events),
      |e AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |g AS (
      |  SELECT user_id, ts, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** STREAMING sessionization: the incremental twin of s2 — gap-based
    * session windows maintained as watermark-bounded state inside a real
    * streaming query ([[graft.streaming.StreamOps.sessionAgg]]), drained
    * via the update-mode memory sink. A 30-minute gap (vs s2's 10) keeps
    * the two gates from being the same query. Oracle: DuckDB
    * gaps-and-islands with the session_window boundary rule
    * (new session iff ts >= prev + gap). */
  def s6StreamSession(sp: SparkSession, dir: String): DataFrame = {
    val name = "s6_sess_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val agg = graft.streaming.StreamOps.sessionAgg(
      graft.streaming.StreamOps.eventsStream(sp, dir),
      "30 minutes", "1 hour")
    // session_window streams reject update mode; complete re-emits the
    // full aggregate per batch, which the single-batch drain makes
    // equivalent to one final emission (production would run append mode
    // and let the watermark finalize sessions incrementally).
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "complete")
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  val s6Sql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events),
      |e AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |g AS (
      |  SELECT user_id, ts, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Stream-static enrichment: the events stream joined per micro-batch to
    * the broadcast customer dimension
    * ([[graft.streaming.StreamOps.staticEnrich]] — stateless, no
    * watermark, the shape dimension enrichment should take instead of a
    * stream-stream join), then aggregated by nation in update mode. */
  def s7StreamEnrich(sp: SparkSession, dir: String): DataFrame = {
    val name = "s7_enr_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ev = graft.streaming.StreamOps.eventsStream(sp, dir)
    val cust = customer(sp, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val agg = graft.streaming.StreamOps
      .staticEnrich(ev, cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "update")
      .orderBy(col("c_nationkey"))
  }

  val s7Sql: String =
    """SELECT c_nationkey, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** STREAMING SCD2 (point-in-time) ENRICHMENT — s7 joins the CURRENT
    * dimension row; this joins the version VALID AT EACH EVENT'S TIME
    * (q31's warehouse staple, online): a 3-version tiered dimension with
    * per-key boundaries rides as a broadcast static table, each
    * micro-batch equi-joins on the key with window containment as the
    * residual — stateless, no watermark, the labeling rule that makes
    * streamed training features point-in-time correct (an event enriched
    * with a LATER dimension version is feature leakage, the online twin
    * of t43's train/eval contamination). At 100 TB/day the dim stays
    * dims-sized and broadcast; the residual filters the ~3 versions per
    * key after the hash match, never an inequality-only join. */
  def s28StreamScd2(sp: SparkSession, dir: String): DataFrame = {
    val name = "s28_scd_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ev = graft.streaming.StreamOps.eventsStream(sp, dir)
      .withColumn("k", col("user_id") % 50)
    val b1 = (lit(5) + col("id") % 12).cast("int")
    val b2 = (lit(18) + col("id") % 10).cast("int")
    val dim = sp.range(50).select(col("id").as("dk"), explode(array(
        struct(lit("bronze").as("tier"),
          make_date(lit(2024), lit(1), lit(1)).cast("timestamp").as("vf"),
          make_date(lit(2024), lit(1), b1).cast("timestamp").as("vt")),
        struct(lit("silver").as("tier"),
          make_date(lit(2024), lit(1), b1).cast("timestamp").as("vf"),
          make_date(lit(2024), lit(1), b2).cast("timestamp").as("vt")),
        struct(lit("gold").as("tier"),
          make_date(lit(2024), lit(1), b2).cast("timestamp").as("vf"),
          make_date(lit(2024), lit(2), lit(1)).cast("timestamp").as("vt"))))
        .as("v"))
      .select(col("dk"), col("v.tier"), col("v.vf"), col("v.vt"))
    val agg = graft.streaming.StreamOps
      .staticEnrich(ev, dim, col("k") === col("dk") &&
        col("ts") >= col("vf") && col("ts") < col("vt"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        sum((dec(col("value")) * 100).cast("long")).as("sum_cents"))
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "update")
      .orderBy("tier")
  }

  val s28Sql: String =
    """WITH dim AS (
      |  SELECT k.range AS dk, 'bronze' AS tier,
      |    CAST(make_date(2024, 1, 1) AS TIMESTAMP) AS vf,
      |    CAST(make_date(2024, 1, CAST(5 + k.range % 12 AS INT))
      |      AS TIMESTAMP) AS vt
      |  FROM range(0, 50) k
      |  UNION ALL
      |  SELECT k.range, 'silver',
      |    CAST(make_date(2024, 1, CAST(5 + k.range % 12 AS INT))
      |      AS TIMESTAMP),
      |    CAST(make_date(2024, 1, CAST(18 + k.range % 10 AS INT))
      |      AS TIMESTAMP)
      |  FROM range(0, 50) k
      |  UNION ALL
      |  SELECT k.range, 'gold',
      |    CAST(make_date(2024, 1, CAST(18 + k.range % 10 AS INT))
      |      AS TIMESTAMP),
      |    CAST(make_date(2024, 2, 1) AS TIMESTAMP)
      |  FROM range(0, 50) k),
      |ev AS (SELECT user_id % 50 AS k,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT tier, count(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM ev JOIN dim ON ev.k = dim.dk
      |  AND ev.ts >= dim.vf AND ev.ts < dim.vt
      |GROUP BY tier ORDER BY tier""".stripMargin

  /** Checkpoint-RECOVERY gate: the production restart property, proven
    * end-to-end. Half the events (even ids) are written as the stream's
    * initial files and drained through a windowed aggregation with a REAL
    * checkpoint dir; the query then STOPS. The odd half arrives, and a new
    * query starts from the SAME checkpoint: the file-source log makes it
    * read only the new files, while the aggregation state for the first
    * half is restored from the state store. The final complete-mode output
    * therefore equals the uninterrupted full-data aggregate ONLY if
    * recovery worked — a fresh-state restart would emit the odd half alone
    * and fail rows+hash against the all-events oracle. (Complete mode is
    * the one memory-sink mode Spark permits checkpoint recovery for;
    * StreamingSpec asserts the restarted run ingested only the second
    * tranche.) */
  def s8CheckpointRecovery(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val inDir = graft.Tables.scratchDir("graft-s8-in")
    val ckpt = graft.Tables.scratchDir("graft-s8-ckpt")
    ev.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(inDir)
    def agg = sp.readStream.schema(ev.schema).parquet(inDir)
      .groupBy(window(col("ts"), "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
    def drain(name: String): Unit = {
      // pin the state-store partition count like runToMemory — doubly so
      // here, where the count is frozen into the REAL checkpoint and the
      // restarted query must find the same number of stores
      val prev = sp.conf.get("spark.sql.shuffle.partitions")
      sp.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.StreamOps.StatePartitions)
      try {
        val q = agg.writeStream.outputMode("complete").format("memory")
          .queryName(name).option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    drain(s"s8_a_$tag")
    ev.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(inDir)
    drain(s"s8_b_$tag")
    sp.table(s"s8_b_$tag")
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  val s8Sql: String =
    """SELECT time_bucket(INTERVAL 2 HOUR, make_timestamp(epoch_ns(ts) // 1000)) AS wstart,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin

  /** SLIDING windows (2-hour window, 1-hour slide): every event lands in
    * exactly two overlapping windows — the moving-average shape tumbling
    * windows can't express. Same watermark-bounded live run as s1; the
    * oracle materializes the overlap as a two-way UNION of shifted 1-hour
    * buckets. */
  def s11SlidingWindow(sp: SparkSession, dir: String): DataFrame = {
    val name = "s11_sw_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val agg = graft.streaming.StreamOps
      .eventsStream(sp, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "update")
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  val s11Sql: String =
    """WITH ev AS (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_type, value FROM events),
      |x AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR AS wstart,
      |         event_type, value FROM ev
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart,
      |         event_type, value FROM ev)
      |SELECT wstart, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin

  /** Bounded streaming BACKFILL: reprocessing a large history through a
    * streaming query must not load it in one giant batch —
    * `maxFilesPerTrigger` paces the file source so state and shuffle
    * memory stay micro-batch-sized (8 input files, 2 per trigger -> >= 4
    * micro-batches, asserted in StreamingSpec). The complete-mode result
    * must equal the batch aggregate regardless of the pacing — the
    * incremental-equals-batch property backfills rely on. */
  def s9BoundedBackfill(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val inDir = graft.Tables.scratchDir("graft-s9-in")
    ev.repartition(8).write.mode("overwrite").parquet(inDir)
    val name = "s9_bf_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val agg = sp.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "complete")
      .orderBy("event_type")
  }

  val s9Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CUSTOM streaming state gate ([[graft.streaming.StreamOps
    * .runningTotals]] — `flatMapGroupsWithState`): per-user cumulative
    * (count, cents) counters updated across PACED micro-batches (8 files,
    * 4 per trigger -> 2 batches). Update mode emits a running total per
    * key per batch; the max cumulative row per user equals the all-data
    * total ONLY if the group state carried across batches — lost state
    * would leave the second batch's emission a partial count and fail the
    * hash. Values become exact integer cents in Spark SQL before entering
    * the typed state transition, so cents/100.0 and the oracle's
    * CAST(SUM(DECIMAL) AS DOUBLE) are the same correctly-rounded double.
    */
  def s10StatefulCounter(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val ev = events(sp, dir)
    val inDir = graft.Tables.scratchDir("graft-s10-in")
    ev.select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .repartition(8).write.mode("overwrite").parquet(inDir)
    val pairs = sp.readStream
      .schema("user_id LONG, cents LONG")
      .option("maxFilesPerTrigger", "4").parquet(inDir)
      .as[(Long, Long)]
    val updates = graft.streaming.StreamOps.runningTotals(pairs)
      .toDF("user_id", "n_cum", "cents_cum")
    val name = "s10_st_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    graft.streaming.StreamOps.runToMemory(sp, updates, name, "update")
      .groupBy(col("user_id"))
      .agg(max(col("n_cum")).as("n_events"),
        (max(col("cents_cum")) / 100.0).as("sum_value"))
      .orderBy("user_id")
  }

  val s10Sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** s10's state transition through Spark 4's `transformWithState`
    * ([[graft.streaming.StreamOps.TwsRunningTotals]]) — the arbitrary-
    * state API that REPLACES `flatMapGroupsWithState` (typed state
    * handles, native TTL, first-class timers; SPARK-49070). A Spark-4
    * user building sessionized counters is steered here first, so the
    * engine pins BOTH generations of the API against the same oracle:
    * same paced micro-batches, same per-key cumulative (count, cents)
    * counters, same all-data totals — lost or double-counted state across
    * batches fails the hash exactly as in s10. transformWithState
    * requires the RocksDB state store provider (the off-heap store that
    * survives 100 TB keyed state), so the gate runs in a child session
    * pinned to it; the timer surface is spec-verified separately
    * (StreamingSpec "transformWithState event-time timers"). */
  def s22TransformWithState(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val inDir = graft.Tables.scratchDir("graft-s22-in")
    ev.select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .repartition(8).write.mode("overwrite").parquet(inDir)
    // provider class is read from the SESSION conf at query start; a
    // child session isolates the RocksDB pin from the rest of the suite
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    val pairs = s2.readStream
      .schema("user_id LONG, cents LONG")
      .option("maxFilesPerTrigger", "4").parquet(inDir)
      .as[(Long, Long)]
    val updates = graft.streaming.StreamOps.runningTotalsTws(pairs)
      .toDF("user_id", "n_cum", "cents_cum")
    val name = "s22_tws_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    graft.streaming.StreamOps.runToMemory(s2, updates, name, "update")
      .groupBy(col("user_id"))
      .agg(max(col("n_cum")).as("n_events"),
        (max(col("cents_cum")) / 100.0).as("sum_value"))
      .orderBy("user_id")
  }

  val s22Sql: String = s10Sql

  /** transformWithState's MAP-STATE surface ([[graft.streaming.StreamOps
    * .TwsCategoryCounts]]): a per-user event-type histogram kept as
    * `MapState[String, Long]` — point-read/point-write per category, so
    * one update never rewrites the whole map (the O(1)-vs-O(|map|)
    * difference that makes MapState the wide-state primitive at 100 TB).
    * Paced micro-batches as in s10/s22; update mode emits each key's
    * running histogram per batch, and max over emissions equals the
    * all-data counts ONLY if every map entry survived every batch
    * boundary — one lost or double-counted category cell fails the hash.
    * RocksDB provider required, pinned in a child session. */
  def s23TwsMapState(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val inDir = graft.Tables.scratchDir("graft-s23-in")
    ev.select(col("user_id"), col("event_type"))
      .repartition(8).write.mode("overwrite").parquet(inDir)
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    val pairs = s2.readStream
      .schema("user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", "4").parquet(inDir)
      .as[(Long, String)]
    val updates = graft.streaming.StreamOps.categoryCountsTws(pairs)
      .toDF("user_id", "event_type", "n_cum")
    val name = "s23_tws_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    graft.streaming.StreamOps.runToMemory(s2, updates, name, "update")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n_cum")).as("n_events"))
      .orderBy("user_id", "event_type")
  }

  val s23Sql: String =
    """SELECT user_id, event_type, count(*) AS n_events
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** transformWithState TIMERS ([[graft.streaming.StreamOps
    * .TwsSessionExpiry]]) — the third TWS leg after s22 (ValueState) and
    * s23 (MapState), and the one most production TWS users adopt the API
    * for: session-timeout semantics via REGISTERED EVENT-TIME TIMERS.
    * Events sessionize under a 20-minute gap; a session row is emitted
    * either by an in-flow split (a later event arrives >= gap past the
    * open session) or by the timer firing when the watermark passes
    * (last event + gap) — state is cleared on expiry, so per-key state
    * lives only gap past the key's last event. The feed is the s19 bus
    * shape: a deterministic 1/16 `event_id` sample, ts-ordered, in three
    * producer batches so sessions genuinely span micro-batch boundaries
    * and timers genuinely fire across them, then two arm rows 30/31 days
    * out push the watermark over every real session (arm key filtered
    * from the readout; RocksDB provider pinned in a child session as TWS
    * requires). Integer cents all the way — no float crosses the hash.
    * Oracle: DuckDB gaps-and-islands with the same `ts >= prev + gap`
    * boundary rule on the same sample. */
  def s24TwsSessionTimers(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ev = events(sp, dir).filter(col("event_id") % 16 === 0)
    val rows = ev.select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"), col("ts"))
      .orderBy("ts").collect()
    require(rows.nonEmpty,
      "s24: the 1/16 event_id sample is empty — fixture too small or " +
        "filtered; sessions need at least one event to arm timers")
    val data = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val armBase = data.last._3.getTime + 30L * 24 * 3600 * 1000
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ds = in.toDF().toDF("user_id", "cents", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.StreamOps
      .sessionExpiryTws(ds, 20L * 60 * 1000)
      .toDF("user_id", "n_events", "sum_cents", "last_ms")
    val name = "s24_tws_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        val slice = math.max(1, (data.length + 2) / 3)
        data.grouped(slice).foreach { s =>
          in.addData(s.toIndexedSeq); q.processAllAvailable()
        }
        // arm #1 lifts the watermark past every real timer (governs the
        // NEXT batch); arm #2 runs under it and the trailing no-data
        // batch fires the remaining timers
        in.addData((-1L, 0L, new java.sql.Timestamp(armBase)))
        q.processAllAvailable()
        in.addData((-1L, 0L, new java.sql.Timestamp(armBase + 86400000L)))
        q.processAllAvailable()
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "last_ms")
  }

  val s24Sql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 0),
      |e AS (
      |  SELECT user_id, ts, cents,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                + INTERVAL 20 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |g AS (
      |  SELECT user_id, ts, cents,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  epoch_ns(max(ts)) // 1000000 AS last_ms
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, last_ms""".stripMargin

  /** STREAMING INGEST CURATION — the online form of t41's batch chain:
    * a document bus (Kafka-shaped MemoryStream, the s19 pattern) flows
    * through the CODEGEN text kernels under micro-batch re-evaluation —
    * quality scoring (t2), language-ID (t3), token counting (t1) — a
    * quality floor drops low-value docs in-flight, and watermarked
    * 1-hour windows aggregate per INGEST-LABELED language (doc count +
    * token mass + how many docs the language-ID model AGREES with the
    * label on — the label-quality drift signal): the live dashboard a
    * crawl-firehose curation pipeline actually runs. Deterministic 1/4
    * doc_id sample with synthesized
    * event time (epoch + doc_id x 60 s), three producer batches so
    * windows genuinely span micro-batches, two arm batches to flush
    * append-mode windows; arm windows (and nothing else) fall past the
    * sample's max event time, so the readout bounds on it instead of
    * string sentinels. Oracle: the same filter/score/langid/window
    * arithmetic in DuckDB over the same sample. */
  def s25StreamCuration(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = documents(sp, dir).filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id").collect()
    require(rows.nonEmpty,
      "s25: the 1/4 doc_id sample is empty — fixture too small; the bus " +
        "needs at least one document to arm watermarks")
    val docs = rows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val epoch = 1704067200L // 2024-01-01 UTC
    val maxTs = epoch + docs.last._1 * 60
    // arm docs: far-future ts, stopword-dense text that PASSES the
    // quality floor (a filtered-out arm row would never advance the
    // watermark, which is computed after the filter)
    val armText = "the of and to in is it that a an " * 8
    val arm1 = (((30L * 24 * 3600 + maxTs - epoch) / 60), "xx", armText)
    val arm2 = (arm1._1 + 1440L, "xx", armText)
    val in = MemoryStream[(Long, String, String)]
    val agg = in.toDF().toDF("doc_id", "lang", "text")
      .repartition(8) // spread the bus feed before the per-row kernels
      .select(
        timestamp_seconds(lit(epoch) + col("doc_id") * 60).as("ts"),
        col("lang"),
        Text.qualityScore(col("text")).as("quality"),
        (Text.langId(col("text")) === col("lang")).as("agree"),
        Text.tokenCount(col("text")).as("n_tok"))
      .withWatermark("ts", "1 hour")
      .filter(col("quality") >= 0.3)
      .groupBy(window(col("ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        count(when(col("agree"), 1)).as("n_lang_agree"))
    val name = "s25_cur_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    sp.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = agg.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        val slice = math.max(1, (docs.length + 2) / 3)
        docs.grouped(slice).foreach { s =>
          in.addData(s.toIndexedSeq); q.processAllAvailable()
        }
        in.addData(arm1); q.processAllAvailable()
        in.addData(arm2); q.processAllAvailable()
      } finally q.stop()
    } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
    sp.table(name)
      .select(col("window.start").as("wstart"), col("lang"),
        col("n_docs"), col("n_tokens"), col("n_lang_agree"))
      .filter(col("wstart") <= timestamp_seconds(lit(maxTs)))
      .orderBy("wstart", "lang")
  }

  val s25Sql: String = {
    s"""WITH d AS (SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id % 4 = 0),
       |q AS (SELECT doc_id, lang, text,
       |    make_timestamp((1704067200 + doc_id * 60) * 1000000) AS ts,
       |    $qualitySqlExpr AS quality,
       |    ($langIdSqlExpr)
       |      = lang AS agree,
       |    CAST(len($Toks) AS BIGINT) AS n_tok
       |  FROM d)
       |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, lang,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  COUNT(*) FILTER (agree) AS n_lang_agree
       |FROM q WHERE quality >= CAST(0.3 AS DOUBLE)
       |GROUP BY wstart, lang
       |ORDER BY wstart, lang""".stripMargin
  }

  /** TWS STATE TTL under the driver's oracle — promotes the TTLConfig
    * eviction contract (StreamingSpec's "state TTL evicts") from a
    * spec-only pin to a hash-gated CORRECTNESS entry, closing the one
    * operator in the surface without one. TTL is what bounds 100 TB
    * keyed state to the keys active within the horizon; a silent TTL
    * regression (state carrying across the horizon) must fail a driver
    * round, not just a test run.
    *
    * Determinism shape: the 1/16 `event_id % 16 = 1` sample (disjoint
    * from s24's `= 0` bus), (ts, event_id)-ordered, splits into two
    * PHASES at the ceil-half row. Phase 1 feeds in one producer batch
    * and the sink is POLLED until every phase-1 key has reported
    * (ProcessingTime TWS never satisfies processAllAvailable — the
    * documented pace-and-poll harness); then the TTL lapses in wall
    * clock; then phase 2 feeds. [[graft.streaming.StreamOps
    * .TwsCountTtlPhased]] emits (key, phase, runningCount), so expired
    * state makes each phase's final count exactly that phase's own row
    * count — the per-(key, phase) readout is a plain batch recount the
    * DuckDB oracle replays with one row_number split. A carried (un-
    * expired) state would inflate every phase-2 count of a key seen in
    * phase 1 and fail the hash. TTL 2.5 s >> the 200 ms re-trigger pace
    * (each phase is one producer batch, so that is the only intra-phase
    * gap TTL must dominate), sleep = TTL + 2.5 s > TTL with the phase-1
    * state provably written BEFORE the sleep starts (the await saw every
    * phase-1 key in the sink); margins follow the spec's worked
    * example, trimmed in r16 to stop paying 2 s of unused wall-clock
    * per rep. RocksDB provider on a child session as TWS requires;
    * state partitions pinned. */
  def s26TwsTtl(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events(sp, dir).filter(col("event_id") % 16 === 1)
      .select(col("user_id"), col("ts"), col("event_id"))
      .orderBy("ts", "event_id").collect()
    require(rows.nonEmpty,
      "s26: the 1/16 event_id sample is empty — fixture too small; the " +
        "TTL gate needs at least one keyed row per phase")
    val keys = rows.map(_.getLong(0))
    val nPhase1 = (keys.length + 1) / 2
    // COUPLING (r16 advisor): each phase is delivered as ONE addData call
    // below = ONE MemoryStream producer batch, so a key appears at most
    // once per phase and the 2.5 s TTL only has to dominate the ~200 ms
    // re-trigger pace, never an intra-phase update gap. Splitting a phase
    // across addData calls invalidates that margin analysis — if the
    // producer shape ever changes, re-derive the TTL from the new maximum
    // intra-phase gap first.
    val phase1 = keys.take(nPhase1).map(k => (k, 1L))
    val phase2 = keys.drop(nPhase1).map(k => (k, 2L))
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    // 2.5 s: the value only needs TTL >> intra-phase re-trigger gap
    // (~0.2-0.4 s at the 200 ms pace; each phase is ONE producer batch)
    // on the low side and sleep > TTL on the high side — r16 trimmed the
    // old 4 s, which bought margin the phase structure does not use,
    // straight off the gate's wall-clock floor (the result is the
    // per-(key, phase) recount and is TTL-invariant by construction)
    val ttl = java.time.Duration.ofMillis(2500)
    val out = graft.streaming.StreamOps
      .countsWithTtlPhased(in.toDS(), ttl)
      .toDF("user_id", "phase", "n")
    val name = "s26_ttl_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("update").format("memory")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .queryName(name).start()
      try {
        def seen(phase: Long): Long = s2.table(name)
          .filter(col("phase") === phase).select("user_id")
          .distinct().count()
        def await(want: Long, phase: Long): Unit = {
          val deadline = System.currentTimeMillis + 120000
          while (seen(phase) < want) {
            require(System.currentTimeMillis < deadline,
              s"s26: phase $phase never fully reported " +
                s"(${seen(phase)}/$want keys)")
            Thread.sleep(100)
          }
        }
        in.addData(phase1.toIndexedSeq)
        await(phase1.map(_._1).distinct.length.toLong, 1L)
        // all phase-1 state written; let the TTL lapse in processing time
        Thread.sleep(ttl.toMillis + 2500)
        if (phase2.nonEmpty) {
          in.addData(phase2.toIndexedSeq)
          await(phase2.map(_._1).distinct.length.toLong, 2L)
        }
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    // Update-mode sink accumulates one row per (key, batch); with one
    // producer batch per phase that is one row per (key, phase), and
    // max() collapses any intra-phase re-trigger split (TTL >> batch
    // latency keeps such splits carry-correct) — the final running
    // count per phase IS the phase's row count iff eviction worked.
    s2.table(name)
      .groupBy(col("user_id"), col("phase"))
      .agg(max(col("n")).as("cnt"))
      .orderBy("user_id", "phase")
  }

  val s26Sql: String =
    """WITH ev AS (SELECT user_id, ts, event_id FROM events
      |  WHERE event_id % 16 = 1),
      |r AS (SELECT user_id,
      |    row_number() OVER (ORDER BY ts, event_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM ev),
      |p AS (SELECT user_id,
      |    CASE WHEN rn <= (n + 1) // 2 THEN 1 ELSE 2 END AS phase
      |  FROM r)
      |SELECT user_id, CAST(phase AS BIGINT) AS phase,
      |  count(*) AS cnt
      |FROM p GROUP BY user_id, phase
      |ORDER BY user_id, phase""".stripMargin

  /** TWS ListState recent-event buffer
    * ([[graft.streaming.StreamOps.TwsRecentEvents]]) — the fourth and
    * last typed-state primitive under the oracle (ValueState s22,
    * MapState s23, timers s24, TTL s26): every user's 3 most recent
    * (event-time-micros, cents) pairs, the last-N feature buffer a
    * serving-time model reads. The 1/16 `event_id % 16 = 2` sample
    * (disjoint from s24's and s26's buses) feeds ts-ordered in three
    * producer batches so buffers genuinely merge across micro-batches;
    * recency is event-time (ties by cents) so the result is
    * arrival-order-independent, and incremental top-n trimming is exact
    * (trimmed entries sit strictly below the kept minimum). TimeMode
    * .None — processAllAvailable works, no pacing needed. Readout is
    * max(struct(nSeen, recent)) per key: nSeen strictly increases, so
    * the max struct IS the final state. Oracle: per-key top-3 by
    * (micros, cents) DESC, re-joined ascending. */
  def s27TwsRecent(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events(sp, dir).filter(col("event_id") % 16 === 2)
      .select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"), col("ts"))
      .orderBy("ts").collect()
    require(rows.nonEmpty,
      "s27: the 1/16 event_id sample is empty — fixture too small; the " +
        "recent-events buffer needs at least one row")
    val data = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.StreamOps
      .recentEventsTws(in.toDS(), n = 3)
      .toDF("user_id", "n_seen", "recent")
    val name = "s27_rec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        val slice = math.max(1, (data.length + 2) / 3)
        data.grouped(slice).foreach { s =>
          in.addData(s.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_seen"), col("recent"))).as("__f"))
      .select(col("user_id"), col("__f.n_seen").as("n_seen"),
        col("__f.recent").as("recent"))
      .orderBy("user_id")
  }

  val s27Sql: String =
    """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 2),
      |r AS (SELECT user_id, us, cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, cents DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_seen
      |  FROM ev)
      |SELECT user_id, n_seen,
      |  string_agg(us || ':' || cents, ',' ORDER BY us, cents) AS recent
      |FROM r WHERE rn <= 3
      |GROUP BY user_id, n_seen
      |ORDER BY user_id""".stripMargin

  /** OUT-OF-VOCABULARY DRIFT — the vocab/tokenizer health monitor
    * between corpus snapshots: a vocabulary is frozen on the BASE half
    * of a deterministic doc split (tokens present in ≥ 10% of base
    * documents — a RELATIVE floor, so the vocab contract is stable at
    * any corpus size; the integer test df·10 ≥ n_base has no float
    * boundary), and the NEW half reports, per language, how much of
    * its token mass falls outside it (exact integer basis points). A rising
    * oov_bp is the signal that a frozen tokenizer/embedding vocabulary
    * no longer fits incoming data — the retrain trigger. Scale shape:
    * the vocab is vocabulary-sized (one distinct agg + df filter), the
    * new side joins it on the token key (plain shuffle equi-join, a
    * LEFT join whose miss IS the OOV event), and the result is
    * language-domain sized. */
  def t46OovDrift(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val base = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val nBase = base.agg(countDistinct(col("doc_id")).as("n_base"))
    val baseVocab = base
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nBase))
      .filter(col("df") * 10 >= col("n_base"))
      .select(col("tok"), lit(1).as("__known"))
    val newToks = docs.filter(col("doc_id") % 2 === 1)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    newToks.join(baseVocab, Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__known").isNull, 1)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 10000 div n_tokens").as("oov_bp"))
      .orderBy("lang")
  }

  val t46Sql: String =
    s"""WITH base AS (SELECT DISTINCT doc_id, t.t AS tok
       |  FROM documents, unnest($Toks) AS t(t) WHERE doc_id % 2 = 0),
       |n AS (SELECT count(DISTINCT doc_id) AS n_base FROM base),
       |v AS (SELECT tok FROM base GROUP BY tok
       |  HAVING count(*) * 10 >= (SELECT n_base FROM n)),
       |nw AS (SELECT lang, t.t AS tok
       |  FROM documents, unnest($Toks) AS t(t) WHERE doc_id % 2 = 1)
       |SELECT lang, count(*) AS n_tokens,
       |  count(*) FILTER (tok NOT IN (SELECT tok FROM v)) AS n_oov,
       |  count(*) FILTER (tok NOT IN (SELECT tok FROM v)) * 10000
       |    // count(*) AS oov_bp
       |FROM nw GROUP BY lang ORDER BY lang""".stripMargin

  /** GOPHER-STYLE INDEPENDENT RULE SCREEN — the per-rule diagnosis t30's
    * sequential funnel cannot give: t30 counts survivors of rules applied
    * IN ORDER (rule 2's count is conditioned on rule 1), so a curation
    * team cannot see which single rule to tune. t47 evaluates four
    * independent document-quality rules (Rae et al. 2021 "Gopher" §A1.1
    * repetition/word-count/mean-word-length/stopword heuristics, public)
    * per DOCUMENT and emits the verdict vector plus n_fail — "docs
    * failing EXACTLY this one rule" is then one filter away, which is the
    * threshold-tuning signal. Rules: word count in [30, 50000]; mean word
    * length in [3, 10] tested as the EXACT integer inequality
    * 3·wc ≤ sum_chars ≤ 10·wc (sum of token lengths = length − (wc−1) on
    * the single-space token stream — no float mean exists); ≥ 2 DISTINCT
    * stopwords present (array_intersect against the 10-word list); 3-gram
    * repetition ratio ≤ 0.2 (the t11 codegen kernel). Scale shape: four
    * per-row codegen predicates, zero shuffle before the final sort —
    * embarrassingly parallel at any corpus size. */
  def t47GopherRules(sp: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val wc = size(toks)
    val sumChars = length(col("text")) - (wc - lit(1))
    val rWc = wc.between(30, 50000)
    val rMwl = sumChars >= wc * 3 && sumChars <= wc * 10
    val rStop = size(array_intersect(array_distinct(toks),
      array(Text.Stopwords.map(lit): _*))) >= 2
    val rRep = Text.repetitionRatio(col("text"), 3) <= 0.2
    documents(sp, dir).select(col("doc_id"), wc.as("wc"),
        rWc.as("r_wc"), rMwl.as("r_mwl"), rStop.as("r_stop"),
        rRep.as("r_rep"))
      .withColumn("n_fail", lit(4) - col("r_wc").cast("int")
        - col("r_mwl").cast("int") - col("r_stop").cast("int")
        - col("r_rep").cast("int"))
      .withColumn("keep", col("n_fail") === 0)
      .orderBy("doc_id")
  }

  val t47Sql: String = {
    val stops = Text.Stopwords.map(w => s"'$w'").mkString(", ")
    val rawSh = s"CASE WHEN len($Toks) < 3 THEN [] ELSE " +
      s"list_transform(range(1, len($Toks)-2+1), i -> " +
      s"array_to_string($Toks[i:i+2], ' ')) END"
    s"""WITH b AS (SELECT doc_id, len($Toks) AS wc,
       |    length(text) - (len($Toks) - 1) AS sum_chars,
       |    len(list_intersect(list_distinct($Toks), [$stops])) AS n_stop,
       |    $rawSh AS sh
       |  FROM documents),
       |r AS (SELECT doc_id, CAST(wc AS INT) AS wc,
       |    wc BETWEEN 30 AND 50000 AS r_wc,
       |    sum_chars >= wc * 3 AND sum_chars <= wc * 10 AS r_mwl,
       |    n_stop >= 2 AS r_stop,
       |    (CASE WHEN len(sh) = 0 THEN 0.0
       |          ELSE round(1.0 - len(list_distinct(sh))::DOUBLE / len(sh),
       |            4) END) <= 0.2 AS r_rep
       |  FROM b)
       |SELECT doc_id, wc, r_wc, r_mwl, r_stop, r_rep,
       |  4 - (r_wc::INT + r_mwl::INT + r_stop::INT + r_rep::INT)
       |    AS n_fail,
       |  (r_wc::INT + r_mwl::INT + r_stop::INT + r_rep::INT) = 4 AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** CORPUS N-GRAM NOVELTY — the saturation curve behind every "is more
    * data still worth ingesting" decision (and the corpus-level signal
    * Lee et al. 2022 derive from duplicate-gram statistics): for each
    * document, the fraction of its DISTINCT 3-gram types whose FIRST
    * corpus occurrence is this document (doc_id as ingest order). A
    * corpus whose late documents show low novelty_bp is recrawling
    * itself — ingest money is buying grams the model already has.
    * Differs from t22/t42 (within- and cross-doc duplicate SPANS on
    * overlapping gram instances) and d5 (pairwise Jaccard): this is
    * first-occurrence ELECTION on the gram-type domain, credited back
    * to the electing document. Scale shape: the (doc, gram) distinct
    * pairs table is the one corpus-sized intermediate (t42's occurrence
    * table without positions); first occurrence is ONE min() partial
    * agg on the gram key; the join back is a shuffle hash equi-join on
    * the same key — the corpus is never self-joined. Exact integer bp;
    * gramless docs (< 3 tokens) surface with zeros rather than vanish
    * (d19/t42 precedent). */
  def t48NgramNovelty(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val pairs = docs.select(col("doc_id"),
        explode(graft.operators.Dedup.shingleSet(col("text"), 3))
          .as("gram"))
    val first = pairs.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    val per = pairs.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(expr("n_novel * 10000 div n_grams"), lit(0L))
          .as("novelty_bp"))
      .orderBy("doc_id")
  }

  val t48Sql: String =
    s"""WITH g AS (SELECT doc_id, gg.gg AS gram
       |  FROM documents, unnest(${shingleSql(Toks)}) AS gg(gg)),
       |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
       |per AS (SELECT g.doc_id, count(*) AS n_grams,
       |    count(*) FILTER (f.first_doc = g.doc_id) AS n_novel
       |  FROM g JOIN f USING (gram) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
       |  CAST(coalesce(per.n_novel * 10000 // per.n_grams, 0) AS BIGINT)
       |    AS novelty_bp
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** TOKEN-RANK FLUENCY — the exact, rank-based stand-in for the
    * unigram-LM perplexity screen (the cheapest fluency axis of a
    * quality pipeline, CCNet-style): every token's CORPUS-FREQUENCY
    * RANK (1 = most frequent, ties broken by token — a total order both
    * engines replay), then per doc the token count, summed rank, and
    * floor-average rank. Low mean rank = built from the corpus's common
    * vocabulary; high = rare/noisy/OOV-heavy — the same ordering a
    * log-prob screen induces, in exact integers, because log-prob
    * itself is transcendental and would never hash cross-engine. Scale
    * shape: the corpus tokenizes ONCE into a scratch posting table
    * (both the vocabulary count and the join probe read it — the t22
    * discipline); the rank window runs over the VOCABULARY domain, not
    * the corpus; the probe is one shuffle equi-join on token. */
  def t49TokenRankFluency(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val posts = graft.Tables.stage(
      docs.select(col("doc_id"), explode(Text.tokens(col("text")))
        .as("token")), "graft-t49-posts")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val vocab = posts.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
    val per = posts.join(vocab.select(col("token"), col("rank")), "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rank")).as("sum_rank"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_rank"), lit(0L)).as("sum_rank"),
        coalesce(expr("sum_rank div n_tokens"), lit(0L)).as("mean_rank"))
      .orderBy("doc_id")
  }

  val t49Sql: String =
    s"""WITH g AS (SELECT doc_id, tt.tt AS token
       |  FROM documents, unnest($Toks) AS tt(tt)),
       |v AS (SELECT token, count(*) AS cnt FROM g GROUP BY 1),
       |r AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
       |      AS rank
       |  FROM v),
       |per AS (SELECT g.doc_id, count(*) AS n_tokens,
       |    SUM(r.rank) AS sum_rank
       |  FROM g JOIN r USING (token) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(per.sum_rank, 0) AS BIGINT) AS sum_rank,
       |  CAST(coalesce(per.sum_rank // per.n_tokens, 0) AS BIGINT)
       |    AS mean_rank
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** TOKEN-BUDGET APPORTIONMENT by largest remainder (Hamilton's
    * method) — the exact completion of proportional data mixing: floor
    * shares `B·mᵢ div M` UNDER-allocate by up to |sources|−1 tokens,
    * and a mixing pipeline that ships "proportional" shares which
    * don't sum to the budget either over-trains or silently wastes
    * quota. Largest-remainder hands the leftover out one token at a
    * time by descending remainder (ties to the lexically-first
    * source — a total order both engines replay), so Σ alloc = B
    * EXACTLY — all integer arithmetic, every column oracle-replayed.
    * Scale: one corpus-scan partial agg to the source domain; the
    * remainder rank is a window over the DOMAIN table (|sources|
    * rows), never the corpus; budget/leftover ride broadcast 1-row
    * aggs. */
  private val T50Budget = 1000000L

  def t50BudgetApportion(sp: SparkSession, dir: String): DataFrame = {
    val mass = documents(sp, dir)
      .groupBy(col("source"))
      .agg(sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
    val q = mass
      .crossJoin(broadcast(mass.agg(sum(col("n_tokens")).as("__m"))))
      .select(col("source"), col("n_tokens"),
        expr(s"$T50Budget * n_tokens div __m").as("floor_quota"),
        expr(s"($T50Budget * n_tokens) % __m").as("remainder"))
    val left = q.agg((lit(T50Budget) - sum(col("floor_quota")))
      .as("__left"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("remainder").desc, col("source"))
    q.withColumn("__rk", row_number().over(w))
      .crossJoin(broadcast(left))
      .withColumn("extra",
        when(col("__rk") <= col("__left"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("floor_quota"),
        col("remainder"), col("extra"),
        (col("floor_quota") + col("extra")).as("alloc"))
      .orderBy("source")
  }

  val t50Sql: String =
    s"""WITH m AS (SELECT source,
       |    CAST(SUM(len($Toks)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS mm FROM m),
       |q AS (SELECT source, n_tokens,
       |    $T50Budget * n_tokens // mm AS floor_quota,
       |    ($T50Budget * n_tokens) % mm AS remainder
       |  FROM m, t),
       |l AS (SELECT $T50Budget - CAST(SUM(floor_quota) AS BIGINT)
       |    AS leftover FROM q),
       |r AS (SELECT *, row_number()
       |    OVER (ORDER BY remainder DESC, source) AS rk FROM q)
       |SELECT source, n_tokens,
       |  CAST(floor_quota AS BIGINT) AS floor_quota,
       |  CAST(remainder AS BIGINT) AS remainder,
       |  CAST(CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS extra,
       |  CAST(floor_quota + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
       |    AS BIGINT) AS alloc
       |FROM r, l ORDER BY source""".stripMargin

  /** BLOCKLIST MULTI-PATTERN MATCHING — the curation blocklist run the
    * way production filters run it: EVERY pattern counted in ONE pass
    * over each document's token stream by an Aho–Corasick automaton
    * ([[graft.functions.MultiMatchCountsExpr]] — a codegen'd Catalyst
    * expression; naive matching re-walks the document once per pattern,
    * the automaton's per-token cost is independent of blocklist size,
    * which is what keeps a 10k-entry blocklist affordable at 100 TB).
    * The fixed pattern set includes a token sequence that is a SUFFIX of
    * another ("value table" inside "hash value table") so the automaton's
    * output links are exercised live — both patterns count at the same
    * position — and a pattern absent from the corpus (must report 0).
    *
    * Output: per-doc occurrence count per pattern (overlaps included —
    * positional L-gram equality, which is exactly how the oracle replays
    * it), total hits, and the >=3 curation flag. Scale shape: one
    * map-side scan, no shuffle at all until the final orderBy. */
  private val T54Patterns = Seq("slow fast", "row scan",
    "hash value table", "value table", "data window", "zz never qq")

  def t54Blocklist(sp: SparkSession, dir: String): DataFrame = {
    val counts = graft.functions.MultiMatchCountsExpr.multi_match_counts(
      Text.tokens(col("text")), T54Patterns.map(_.split(" ").toSeq))
    val hitCols = T54Patterns.indices.map(i =>
      col("__c").getItem(i).as(s"hits_$i"))
    documents(sp, dir)
      .select(col("doc_id"), counts.as("__c"))
      .select(col("doc_id") +: hitCols: _*)
      .withColumn("n_hits",
        T54Patterns.indices.map(i => col(s"hits_$i")).reduce(_ + _))
      .withColumn("flagged",
        when(col("n_hits") >= 3, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  val t54Sql: String = {
    val hitExprs = T54Patterns.zipWithIndex.map { case (p, i) =>
      val l = p.split(" ").length
      s"CAST(len(list_filter(range(1, greatest(len(t)-$l+2, 1)), " +
        s"i -> array_to_string(t[i:i+$l-1], ' ') = '$p')) AS BIGINT) " +
        s"AS hits_$i"
    }.mkString(",\n|  ")
    val total = T54Patterns.indices.map(i => s"hits_$i").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
       |h AS (SELECT doc_id,
       |  $hitExprs
       |FROM toks)
       |SELECT *, $total AS n_hits,
       |  CAST(CASE WHEN $total >= 3 THEN 1 ELSE 0 END AS BIGINT)
       |    AS flagged
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** USER-JOURNEY TRANSITION MATRIX — the Markov profile behind every
    * "user flow" diagram: consecutive event pairs per user (ordered by
    * event time, ties by id) reduce to (from_type, to_type) transition
    * counts plus each row's share of its from-state in exact integer
    * basis points. The per-user lead() window is partitioned by
    * user_id — bounded by one user's history, the q38 navigation-window
    * shape, never a global sort — and everything after it is
    * state-domain sized (|types|² rows). The share division is floor
    * integer, so no float boundary exists. */
  def p22Transitions(sp: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(sp, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
    val counts = pairs.filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    counts.join(fromTotals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("n * 10000 div n_from").as("share_bp"))
      .orderBy("from_type", "to_type")
  }

  val p22Sql: String =
    """WITH s AS (SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM s
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, f.n_from,
      |  c.n * 10000 // f.n_from AS share_bp
      |FROM c JOIN f USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** LAG-k AUTOCORRELATION of the daily revenue series — the
    * weekly-seasonality / persistence detector beside p5's z-flags,
    * p14's CUSUM and p18's EWMA: r_k at lags 1 and 7 says whether
    * today's revenue predicts tomorrow's (momentum) or last week's
    * same-day (weekly cycle) — the signal that decides seasonal
    * adjustment before any drift monitor interprets a Monday dip as
    * regression. Cross-engine EXACT up to the single final division:
    * centering is multiplied through by n (y_d = n·x_d − S is a pure
    * integer — the mean itself never materializes as a float), products
    * accumulate in DECIMAL, and r_k = double(Σ y_d·y_{d+k}) /
    * double(Σ y_d²) is one IEEE division on exactly-equal operands.
    * Overflow posture, p18-style: |y| ≤ 2n·max|daily cents|, so
    * DECIMAL(18,0) holds while daily |cents| < ~1.5·10¹⁴ ($1.5T/day);
    * the gate raises loudly past that instead of letting either
    * engine's precision clamp diverge silently. Scale shape: the corpus
    * reduces to the calendar-sized daily table in ONE partial agg;
    * everything after (stats crossJoin, per-lag self-equi-join on
    * date_add, centered products) touches ≤ 31 rows. The contiguity
    * tripwire matters because autocorr over a silently gapped series
    * shifts every lag; a hole in the calendar must fail the gate, not
    * re-index it. */
  def p23Autocorr(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events(sp, dir)
      .groupBy(col("ts").cast("date").as("d"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      min(col("d")).as("d0"), max(col("d")).as("d1"),
      max(abs(col("x"))).as("xmax"))
    val str = st.collect()(0) // 1 row: calendar stats, config-sized
    val (nDays, span) = (str.getLong(0),
      str.getDate(3).toLocalDate.toEpochDay -
        str.getDate(2).toLocalDate.toEpochDay + 1)
    require(nDays == span,
      s"p23: daily series has gaps ($nDays observed days over a " +
        s"$span-day span) — autocorr lags would silently shift")
    require(str.getLong(4) < 150000000000000L,
      "p23: daily cents magnitude >= 1.5e14 — n*x - S would overflow " +
        "DECIMAL(18,0); widen the centering type before trusting r")
    val y = daily.crossJoin(broadcast(st))
      .select(col("d"),
        (col("n").cast(DecimalType(18, 0)) * col("x").cast(DecimalType(18, 0))
          - col("s").cast(DecimalType(18, 0)))
          .cast(DecimalType(18, 0)).as("y"))
    val den = y.agg(sum((col("y") * col("y")).cast(DecimalType(38, 0)))
      .as("den"))
    Seq(1, 7).map { k =>
      y.as("a")
        .join(y.as("b"), col("b.d") === date_add(col("a.d"), k))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("a.y") * col("b.y")).cast(DecimalType(38, 0)))
            .as("num"))
        .crossJoin(broadcast(den))
        .select(lit(k).as("lag"), col("n_pairs"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("r"))
    }.reduce(_ union _).orderBy("lag")
  }

  val p23Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      |  FROM events GROUP BY 1),
      |st AS (SELECT count(*) AS n, SUM(x) AS s FROM daily),
      |y AS (SELECT d, CAST(st.n * daily.x - st.s AS DECIMAL(18,0)) AS y
      |  FROM daily, st),
      |den AS (SELECT SUM(CAST(y * y AS DECIMAL(38,0))) AS den FROM y),
      |lags(lag) AS (VALUES (1), (7)),
      |num AS (SELECT l.lag, count(*) AS n_pairs,
      |    SUM(CAST(a.y * b.y AS DECIMAL(38,0))) AS num
      |  FROM lags l
      |  JOIN y a ON TRUE
      |  JOIN y b ON b.d = a.d + l.lag
      |  GROUP BY l.lag)
      |SELECT num.lag, num.n_pairs,
      |  CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) AS r
      |FROM num, den ORDER BY lag""".stripMargin

  /** BENFORD FIRST-DIGIT PROFILE of transaction amounts — the classic
    * fabricated-data / fraud screen: organically-grown magnitudes follow
    * log10(1+1/d) first-digit shares, hand-entered or synthesized
    * amounts don't, and an auditor reads the deviation column before
    * trusting a feed. Cross-engine exact with NO transcendental at
    * runtime: the expected shares are 4-decimal integer-bp CONSTANTS
    * baked identically into both engines (3010, 1761, …, 458 — they sum
    * to 10000), the digit is the first character of the exact cents
    * integer (value·100 in DECIMAL, so no float formatting is involved),
    * and shares/deviations are integer-floor basis points. On this
    * fixture the amounts land near-Benford (dev_bp ≤ ~190, digit 3
    * within 1 bp) — every one of those nine deviations is hash-pinned,
    * so a drifted generator or a broken digit extraction fails. Scale:
    * one partial agg to the 9-row digit domain; everything after is
    * digit-domain sized with the total riding a broadcast 1-row agg. */
  def p24Benford(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val cents = events(sp, dir)
      .select((dec(col("value")) * 100).cast("long").as("c"))
      .filter(col("c") > 0)
    val counts = cents
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => (i + 1, bp.toLong) }
      .toDF("digit", "expected_bp")
    val total = counts.agg(sum(col("n")).as("total"))
    broadcast(expected).join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("coalesce(n, 0) * 10000 div total").as("share_bp"),
        col("expected_bp"),
        abs(expr("coalesce(n, 0) * 10000 div total")
          - col("expected_bp")).as("dev_bp"))
      .orderBy("digit")
  }

  /** A/B EXPERIMENT READOUT — the two-proportion significance test every
    * product analytics stack runs (p13 tests feature-distribution
    * independence; this is the treatment-vs-control CONVERSION readout):
    * users split into arms (id parity — the deterministic stand-in for a
    * salted assignment hash), convert on a binary metric (heavy buyer:
    * ≥ 14 purchases, a median-straddling threshold on this fixture so
    * both verdict inputs are live at every SF), and the gate emits
    * per-arm conversion in exact bp, the treatment-minus-control lift,
    * and the Pearson chi-square verdict at 95% — WITHOUT ever computing
    * the statistic as a float: chi² = N·(ad−bc)²/D ≥ 3.8415 is
    * evaluated as the exact integer cross-multiplication
    * 10000·N·(ad−bc)² ≥ 38415·D in DECIMAL(38,0) (HUGEINT in the
    * oracle), so no transcendental and no rounding boundary crosses an
    * engine. Scale shape: corpus reduces to the user domain in one
    * partial agg, then to the 2-row arm table; the 2×2 cells ride a
    * broadcast 1-row aggregate. */
  def p26AbTest(sp: SparkSession, dir: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val conv = events(sp, dir)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("np"))
      .select((col("user_id") % 2).as("arm"),
        (col("np") >= 14).cast("long").as("conv"))
    val arms = conv.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val cells = arms.agg(
      sum(when(col("arm") === 1, col("n_conv"))).as("a"),
      sum(when(col("arm") === 1, col("n_users") - col("n_conv"))).as("b"),
      sum(when(col("arm") === 0, col("n_conv"))).as("c"),
      sum(when(col("arm") === 0, col("n_users") - col("n_conv"))).as("d"))
    // every product runs in DECIMAL(38,0) — casting operands BEFORE the
    // multiply keeps the 2x2 algebra exact at any user count (a LONG
    // a*d would wrap silently with ANSI off; DuckDB's BIGINT would at
    // least error — neither is acceptable in a significance verdict)
    def dd(c: org.apache.spark.sql.Column) = c.cast(dec38)
    val det = dd(col("a")) * dd(col("d")) - dd(col("b")) * dd(col("c"))
    val stats = cells.select(
      expr("a * 10000 div (a + b) - c * 10000 div (c + d)").as("lift_bp"),
      (dd(col("a") + col("b") + col("c") + col("d")) * (det * det) *
        lit(10000).cast(dec38) >=
        lit(38415).cast(dec38) *
          (dd(col("a") + col("b")) * dd(col("c") + col("d")) *
            (dd(col("a") + col("c")) * dd(col("b") + col("d")))))
        .as("significant"))
    arms.crossJoin(broadcast(stats))
      .select(col("arm"), col("n_users"), col("n_conv"),
        expr("n_conv * 10000 div n_users").as("conv_bp"),
        col("lift_bp"), col("significant"))
      .orderBy("arm")
  }

  val p26Sql: String =
    """WITH u AS (SELECT user_id,
      |    count(*) FILTER (event_type = 'purchase') AS np
      |  FROM events GROUP BY 1),
      |cv AS (SELECT user_id % 2 AS arm,
      |    CAST(np >= 14 AS BIGINT) AS conv FROM u),
      |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(conv) AS BIGINT) AS n_conv
      |  FROM cv GROUP BY 1),
      |cells AS (SELECT
      |    CAST(sum(CASE WHEN arm = 1 THEN n_conv END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN arm = 1 THEN n_users - n_conv END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN arm = 0 THEN n_conv END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN arm = 0 THEN n_users - n_conv END)
      |      AS BIGINT) AS d
      |  FROM arms),
      |st AS (SELECT
      |    a * 10000 // (a + b) - c * 10000 // (c + d) AS lift_bp,
      |    (CAST(a + b + c + d AS HUGEINT)
      |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
      |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) * 10000
      |     >= CAST(38415 AS HUGEINT) * CAST(a + b AS HUGEINT)
      |      * CAST(c + d AS HUGEINT) * CAST(a + c AS HUGEINT)
      |      * CAST(b + d AS HUGEINT)) AS significant
      |  FROM cells)
      |SELECT arm, n_users, n_conv,
      |  n_conv * 10000 // n_users AS conv_bp, st.lift_bp, st.significant
      |FROM arms CROSS JOIN st ORDER BY arm""".stripMargin

  /** floor(log10(1+1/d)·10⁴) for d = 1..9 — the Benford shares as exact
    * integer constants (they sum to 10000), shared by gate and oracle so
    * neither engine evaluates a logarithm. */
  private val BenfordBp =
    Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)

  val p24Sql: String = {
    val rows = BenfordBp.zipWithIndex
      .map { case (bp, i) => s"(${i + 1}, $bp)" }.mkString(", ")
    s"""WITH c AS (SELECT c FROM (SELECT
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM events) WHERE c > 0),
       |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT)
       |    AS digit FROM c),
       |cnt AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
       |t AS (SELECT SUM(n) AS total FROM cnt),
       |be(digit, expected_bp) AS (VALUES $rows)
       |SELECT be.digit, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n,
       |  CAST(coalesce(cnt.n, 0) * 10000 // t.total AS BIGINT)
       |    AS share_bp,
       |  CAST(be.expected_bp AS BIGINT) AS expected_bp,
       |  CAST(abs(coalesce(cnt.n, 0) * 10000 // t.total
       |    - be.expected_bp) AS BIGINT) AS dev_bp
       |FROM be LEFT JOIN cnt USING (digit) CROSS JOIN t
       |ORDER BY digit""".stripMargin
  }

  /** MULTI-TOUCH REVENUE ATTRIBUTION — the warehouse staple s3's as-of
    * join cannot express alone: each purchase credits the user's FIRST
    * and LAST click inside a 7-day lookback (the U-shaped first/last
    * rule; single-touch purchases credit that touch fully, untouched
    * purchases surface with zero attribution rather than vanish — the
    * unattributed-revenue audit row). Cents split by integer floor
    * division, first/last election by min/max(struct) partial aggs with
    * (ts, id) tie-break — never a per-purchase window. Scale shape: ONE
    * shuffle equi-join on user_id with the time window as the join
    * residual (per-user event volumes bound the fan-out; p20 is the
    * skew screen for hot users), then one partial agg keyed by
    * purchase. Oracle replays the window join, both elections, and the
    * integer split. */
  def q48Attribution(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"),
        (dec(col("value")) * 100).cast("long").as("cents"))
    val touches = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("t_user"), col("event_id").as("touch_id"),
        col("ts").as("tts"))
    val joined = purchases.join(touches,
      col("t_user") === col("user_id") &&
        col("tts") <= col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 7 DAYS"), "left")
    joined.groupBy(col("purchase_id"), col("cents"))
      .agg(count(col("touch_id")).as("n_touches"),
        min(when(col("touch_id").isNotNull,
          struct(col("tts"), col("touch_id")))).as("ft"),
        max(when(col("touch_id").isNotNull,
          struct(col("tts"), col("touch_id")))).as("lt"))
      .select(col("purchase_id"), col("cents"), col("n_touches"),
        col("ft.touch_id").as("first_touch"),
        col("lt.touch_id").as("last_touch"),
        when(col("n_touches") === 0, lit(0L))
          .when(col("ft.touch_id") === col("lt.touch_id"), col("cents"))
          .otherwise(expr("cents div 2")).as("first_cents"),
        when(col("n_touches") === 0, lit(0L))
          .when(col("ft.touch_id") === col("lt.touch_id"), lit(0L))
          .otherwise(expr("cents - cents div 2")).as("last_cents"))
      .orderBy("purchase_id")
  }

  val q48Sql: String =
    """WITH ev AS (SELECT event_id, user_id, ts, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, cents
      |  FROM ev WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id AS touch_id, ts AS tts
      |  FROM ev WHERE event_type = 'click'),
      |j AS (SELECT p.purchase_id, p.cents, t.touch_id, t.tts
      |  FROM p JOIN t ON t.user_id = p.user_id
      |    AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
      |r AS (SELECT purchase_id, touch_id, tts,
      |    row_number() OVER (PARTITION BY purchase_id
      |      ORDER BY tts, touch_id) AS rf,
      |    row_number() OVER (PARTITION BY purchase_id
      |      ORDER BY tts DESC, touch_id DESC) AS rl
      |  FROM j),
      |a AS (SELECT purchase_id, count(*) AS n_touches,
      |    max(CASE WHEN rf = 1 THEN touch_id END) AS first_touch,
      |    max(CASE WHEN rl = 1 THEN touch_id END) AS last_touch
      |  FROM r GROUP BY 1)
      |SELECT p.purchase_id, p.cents,
      |  coalesce(a.n_touches, 0) AS n_touches, a.first_touch,
      |  a.last_touch,
      |  CASE WHEN a.n_touches IS NULL THEN 0
      |       WHEN a.first_touch = a.last_touch THEN p.cents
      |       ELSE p.cents // 2 END AS first_cents,
      |  CASE WHEN a.n_touches IS NULL THEN 0
      |       WHEN a.first_touch = a.last_touch THEN 0
      |       ELSE p.cents - p.cents // 2 END AS last_cents
      |FROM p LEFT JOIN a USING (purchase_id)
      |ORDER BY purchase_id""".stripMargin

  /** Streaming TOKEN-BUCKET admission control
    * ([[graft.streaming.StreamOps.TwsTokenBucket]]): every sampled event
    * is admitted or rejected against its user's bucket — capacity 2
    * tokens, one token regenerated per 5 event-time DAYS (this corpus's
    * median per-user gap is ~4 days, so ~15% of events reject: both
    * verdicts exercised at every SF). Token state is integer µtoken
    * units (1 token = the period), refill = clamped Δus — no division,
    * no float, so the oracle replays every verdict and residual token
    * count exactly with a per-user recursive CTE. Producer feeds 3
    * event-time-ordered batches (s19 discipline: deterministic 1/16
    * sample, pinned state partitions); each event's verdict is emitted
    * exactly once, so the memory sink IS the result. */
  def s29TokenBucket(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events(sp, dir).filter(col("event_id") % 16 === 3)
      .select(col("user_id"), col("event_id"), col("ts"))
      .orderBy("ts", "event_id").collect()
    require(rows.nonEmpty,
      "s29: the 1/16 event_id sample is empty — fixture too small; " +
        "admission control needs at least one row")
    val data = rows.map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.StreamOps
      .tokenBucketTws(in.toDS(), capacity = 2L,
        periodUs = 5L * 86400L * 1000000L)
      .toDF("user_id", "event_id", "admitted", "tokens_after")
    val name = "s29_tb_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        val slice = math.max(1, (data.length + 2) / 3)
        data.grouped(slice).foreach { s =>
          in.addData(s.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name)
      .select(col("event_id"), col("user_id"), col("admitted"),
        col("tokens_after"))
      .orderBy("event_id")
  }

  val s29Sql: String = {
    val P = 5L * 86400L * 1000000L
    val full = 2 * P
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_id,
       |    epoch_ns(ts) // 1000 AS us
       |  FROM events WHERE event_id % 16 = 3),
       |r AS (SELECT user_id, event_id, us,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS rn
       |  FROM ev),
       |tb AS (
       |  SELECT user_id, event_id, us, rn, TRUE AS admitted,
       |      CAST(${full - P} AS BIGINT) AS tokens_after
       |    FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.user_id, r.event_id, r.us, r.rn,
       |      least(CAST($full AS BIGINT),
       |        tb.tokens_after + (r.us - tb.us)) >= $P AS admitted,
       |      least(CAST($full AS BIGINT), tb.tokens_after + (r.us - tb.us))
       |        - CASE WHEN least(CAST($full AS BIGINT),
       |            tb.tokens_after + (r.us - tb.us)) >= $P
       |          THEN CAST($P AS BIGINT) ELSE 0 END AS tokens_after
       |    FROM tb JOIN r ON r.user_id = tb.user_id AND r.rn = tb.rn + 1)
       |SELECT event_id, user_id, admitted, tokens_after
       |FROM tb ORDER BY event_id""".stripMargin
  }

  /** transformWithState INITIAL-STATE bootstrap
    * ([[graft.streaming.StreamOps.TwsWarmStartTotals]]) — the last
    * untested leg of the TWS API after ValueState (s22), MapState (s23),
    * timers (s24), TTL (s26) and ListState (s27): `handleInitialState`
    * seeds per-key state from a BATCH snapshot before the first
    * micro-batch, the batch→streaming migration handoff a production
    * stateful job performs exactly once in its life and can never get
    * silently wrong without corrupting every number it emits afterward.
    *
    * Determinism shape: the 1/16 `event_id % 16 = 4` sample (a fresh
    * bus — 0/1/2/3 belong to s24/s26/s27/s29) splits at a fixed
    * mid-corpus pivot: history (ts < Jan 16) reduces to a per-user
    * (count, cents) batch aggregate that becomes the initial state, the
    * live half (ts ≥ pivot) feeds a file-source stream in multiple
    * micro-batches. The readout takes each key's final cumulative
    * emission; it equals the key's FULL-sample recount iff the seed
    * actually landed — a processor that ignored `handleInitialState`
    * would report the live-half counts only and fail the hash at every
    * key with history. Keys live in history only hold silent state and
    * must NOT surface (the oracle's semi-join on live users pins that);
    * keys born after the pivot start from zero through the same code
    * path. TimeMode.None, so processAllAvailable terminates (no
    * ProcessingTime pacing needed); RocksDB provider on a child session
    * as transformWithState requires; state partitions pinned by
    * runToMemory. */
  def s30TwsWarmStart(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    val pivot = lit("2024-01-16 00:00:00").cast("timestamp")
    val base = events(s2, dir).filter(col("event_id") % 16 === 4)
      .select(col("user_id"), col("ts"),
        (dec(col("value")) * 100).cast("long").as("cents"))
    val snap = base.filter(col("ts") < pivot)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n0"), sum(col("cents")).as("c0"))
      .as[(Long, Long, Long)]
    val live = base.filter(col("ts") >= pivot)
      .select(col("user_id"), col("cents"))
    require(snap.limit(1).count() > 0 && live.limit(1).count() > 0,
      "s30: one side of the warm-start pivot is empty — fixture too " +
        "small; the gate needs history to seed AND live rows to fold")
    val inDir = graft.Tables.scratchDir("graft-s30-in")
    live.repartition(4).write.mode("overwrite").parquet(inDir)
    val pairs = s2.readStream
      .schema("user_id LONG, cents LONG")
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .as[(Long, Long)]
    val updates = graft.streaming.StreamOps
      .runningTotalsWarmStart(pairs, snap)
      .toDF("user_id", "n_cum", "cents_cum")
    val name = "s30_warm_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // n_cum is strictly increasing per key, so max(struct) is the final
    // cumulative emission even if cents were ever negative
    graft.streaming.StreamOps.runToMemory(s2, updates, name, "update")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_cum"), col("cents_cum"))).as("m"))
      .select(col("user_id"), col("m.n_cum").as("n_events"),
        col("m.cents_cum").as("cents"))
      .orderBy("user_id")
  }

  val s30Sql: String =
    """WITH s AS (SELECT user_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 4),
      |live AS (SELECT DISTINCT user_id FROM s
      |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
      |SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS cents
      |FROM s JOIN live USING (user_id)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming CDC apply — the foreachBatch + MERGE lakehouse writer
    * ([[graft.streaming.StreamOps.cdcMergeSink]]): each micro-batch of
    * the change bus folds into a persistent key table through q47's
    * threeWayMerge with a NEWER-WINS version guard and delete
    * TOMBSTONES retained — the two subtleties that make a streaming
    * upsert sink idempotent under replay and immune to out-of-order
    * resurrection (q17's one-shot compaction drops tombstones, which in
    * a loop would let a late older upsert revive a deleted key).
    * `error` events are the delete markers; the readout filters them.
    *
    * Determinism shape: the 1/16 `event_id % 16 = 5` bus (6 belongs to
    * no one yet; 0-4 are s24/s26/s27/s29/s30) streams from scratch
    * parquet in multiple paced micro-batches; because of the
    * newer-wins guard the final table is the GLOBAL latest version per
    * key regardless of how the file source slices batches, so the
    * DuckDB oracle is one row_number replay with the tombstone filter.
    * A sink that applied batches unguarded would depend on file order
    * and (on this fixture) surface deleted keys or stale versions —
    * either fails the hash. */
  def s31CdcApply(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession() // isolate shuffle-partition pin; stateless
    // stream, so no state-store provider needed
    val bus = events(s2, dir).filter(col("event_id") % 16 === 5)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), (dec(col("value")) * 100).cast("long")
          .as("cents"))
    require(bus.limit(1).count() > 0,
      "s31: the 1/16 event_id sample is empty — fixture too small for " +
        "a change bus")
    val inDir = graft.Tables.scratchDir("graft-s31-in")
    bus.repartition(6).write.mode("overwrite").parquet(inDir)
    val stateRoot = graft.Tables.scratchDir("graft-s31-state")
    val changes = s2.readStream.schema(bus.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    val last =
      try graft.streaming.StreamOps.cdcMergeSink(changes, "user_id",
        stateRoot)
      finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.read.parquet(last.getOrElse(
        sys.error("s31: no micro-batch ever committed a state snapshot")))
      .filter(col("event_type") =!= "error") // tombstone filter
      .select(col("user_id"), col("event_id").as("last_event"),
        col("cents"))
      .orderBy("user_id")
  }

  val s31Sql: String =
    """WITH s AS (SELECT user_id, ts, event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 5),
      |r AS (SELECT user_id, event_id, event_type, cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM s)
      |SELECT user_id, event_id AS last_event, cents
      |FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** PROCESSING-TIME timer flush
    * ([[graft.streaming.StreamOps.TwsIdleFlush]]) — the wall-clock half
    * of the TWS timer surface (s24 pins the event-time half): per-key
    * buffered totals flush exactly once when the key goes idle, state
    * clearing on fire. The operational pattern no watermark can express
    * — a stalled source still flushes because wall clock keeps moving.
    *
    * Determinism shape: one producer batch of the 1/16
    * `event_id % 16 = 6` bus (0-5 are taken), so each key's single
    * flush carries the key's full sample totals — emission CONTENT is
    * deterministic, only the firing instant is wall-clock. Pace and
    * poll (ProcessingTime TWS never satisfies processAllAvailable);
    * idle 1.5 s >> the ~200 ms paced batch latency. The DuckDB oracle
    * is the plain batch recount; a flush that fired early (splitting a
    * key's totals) or double-fired after clear (a zero-count phantom
    * row) would fail rows or hash. Emit-once and restart-from-zero
    * after flush are spec-pinned where sleeps are cheap. */
  def s32PtTimerFlush(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events(sp, dir).filter(col("event_id") % 16 === 6)
      .select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .collect()
    require(rows.nonEmpty,
      "s32: the 1/16 event_id sample is empty — fixture too small for " +
        "an idle-flush bus")
    val feed = rows.map(r => (r.getLong(0), r.getLong(1)))
    val nKeys = feed.map(_._1).distinct.length.toLong
    val s2 = sp.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = graft.streaming.StreamOps.idleFlushTws(in.toDS(), 1500L)
      .toDF("user_id", "n_events", "cents")
    val name = "s32_flush_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("update").format("memory")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .queryName(name).start()
      try {
        in.addData(feed.toIndexedSeq)
        val deadline = System.currentTimeMillis + 120000
        def seen(): Long =
          s2.table(name).select("user_id").distinct().count()
        while (seen() < nKeys) {
          require(System.currentTimeMillis < deadline,
            s"s32: only ${seen()}/$nKeys keys flushed before deadline")
          Thread.sleep(100)
        }
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("cents")).as("cents"))
      .orderBy("user_id")
  }

  val s32Sql: String =
    """WITH s AS (SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 6)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS cents
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** DUAL-SINK EXACTLY-ONCE FAN-OUT
    * ([[graft.streaming.StreamOps.dualSinkFanout]]) — the multi-sink
    * foreachBatch pattern s31 writes one sink with, completed with its
    * failure mode: one stream feeds an aggregated rollup (sink A) and
    * the raw event log (sink B); an injected crash tears batch 1 open
    * in the A-committed/B-not window, the restart replays the torn
    * epoch under the SAME batch id, and the batch_id-partition
    * OVERWRITE absorbs the duplicate write — at-least-once delivery ×
    * idempotent epoch writes = exactly-once content. The gate
    * reconciles the two sinks per user AND against the DuckDB recount
    * of the raw sample: an append-mode sink would double batch 1's
    * rows in A and fail the hash; a swallowed replay would leave B
    * missing the batch and fail `consistent`. Batch coverage
    * (n_batches on each side, pinned equal at 3: 6 producer files ÷
    * maxFilesPerTrigger 2) rides every row. Stateless stream — the
    * exactly-once machinery is entirely sink-side, which is the point. */
  def s33DualSink(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val bus = events(s2, dir).filter(col("event_id") % 16 === 7)
      .select(col("user_id"), col("ts"), col("event_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
    // The oracle pins 3 micro-batches = 6 producer files / 2 per
    // trigger, which holds only if repartition(6) fills every partition
    // (Spark skips empty partitions when writing, so a < 6-row bus would
    // silently shrink the file count and the batch count). Fail loudly
    // at both layers instead of diverging from the pinned constant.
    require(bus.limit(6).count() >= 6,
      "s33: the 1/16 event_id sample has < 6 rows — fixture too small " +
        "for the pinned 3-batch fan-out bus")
    val inDir = graft.Tables.scratchDir("graft-s33-in")
    bus.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s33: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the oracle's pinned 3-batch coverage would diverge")
    val changes = s2.readStream.schema(bus.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val (aDir, bDir) = graft.streaming.StreamOps
      .dualSinkFanout(s2, changes, failAt = 1L)
    val a = s2.read.parquet(aDir)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_a"), sum(col("cents")).as("cents_a"))
    val b = s2.read.parquet(bDir)
    val bAgg = b.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_b"), sum(col("cents")).as("cents_b"))
    val cov = s2.read.parquet(aDir)
      .agg(countDistinct(col("batch_id")).as("n_batches_a"))
      .crossJoin(b.agg(countDistinct(col("batch_id")).as("n_batches_b")))
    a.join(bAgg, Seq("user_id"), "full_outer")
      .crossJoin(broadcast(cov))
      .select(col("user_id"), col("n_a"), col("cents_a"), col("n_b"),
        col("cents_b"),
        (col("n_a") <=> col("n_b") &&
          col("cents_a") <=> col("cents_b")).as("consistent"),
        col("n_batches_a"), col("n_batches_b"))
      .orderBy("user_id")
  }

  val s33Sql: String =
    """WITH s AS (SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_id % 16 = 7),
      |g AS (SELECT user_id, count(*) AS n, CAST(SUM(cents) AS BIGINT)
      |    AS cents
      |  FROM s GROUP BY user_id)
      |SELECT user_id, n AS n_a, cents AS cents_a, n AS n_b,
      |  cents AS cents_b, TRUE AS consistent,
      |  CAST(3 AS BIGINT) AS n_batches_a, CAST(3 AS BIGINT)
      |    AS n_batches_b
      |FROM g ORDER BY user_id""".stripMargin

  /** STREAMING VECTOR-INDEX MAINTENANCE
    * ([[graft.streaming.StreamOps.ivfIngestSink]]) — the ONLINE-ingest
    * completion of the a12 story: the base corpus's IVF postings are
    * built batch-style under frozen centroids, then the increment
    * arrives as a 3-micro-batch stream (6 producer files at
    * maxFilesPerTrigger=2, the s31/s33 bus) and foreachBatch appends
    * each epoch's assignments under an idempotent
    * `batch_id=<epoch>/cid=<cell>` partition tree. Queries then run on
    * the streamed-in index; the oracle is the FULL-REBUILD IVF search
    * over all embeddings — a hash match proves streamed ingest ≡ batch
    * rebuild (per-row-independent assignment makes append-only
    * maintenance lossless, now under streaming delivery semantics too).
    * Batch coverage (n_batches, pinned 3 with the s33 file-count
    * guards) rides every row. */
  def s34IvfStreamIngest(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val e = embeddings(s2, dir)
    val centroids = e
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def slice2(pred: org.apache.spark.sql.Column) = e.filter(pred)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idxDir = graft.Tables.scratchDir("graft-s34-idx")
    Ann.ivfIndex(slice2(col("vec_id") < 400), centroids)
      .write.partitionBy("cid").mode("overwrite")
      .parquet(s"$idxDir/batch_id=base")
    val inc = slice2(col("vec_id") >= 400)
    require(inc.limit(6).count() >= 6,
      "s34: the increment (vec_id >= 400) has < 6 rows — fixture too " +
        "small for the pinned 3-batch ingest bus")
    val inDir = graft.Tables.scratchDir("graft-s34-in")
    inc.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s34: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the oracle's pinned 3-batch coverage would diverge")
    val changes = s2.readStream.schema(inc.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    // failAt=1: tear epoch 1 open after its postings write — the replay
    // must overwrite, not double, its partition (an append would shift
    // every downstream rank and fail the hash)
    try graft.streaming.StreamOps.ivfIngestSink(changes, centroids, idxDir,
      failAt = 1L)
    finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    val postings = s2.read.parquet(idxDir)
      .withColumn("cid", col("cid").cast("long"))
    val cov = postings.filter(col("batch_id") =!= "base")
      .agg(countDistinct(col("batch_id")).as("n_batches"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.ivfTopKOnIndex(qs, postings.drop("batch_id"), centroids,
        k = 3, nprobe = 2)
      .crossJoin(broadcast(cov))
      .orderBy("qid", "rank")
  }

  val s34Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 100 = 0 AND vec_id < 400),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |        FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT id AS qid, vec AS qvec, cid FROM asg
       |           WHERE id < 5 AND rn <= 2),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |         WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, sim,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM cand)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(sim, 4) AS sim, CAST(3 AS BIGINT) AS n_batches
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** STREAMING SKETCH-STATE MAINTENANCE ([[graft.streaming.StreamOps
    * .hllRegisterSink]]) — q57's portable HLL registers kept fresh BY A
    * STREAM: the 1/16 events bus (event_id % 16 = 9) arrives in 3
    * micro-batches (6 producer files, maxFilesPerTrigger = 2); each
    * epoch writes its per-event-type register table into an idempotent
    * batch_id partition, and the merged state — register-wise max over
    * epochs, associative/commutative/IDEMPOTENT, so epoch slicing and
    * replays cannot move it — is proven IDENTICAL to the batch
    * recompute over the whole slice (n_mismatch = 0 at the register
    * level; the streaming twin of q57's base⊕delta proof, and the
    * distinct-user counter shape a year-running ingest can actually
    * afford: batch-sized epoch work, ≤1024 rows of state per group per
    * epoch, history never rescanned). n_batches pins the 3-epoch
    * coverage. */
  def s37HllStreamIngest(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val ev = events(s2, dir).filter(col("event_id") % 16 === 9)
      .select(col("event_type"), col("user_id").cast("string").as("u"))
    require(ev.limit(6).count() >= 6,
      "s37: the event_id % 16 = 9 bus slice has < 6 rows — fixture too " +
        "small for the pinned 3-batch ingest")
    val inDir = graft.Tables.scratchDir("graft-s37-in")
    ev.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s37: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the pinned 3-epoch coverage would diverge")
    val changes = s2.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val outDir = graft.Tables.scratchDir("graft-s37-regs")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try graft.streaming.StreamOps.hllRegisterSink(changes,
      col("event_type"), col("u"), outDir)
    finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    val epochs = s2.read.parquet(outDir)
    val nb = epochs
      .agg(countDistinct(col("batch_id")).as("n_batches"))
    val merged = graft.operators.Sketches.mergeHllStates(Seq(
      epochs.select(col("grp"), col("bucket"), col("rho"))))
    val full = graft.operators.Sketches.portableHllState(ev,
      col("event_type"), col("u"))
    val cmp = merged.withColumnRenamed("rho", "rho_m")
      .join(full.withColumnRenamed("rho", "rho_f"),
        Seq("grp", "bucket"), "full_outer")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("rho_m")).cast("long").as("sum_rho"),
        count(when(!(col("rho_m") <=> col("rho_f")), 1)).as("n_mismatch"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("u")).as("exact_distinct"))
    exact.join(cmp, col("event_type") === col("grp"))
      .crossJoin(broadcast(nb))
      .select(col("event_type"), col("n_buckets"), col("sum_rho"),
        col("n_mismatch"), col("n_batches"), col("exact_distinct"))
      .orderBy("event_type")
  }

  /** Streaming bottom-k sketch ingest ([[graft.streaming.StreamOps
    * .bottomKSketchSink]], s41): the theta family's streaming leg —
    * the 3-epoch file bus reduces each micro-batch to ≤ k = 64 hashes
    * per event type in idempotent batch partitions, the epochs fold by
    * the DEDUP merge, and the folded sketch must equal the
    * whole-corpus sketch REGISTER-FOR-REGISTER (n_mismatch = 0 — the
    * mergeability theorem exercised across real epochs), with the KMV
    * estimate (k−1)·2³²∕h_k gated against the exact distinct count
    * (exact when the sketch is under k — sf0.001's regime). */
  def s41BottomKStreamIngest(sp: SparkSession, dir: String): DataFrame = {
    val k = 64
    val s2 = sp.newSession()
    val ev = events(s2, dir).filter(col("event_id") % 16 === 9)
      .select(col("event_type"), col("user_id").cast("string").as("u"))
    require(ev.limit(6).count() >= 6,
      "s41: the event_id % 16 = 9 bus slice has < 6 rows — fixture too " +
        "small for the pinned 3-batch ingest")
    val inDir = graft.Tables.scratchDir("graft-s41-in")
    ev.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s41: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the pinned 3-epoch coverage would diverge")
    val changes = s2.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val outDir = graft.Tables.scratchDir("graft-s41-sk")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try graft.streaming.StreamOps.bottomKSketchSink(changes,
      col("event_type"), col("u"), k, outDir)
    finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    val epochs = s2.read.parquet(outDir)
    val nb = epochs.agg(countDistinct(col("batch_id")).as("n_batches"))
    val merged = graft.operators.Sketches.mergeBottomKStates(Seq(
      epochs.select(col("grp"), col("h"))), k)
    val full = graft.operators.Sketches.bottomKState(ev,
      col("event_type"), col("u"), k)
    val cmp = merged.withColumn("__m", lit(1))
      .join(full.withColumn("__f", lit(1)), Seq("grp", "h"),
        "full_outer")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("__hmax"),
        count(when(col("__m").isNull || col("__f").isNull, 1))
          .as("n_mismatch"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("u")).as("exact_distinct"))
    val est = when(col("n_sketch") === k,
      lit((k - 1).toDouble) * 4294967296.0 /
        col("__hmax").cast("double"))
      .otherwise(col("n_sketch").cast("double"))
    exact.join(cmp, col("event_type") === col("grp"))
      .crossJoin(broadcast(nb))
      .select(col("event_type"), col("n_sketch"), col("n_mismatch"),
        col("n_batches"), est.as("est_distinct"), col("exact_distinct"),
        (abs(est - col("exact_distinct").cast("double")) <=
          greatest(col("exact_distinct").cast("double") * 0.4,
            lit(20.0))).as("within_bounds"))
      .orderBy("event_type")
  }

  /** STREAMING NB MODEL SCORING with a training/serving consistency
    * proof ([[graft.streaming.StreamOps.nbClassifySink]]): the t60
    * model trains offline on the md5-parity TRAIN half and PUBLISHES
    * to parquet paths; the EVAL half streams as a 6-file bus consumed
    * 2 files per trigger (3 epochs), each micro-batch re-reading the
    * published model and scoring with the SAME classify plan the batch
    * job runs, into idempotent batch_id partitions. The gate re-runs
    * the OFFLINE classifier on the same rows and full-outer-joins the
    * two outputs per doc: `matches` must be TRUE on every row (a doc
    * scored differently online — or present on one side only — fails
    * the hash), `n_batches` pins the 3-epoch consumption. Epoch
    * MEMBERSHIP is file-listing-dependent, so per-epoch counts are
    * deliberately NOT in the output — per-doc equality is epoch-
    * assignment-free, which is exactly why it can be oracle-checked. */
  def s42StreamNbScoring(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val docs = documents(s2, dir)
      .withColumn("__train",
        Hashing.portableHash32(col("doc_id").cast("string")) % 2 === 0)
    val model = graft.operators.NaiveBayes.train(
      docs.filter(col("__train")), "source", "text", "graft-s42")
    val condDir = graft.Tables.scratchDir("graft-s42-cond")
    val clsDir = graft.Tables.scratchDir("graft-s42-cls")
    model.cond.write.mode("overwrite").parquet(condDir)
    model.cls.write.mode("overwrite").parquet(clsDir)
    val evalD = docs.filter(!col("__train"))
      .select(col("doc_id"), col("source"), col("text"))
    val inDir = graft.Tables.scratchDir("graft-s42-in")
    evalD.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s42: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the pinned 3-epoch consumption would diverge")
    val changes = s2.readStream.schema(evalD.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val outDir = graft.Tables.scratchDir("graft-s42-out")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try graft.streaming.StreamOps.nbClassifySink(changes, condDir,
      clsDir, "doc_id", "text", outDir)
    finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    val streamed = s2.read.parquet(outDir)
    val nb = streamed.agg(countDistinct(col("batch_id")).as("n_batches"))
    val offline = graft.operators.NaiveBayes.classify(evalD, "doc_id",
      "text", model)
    streamed.select(col("id"), col("pred").as("__sp"),
        col("score").as("__ss"))
      .join(offline, Seq("id"), "full_outer")
      .join(evalD.select(col("doc_id").as("id"),
        col("source").as("actual")), Seq("id"))
      .crossJoin(broadcast(nb))
      .select(col("id").as("doc_id"), col("actual"), col("pred"),
        (col("pred") === col("actual")).as("correct"), col("score"),
        (col("__sp") <=> col("pred") && col("__ss") <=> col("score"))
          .as("matches"),
        col("n_batches"))
      .orderBy("doc_id")
  }

  val s42Sql: String = nbOracleSql(
    ",\n  TRUE AS matches, CAST(3 AS BIGINT) AS n_batches")

  /** STREAMING OBSERVED METRICS (`Dataset.observe` → `CollectMetrics`
    * — the last untouched instrumentation API leg): production
    * streams attach data-quality counters to the flowing query itself
    * (row counts, business-rule counts, exact value mass, high-water
    * marks) and read them from query progress WITHOUT a second scan or
    * a separate aggregation sink. The gate streams a 6-file event bus
    * 2 files per trigger through observe(count, purchase-count, exact
    * cents mass, max event id) into a no-op foreachBatch sink, then
    * folds the per-batch metric rows from `recentProgress` — integer
    * sums and a max, so the fold is order-free and the totals are
    * exactly the batch recount the oracle runs. Driver state is the
    * metric rows themselves (one per epoch — config-sized; that is the
    * API's point: metrics travel with the stream, data does not).
    * n_batches counts non-empty epochs (pinned 3 by the producer). */
  def s43ObserveMetrics(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val ev = events(s2, dir).filter(col("event_id") % 16 === 13)
      .select(col("event_id"), col("event_type"), col("value"))
    require(ev.limit(6).count() >= 6,
      "s43: the event_id % 16 = 13 bus slice has < 6 rows")
    val inDir = graft.Tables.scratchDir("graft-s43-in")
    ev.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s43: producer wrote $nFiles non-empty part files, expected 6")
    val changes = s2.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val observed = changes.observe("ingest_metrics",
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purchase"),
      sum((graft.Tables.dec(col("value")) * 100).cast("long"))
        .as("value_cents"),
      max(col("event_id")).as("max_event_id"))
    val ckpt = graft.Tables.scratchDir("graft-s43-ckpt")
    // a REAL sink: an empty foreachBatch body never executes the plan,
    // so CollectMetrics would never fire — parquet append does
    val q = observed.writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet")
      .option("path", graft.Tables.scratchDir("graft-s43-sink"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val metricRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
      .filter(r => r.getLong(r.fieldIndex("n_rows")) > 0)
    require(metricRows.nonEmpty,
      "s43: no observed metrics surfaced in recentProgress")
    import s2.implicits._
    Seq((metricRows.size.toLong,
      metricRows.map(r => r.getLong(r.fieldIndex("n_rows"))).sum,
      metricRows.map(r => r.getLong(r.fieldIndex("n_purchase"))).sum,
      metricRows.map(r => r.getLong(r.fieldIndex("value_cents"))).sum,
      metricRows.map(r => r.getLong(r.fieldIndex("max_event_id"))).max))
      .toDF("n_batches", "n_rows", "n_purchase", "value_cents_sum",
        "max_event_id")
  }

  val s43Sql: String =
    """SELECT CAST(3 AS BIGINT) AS n_batches,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchase,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS value_cents_sum,
      |  CAST(MAX(event_id) AS BIGINT) AS max_event_id
      |FROM events WHERE event_id % 16 = 13""".stripMargin

  val s41Sql: String =
    """WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u
      |  FROM events WHERE event_id % 16 = 9),
      |h AS (SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(u), 1, 8))::BIGINT AS h FROM ev),
      |sk AS (SELECT event_type, h FROM (SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM h) WHERE rn <= 64),
      |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
      |    MAX(h) AS hmax FROM sk GROUP BY 1),
      |e AS (SELECT event_type,
      |    CAST(count(DISTINCT u) AS BIGINT) AS exact_distinct
      |  FROM ev GROUP BY 1),
      |r AS (SELECT a.event_type, a.n_sketch,
      |    CAST(0 AS BIGINT) AS n_mismatch, CAST(3 AS BIGINT) AS n_batches,
      |    CASE WHEN a.n_sketch = 64
      |      THEN 63.0 * 4294967296.0 / CAST(a.hmax AS DOUBLE)
      |      ELSE CAST(a.n_sketch AS DOUBLE) END AS est_distinct,
      |    e.exact_distinct
      |  FROM agg a JOIN e USING (event_type))
      |SELECT event_type, n_sketch, n_mismatch, n_batches, est_distinct,
      |  exact_distinct,
      |  abs(est_distinct - CAST(exact_distinct AS DOUBLE)) <=
      |    greatest(CAST(exact_distinct AS DOUBLE) * 0.4, 20.0)
      |    AS within_bounds
      |FROM r ORDER BY event_type""".stripMargin

  val s37Sql: String =
    """WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u
      |  FROM events WHERE event_id % 16 = 9),
      |h AS (SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(u), 1, 15))::BIGINT AS h FROM ev),
      |r AS (SELECT event_type, h % 1024 AS bucket,
      |    MAX(51 - length(bin(h // 1024))) AS rho
      |  FROM h GROUP BY 1, 2),
      |e AS (SELECT event_type, count(DISTINCT u) AS exact_distinct
      |  FROM ev GROUP BY 1)
      |SELECT r.event_type, CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(rho) AS BIGINT) AS sum_rho,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  CAST(3 AS BIGINT) AS n_batches,
      |  e.exact_distinct
      |FROM r JOIN e ON e.event_type = r.event_type
      |GROUP BY r.event_type, e.exact_distinct
      |ORDER BY r.event_type""".stripMargin

  /** STREAMING CMS MAINTENANCE ([[graft.streaming.StreamOps
    * .cmsEpochSink]]) — the deliberate NON-IDEMPOTENT-merge contrast to
    * s37's HLL registers: each epoch of the 1/16 events bus
    * (event_id % 16 = 10, 3 micro-batches) writes ONE serialized
    * count-min sketch into its idempotent batch_id partition, and the
    * epoch fold is counter-wise ADD — associative, commutative, but a
    * replayed epoch would DOUBLE its counts, so exactly-once rests
    * ENTIRELY on the partition-overwrite recipe, which the gate
    * exercises live with an injected torn epoch (crash after epoch 1's
    * write, before its checkpoint commit; the restart replays the same
    * id over its own partition). Because counter-add commutes and
    * epochs partition the stream, the merged sketch must equal the
    * single-pass batch sketch — `merged_eq_batch` pins estimate
    * equality on every probe key (an append-mode sink fails it), and
    * `bound_ok` pins the CMS contract est ∈ [exact, exact + eps·N].
    * Per-epoch state is one d×w grid; history never rescanned. */
  def s38CmsStreamIngest(sp: SparkSession, dir: String): DataFrame = {
    val s2 = sp.newSession()
    val ev = events(s2, dir).filter(col("event_id") % 16 === 10)
      .select(col("user_id").cast("string").as("u"))
    require(ev.limit(6).count() >= 6,
      "s38: the event_id % 16 = 10 bus slice has < 6 rows — fixture " +
        "too small for the pinned 3-batch ingest")
    val inDir = graft.Tables.scratchDir("graft-s38-in")
    ev.repartition(6).write.mode("overwrite").parquet(inDir)
    val nFiles = new java.io.File(inDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    require(nFiles == 6,
      s"s38: producer wrote $nFiles non-empty part files, expected 6 — " +
        "the pinned 3-epoch coverage would diverge")
    val changes = s2.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    val outDir = graft.Tables.scratchDir("graft-s38-cms")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try graft.streaming.StreamOps.cmsEpochSink(changes, col("u"), outDir,
      eps = 1e-4, delta = 0.99, seed = 42, failAt = 1L)
    finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    val epochs = s2.read.parquet(outDir)
    val nB = epochs.agg(countDistinct(col("batch_id")).as("n_batches"))
    val mergedBytes = graft.functions.CmsAgg.mergeBytes(
      epochs.select(col("sk")).collect().map(_.getAs[Array[Byte]](0))
        .toSeq)
    val batchBytes = ev
      .agg(graft.functions.CmsAgg.cmsSketch(1e-4, 0.99, 42)(col("u"))
        .as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val totals = ev.agg(count(lit(1)).as("n_total"))
    def est(bytes: Array[Byte]) =
      graft.functions.CmsEstimateExpr.cms_estimate(col("u"), bytes)
    ev.groupBy(col("u")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("u")).limit(5)
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nB))
      .select(col("u"), col("exact_cnt"), col("n_batches"),
        (est(mergedBytes) === est(batchBytes)).as("merged_eq_batch"),
        est(mergedBytes).between(col("exact_cnt"),
          col("exact_cnt") + ceil(col("n_total") * 1e-4)).as("bound_ok"))
      .orderBy(col("exact_cnt").desc, col("u"))
  }

  val s38Sql: String =
    """WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events
      |  WHERE event_id % 16 = 10)
      |SELECT u, count(*) AS exact_cnt, CAST(3 AS BIGINT) AS n_batches,
      |  TRUE AS merged_eq_batch, TRUE AS bound_ok
      |FROM ev GROUP BY u
      |ORDER BY exact_cnt DESC, u LIMIT 5""".stripMargin

  /** PER-MICRO-BATCH DIMENSION REFRESH
    * ([[graft.streaming.StreamOps.dimRefreshEnrichStart]]) — the
    * enrichment leg s7's plan-time-bound staticEnrich cannot express:
    * the dimension is re-read inside every foreachBatch body, so a
    * mid-stream dimension PUBLISH takes effect at the next micro-batch
    * without restarting the query. Harness: the 1/16
    * `event_id % 16 = 11` bus in three event_id-ordered terciles
    * (ntile(3), oracle-replayed); dimension v1 (tier 'T'‖dk%3, keys
    * dk < 45 only — a deliberate coverage hole) is published before
    * the run, v2 (tier 'U'‖dk%4, all 50 keys) after epoch 0 commits.
    * Epoch-0 rows therefore carry v1 tiers with NULL above dk 44
    * (the LEFT-join coverage contract), epochs 1-2 carry v2 tiers
    * with full coverage — both the refresh timing and the coverage
    * fix are hash-visible on every row. */
  def s40DimRefresh(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
    val rows = events(sp, dir).filter(col("event_id") % 16 === 11)
      .select(col("event_id"), col("user_id"))
      .withColumn("b", ntile(3).over(w))
      .orderBy("event_id").collect()
    require(rows.length >= 9,
      "s40: the 1/16 event_id sample has < 9 rows — fixture too small " +
        "for a 3-tercile refresh bus")
    def feed(b: Int) = rows.toIndexedSeq.filter(_.getInt(2) == b)
      .map(r => (r.getLong(0), r.getLong(1)))
    val s2 = sp.newSession()
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val dimDir = graft.Tables.scratchDir("graft-s40-dim")
    val outDir = graft.Tables.scratchDir("graft-s40-out")
    def publish(version: Int): Unit = {
      val n = if (version == 1) 45 else 50
      val tier = if (version == 1)
        concat(lit("T"), (col("id") % 3).cast("string"))
      else concat(lit("U"), (col("id") % 4).cast("string"))
      s2.range(n).select(col("id").as("dim_dk"), tier.as("tier"))
        .coalesce(1).write.mode("overwrite").parquet(dimDir)
    }
    publish(1)
    val in = MemoryStream[(Long, Long)]
    val ds = in.toDF().toDF("event_id", "user_id")
      .withColumn("dk", col("user_id") % 50)
    val q = graft.streaming.StreamOps.dimRefreshEnrichStart(
      ds, dimDir, "dk", "dim_dk", outDir)
    try {
      in.addData(feed(1)); q.processAllAvailable()
      publish(2)
      in.addData(feed(2)); q.processAllAvailable()
      in.addData(feed(3)); q.processAllAvailable()
    } finally q.stop()
    s2.read.parquet(outDir)
      .select(col("event_id"), col("dk"),
        col("batch_id").cast("int").as("batch_id"), col("tier"))
      .orderBy("event_id")
  }

  val s40Sql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |    ntile(3) OVER (ORDER BY event_id) AS b
      |  FROM events WHERE event_id % 16 = 11)
      |SELECT event_id, user_id % 50 AS dk, CAST(b - 1 AS INT) AS batch_id,
      |  CASE WHEN b = 1 THEN
      |      CASE WHEN user_id % 50 < 45
      |        THEN 'T' || CAST(user_id % 50 % 3 AS VARCHAR) END
      |    ELSE 'U' || CAST(user_id % 50 % 4 AS VARCHAR) END AS tier
      |FROM ev ORDER BY event_id""".stripMargin

  /** dropDuplicatesWithinWatermark — Spark 4's BOUNDED-STATE streaming
    * dedup (the API leg s13's unbounded dropDuplicates doesn't cover):
    * key state lives only `delay` past its event time, so the store
    * stays O(keys-per-window) forever — the only dedup a year-running
    * ingest can afford — at the price of re-admitting a key that
    * recurs after eviction. The gate pins the FULL semantic surface,
    * probed and pinned empirically: (1) a key re-occurring while its
    * state lives is dropped; (2) a key re-occurring after eviction
    * (first-ts + delay < watermark) is EMITTED AGAIN; (3) any row
    * below the watermark is late-dropped even if its key was never
    * seen. Harness: the 1/16 `event_id % 16 = 8` bus in three
    * event-time-ordered tercile batches (ntile(3), oracle-replayed);
    * batch 3 additionally REPLAYS every `event_id % 3 = 0` row of
    * terciles 1-2 bumped +8 days — against watermark = maxTs(b2) − 4d
    * those replays split into all three classes at every SF. Keys are
    * unique within each batch, so emissions are slicing-deterministic
    * and the oracle replays them with two interval comparisons. */
  def s35DedupWithinWatermark(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val rows = events(sp, dir).filter(col("event_id") % 16 === 8)
      .select(col("event_id"), col("ts"))
      .withColumn("b", ntile(3).over(w))
      .orderBy("ts", "event_id").collect()
    require(rows.length >= 9,
      "s35: the 1/16 event_id sample has < 9 rows — fixture too small " +
        "for a 3-tercile dedup bus")
    def feed(b: Int): Seq[(Long, java.sql.Timestamp)] = rows.toIndexedSeq
      .filter(_.getInt(2) == b)
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    // +8d via Instant so MICROSECOND precision survives (Timestamp
    // getTime is millis and would truncate the fixture's micros)
    val replays = rows.toIndexedSeq
      .filter(r => r.getInt(2) != 3 && r.getLong(0) % 3 == 0)
      .map(r => (r.getLong(0), java.sql.Timestamp.from(
        r.getTimestamp(1).toInstant.plusSeconds(8L * 86400))))
    val s2 = sp.newSession()
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val out = in.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "4 days")
      .dropDuplicatesWithinWatermark("event_id")
    val name = "s35_ddw_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        in.addData(feed(1)); q.processAllAvailable()
        in.addData(feed(2)); q.processAllAvailable()
        in.addData(feed(3) ++ replays); q.processAllAvailable()
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name).orderBy("event_id", "ts")
  }

  val s35Sql: String =
    """WITH s AS (SELECT event_id,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ts
      |  FROM events WHERE event_id % 16 = 8),
      |b AS (SELECT event_id, ts,
      |    ntile(3) OVER (ORDER BY ts, event_id) AS b FROM s),
      |wm AS (SELECT max(ts) - INTERVAL 4 DAY AS w FROM b WHERE b <= 2),
      |rep AS (SELECT event_id, ts + INTERVAL 8 DAY AS ts
      |  FROM b, wm WHERE b.b <= 2 AND event_id % 3 = 0
      |    AND ts + INTERVAL 8 DAY >= wm.w
      |    AND ts + INTERVAL 4 DAY < wm.w)
      |SELECT event_id, ts FROM b
      |UNION ALL SELECT event_id, ts FROM rep
      |ORDER BY event_id, ts""".stripMargin

  /** STREAMING ROLLING 7-DAY DISTINCT ACTIVES — p41's sliding
    * COUNT(DISTINCT) as a LIVE streaming query, the board metric
    * maintained as events arrive instead of recomputed nightly. The
    * same offset expansion makes it streamable: each event explodes
    * STATELESSLY to its 7 target days (target_ts = day(ts)+k, the new
    * event-time column), then `dropDuplicates(user, target_ts)` under
    * a 10-day watermark keeps exactly one row per (user, target day)
    * with state EVICTED past the horizon — the canonical guide
    * pattern, and the exactness argument is the offset bound: a
    * duplicate (user, target day) arrival lags the first by at most
    * 6 days + bus disorder, under the 10-day delay, so no survivor is
    * ever re-admitted — then a per-day windowed count in UPDATE mode.
    * Counts are monotone, so max-per-window over the update log (the
    * s10 idiom) is the final answer. Three time-ordered tercile
    * epochs prove the dedup state carries across batches; unlike
    * p41, target days are NOT restricted to observed days (a
    * stream cannot semi-join the future) — the oracle expands
    * identically. */
  def s45StreamRollingActives(sp: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val rows = events(sp, dir).filter(col("event_id") % 17 === 7)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("b", ntile(3).over(w))
      .collect()
    def feed(b: Int): Seq[(Long, java.sql.Timestamp)] = rows.toIndexedSeq
      .filter(_.getInt(3) == b)
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val s2 = sp.newSession()
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = in.toDS().toDF("user_id", "ts")
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("k"), col("ts"))
      .select(col("user_id"),
        date_add(col("ts").cast("date"), col("k"))
          .cast("timestamp").as("target_ts"))
      .withWatermark("target_ts", "10 days")
      .dropDuplicates("user_id", "target_ts")
      .groupBy(window(col("target_ts"), "1 day"))
      .agg(count(lit(1)).as("actives_7d"))
    val name = "s45_ra_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = s2.conf.get("spark.sql.shuffle.partitions")
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = agg.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        in.addData(feed(1)); q.processAllAvailable()
        in.addData(feed(2)); q.processAllAvailable()
        in.addData(feed(3)); q.processAllAvailable()
      } finally q.stop()
    } finally s2.conf.set("spark.sql.shuffle.partitions", prev)
    s2.table(name)
      .select(col("window.start").cast("date").as("d"),
        col("actives_7d"))
      .groupBy(col("d")).agg(max(col("actives_7d")).as("actives_7d"))
      .orderBy("d")
  }

  val s45Sql: String =
    """WITH s AS (SELECT user_id,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS d
      |  FROM events WHERE event_id % 17 = 7),
      |du AS (SELECT DISTINCT d, user_id FROM s),
      |exp AS (SELECT du.d + CAST(k.k AS INT) AS d, du.user_id
      |  FROM du, range(0, 7) k(k))
      |SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS actives_7d
      |FROM exp GROUP BY 1 ORDER BY d""".stripMargin

  /** As-of join: attribute each purchase to the user's latest signup at or
    * before it (point-in-time correctness — the training-data labeling
    * primitive). Oracle: DuckDB's native ASOF LEFT JOIN. */
  def s3AsOf(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        col("event_id").as("signup_event"))
    graft.operators.AsOf
      .asOfJoin(purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(col("user_id"), col("event_id"),
        col("__match.signup_event").as("signup_event"))
      .orderBy("event_id")
  }

  val s3Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |p AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, ts, event_id AS signup_event FROM ev WHERE event_type = 'signup')
      |SELECT p.user_id, p.event_id, s.signup_event
      |FROM p ASOF LEFT JOIN s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** s3's semantics through the FIRST-CLASS operator: custom logical node +
    * planner strategy + physical streamed-merge exec
    * ([[graft.plans.AsOfJoinExec]], registered by GraftExtensions), gated
    * against the same DuckDB native ASOF LEFT JOIN oracle as s3. */
  def s3bAsOfExec(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        col("event_id").as("signup_event"))
    graft.operators.AsOf
      .asOfJoinExec(purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(col("user_id"), col("event_id"),
        col("__match.signup_event").as("signup_event"))
      .orderBy("event_id")
  }

  /** Direction + tolerance coverage for BOTH as-of forms: the NEXT signup
    * at-or-after each purchase (`forward`), but only if it lands within 2
    * hours (`tolerance`) — matches farther out resolve to null, like pandas
    * merge_asof. The union runs the window composition (`form = carry`) and
    * the custom physical operator (`form = exec`) against one oracle:
    * DuckDB's forward ASOF LEFT JOIN (`p.ts <= s.ts`) with the gap applied
    * as a CASE post-filter. A hash match proves the two implementations AND
    * the oracle agree row-for-row. */
  def s3cAsOfDirTol(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        col("event_id").as("signup_event"))
    def shape(df: DataFrame, form: String) =
      df.select(lit(form).as("form"), col("user_id"), col("event_id"),
        col("__match.signup_event").as("signup_event"))
    val carry = graft.operators.AsOf.asOfJoin(
      purchases, signups, "user_id", "ts", Seq("signup_event"),
      direction = "forward", tolerance = Some(expr("INTERVAL 2 HOURS")))
    val exec = graft.operators.AsOf.asOfJoinExec(
      purchases, signups, "user_id", "ts", Seq("signup_event"),
      direction = "forward", tolerance = Some(2L * 3600 * 1000000))
    shape(carry, "carry").unionByName(shape(exec, "exec"))
      .orderBy("form", "event_id")
  }

  val s3cSql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |p AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, ts, event_id AS signup_event FROM ev WHERE event_type = 'signup'),
      |j AS (SELECT p.user_id, p.event_id,
      |        CASE WHEN s.ts - p.ts <= INTERVAL 2 HOUR THEN s.signup_event END AS signup_event
      |      FROM p ASOF LEFT JOIN s
      |        ON p.user_id = s.user_id AND p.ts <= s.ts)
      |SELECT 'carry' AS form, user_id, event_id, signup_event FROM j
      |UNION ALL
      |SELECT 'exec' AS form, user_id, event_id, signup_event FROM j
      |ORDER BY form, event_id""".stripMargin

  /** Stream-stream inner join, run live: views joined to same-user clicks
    * arriving within 6 hours, both sides watermarked so join state stays
    * bounded. Single-batch drain in append mode emits every match; the
    * oracle is the identical time-bounded batch join. */
  def s4StreamJoin(sp: SparkSession, dir: String): DataFrame = {
    val name = "s4_join_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("view_event"))
    val clicks = side("click")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("click_event"))
    val joined = graft.streaming.StreamOps.streamStreamJoin(
      views, clicks, watermark = "48 hours", maxDelay = "6 hours")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(col("key").as("user_id"), col("view_event"),
        col("click_event"))
      .orderBy("user_id", "view_event", "click_event")
  }

  val s4Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts, event_id AS click_event FROM ev WHERE event_type = 'click')
      |SELECT v.user_id AS user_id, v.view_event, c.click_event
      |FROM v JOIN c ON c.user_id = v.user_id
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
      |ORDER BY v.user_id, view_event, click_event""".stripMargin

  /** Stream-stream LEFT OUTER join ([[graft.streaming.StreamOps
    * .streamStreamOuterJoin]]): views left-joined to clicks of the same
    * user within [ts, ts + 6 h]. Matches emit immediately; an unmatched
    * view emits its null-extended row only after BOTH sides' watermarks
    * (min across inputs, 1 h delay here) pass the end of its match window
    * — so on this finite input, views whose window is still inside the
    * final watermark horizon stay pending and never emit. The oracle
    * replays exactly that: the inner matches UNION the unmatched views
    * with `ts + 6 h < min(max view ts, max click ts) - 1 h`. */
  def s12StreamOuterJoin(sp: SparkSession, dir: String): DataFrame = {
    val name = "s12_loj_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("view_event"))
    val clicks = side("click")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("click_event"))
    val joined = graft.streaming.StreamOps.streamStreamOuterJoin(
      views, clicks, watermark = "1 hour", maxDelay = "6 hours")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(col("key").as("user_id"), col("view_event"),
        col("click_event"))
      .orderBy("user_id", "view_event", "click_event")
  }

  val s12Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts, event_id AS click_event FROM ev
      |  WHERE event_type = 'click'),
      |wm AS (SELECT LEAST((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
      |  - INTERVAL 1 HOUR AS horizon)
      |SELECT v.user_id AS user_id, v.view_event, c.click_event
      |FROM v JOIN c ON c.user_id = v.user_id
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
      |UNION ALL
      |SELECT v.user_id, v.view_event, NULL
      |FROM v CROSS JOIN wm
      |WHERE v.ts + INTERVAL 6 HOUR < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM c
      |    WHERE c.user_id = v.user_id AND c.ts >= v.ts
      |      AND c.ts <= v.ts + INTERVAL 6 HOUR)
      |ORDER BY user_id, view_event, click_event""".stripMargin

  /** STREAM-STREAM AS-OF JOIN (s44) — the streaming point-in-time match
    * batch s3/s3c provide: each purchase paired with the LATEST view by
    * the same user at or before its own time (6 h tolerance), built
    * Spark-first as two chained stateful operators in ONE append-mode
    * query: a watermarked interval join (state bounded by the 2 h
    * watermark + 6 h interval — the 100 TB requirement) feeding a
    * streaming argmax grouped on the raw watermarked left event time
    * (`max(struct(view_ts, view_event))` — no window needed, the ts IS
    * the event-time key). Both sides ride mtime-ordered 3-file buses
    * with the RIGHT bus deliberately OUT OF ORDER: mid-period views
    * arrive first, recent views second, and the oldest views arrive
    * LAST — after the watermark armed against them. The s17 one-batch
    * lag is pinned twice: (1) batch 2's late filter uses the watermark
    * batch 1 RAN with (W0 = min(max early-purchase ts, max mid-view
    * ts) − 2 h), so the late file's [W0, D1) sliver is ADMITTED and
    * matches — the oracle includes exactly `view_ts ≥ W0`, and the
    * measured run contains such matches; everything older is dropped.
    * (2) join-state eviction at the end of batch N also uses the
    * ran-with watermark, so the mid-period purchases are still resident
    * when the sliver arrives. Emission horizon: watermark propagation
    * delays the aggregate's watermark by the join's 6 h interval (a
    * state view at rts can still join a future left with lts ≤ rts+6h),
    * so groups finalize below HZ = min(max purchase ts, max view ts)
    * − 2 h − 6 h; later purchases stay pending on this finite bus and
    * the oracle restricts to `pts < HZ`. Oracle = the s3c DuckDB ASOF
    * join over the admitted view universe, tolerance-filtered,
    * horizon-restricted ((user_id, ts) view ties verified absent at
    * all three SFs, so ASOF's pick is deterministic). */
  def s44StreamAsOf(sp: SparkSession, dir: String): DataFrame = {
    val d1 = "2024-01-11 00:00:00"
    val d2 = "2024-01-21 00:00:00"
    // staged: SIX slice writers + six non-empty guards below each
    // filter this projection — one events scan, not twelve
    val ev = graft.Tables.stage(events(sp, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type")), "graft-s44-ev")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_event"), col("ts").as("rts"),
        col("user_id").as("rkey"))
    val lDir = graft.Tables.scratchDir("graft-s44-l")
    val rDir = graft.Tables.scratchDir("graft-s44-r")
    new java.io.File(lDir).mkdirs()
    new java.io.File(rDir).mkdirs()
    def writeOne(df: DataFrame, outDir: String, name: String,
        mtime: Long): Unit = {
      val tmp = graft.Tables.scratchDir(s"graft-s44-tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(outDir, s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      require(dst.setLastModified(mtime),
        s"setLastModified failed for $dst — s44's micro-batch " +
          "ordering would be undefined")
    }
    // every slice must be non-empty or the 3-batch alignment (and the
    // watermark arithmetic the oracle replays) shifts
    val slices = Seq(
      ("l", p.filter(col("ts") < d1), "a-l1"),
      ("l", p.filter(col("ts") >= d1 && col("ts") < d2), "b-l2"),
      ("l", p.filter(col("ts") >= d2), "c-l3"),
      ("r", v.filter(col("rts") >= d1 && col("rts") < d2), "a-r2"),
      ("r", v.filter(col("rts") >= d2), "b-r3"),
      ("r", v.filter(col("rts") < d1), "c-r1-late"))
    val now = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case ((side, df, name), i) =>
      require(df.limit(1).count() > 0, s"s44: empty slice $name")
      writeOne(df, if (side == "l") lDir else rDir, name,
        now - 120000 + (i % 3) * 60000)
    }
    val ls = sp.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(lDir)
      .withWatermark("ts", "2 hours")
    val rs = sp.readStream
      .schema("view_event BIGINT, rts TIMESTAMP, rkey BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(rDir)
      .withWatermark("rts", "2 hours")
    val joined = ls.join(rs, col("user_id") === col("rkey") &&
      col("rts") <= col("ts") &&
      col("rts") >= col("ts") - expr("INTERVAL 6 HOURS"))
    val agg = joined
      .groupBy(col("ts"), col("event_id"), col("user_id"))
      .agg(max(struct(col("rts"), col("view_event"))).as("__m"))
      .select(col("event_id"), col("user_id"), col("ts").as("pts"),
        col("__m.view_event").as("view_event"),
        col("__m.rts").as("view_ts"))
    val name = "s44_asof_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "append")
      .orderBy("event_id")
  }

  val s44Sql: String =
    """WITH ev AS (SELECT event_id,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ts, user_id,
      |    event_type FROM events),
      |p AS (SELECT event_id, ts, user_id FROM ev
      |  WHERE event_type = 'purchase'),
      |v0 AS (SELECT event_id AS view_event, ts AS vts, user_id FROM ev
      |  WHERE event_type = 'view'),
      |w0 AS (SELECT LEAST(
      |    (SELECT max(ts) FROM p
      |      WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
      |    (SELECT max(vts) FROM v0
      |      WHERE vts >= TIMESTAMP '2024-01-11 00:00:00'
      |        AND vts < TIMESTAMP '2024-01-21 00:00:00'))
      |    - INTERVAL 2 HOUR AS w0),
      |hz AS (SELECT LEAST((SELECT max(ts) FROM p),
      |    (SELECT max(vts) FROM v0)) - INTERVAL 8 HOUR AS hz),
      |v AS (SELECT v0.* FROM v0 CROSS JOIN w0 WHERE v0.vts >= w0.w0),
      |j AS MATERIALIZED (SELECT p.event_id, p.user_id, p.ts AS pts,
      |    v.view_event, v.vts AS view_ts
      |  FROM p ASOF JOIN v
      |    ON p.user_id = v.user_id AND p.ts >= v.vts)
      |SELECT event_id, user_id, pts, view_event, view_ts
      |FROM j CROSS JOIN hz
      |WHERE view_ts >= pts - INTERVAL 6 HOUR AND pts < hz.hz
      |ORDER BY event_id""".stripMargin

  /** STREAM-STREAM TIME-INTERVAL LEFT OUTER JOIN ([[graft.streaming
    * .StreamOps.streamStreamIntervalJoin]]) — the attribution shape the
    * s4/s12/s14/s16/s18 one-sided matrix doesn't cover: a TWO-SIDED
    * event-time range (view v.ts ∈ [p.ts − 4 h, p.ts + 30 min]: the
    * impression may precede the purchase by up to 4 h or trail it by 30
    * min of clock skew) with ASYMMETRIC per-side watermark delays
    * (purchases 30 min, views 2 h). Matches emit immediately; an
    * unmatched purchase null-extends only once the GLOBAL watermark —
    * LEAST(max purchase ts − 30 min, max view ts − 2 h), the min across
    * both watermark operators — passes the end of its match window
    * (p.ts + 30 min), at which point its state evicts; view state
    * evicts once the watermark passes v.ts + 4 h. The oracle replays
    * the horizon arithmetic exactly: inner matches UNION unmatched
    * purchases with p.ts + 30 min < horizon (purchases still inside the
    * horizon when the finite input ends stay pending, like s12's). */
  def s36IntervalJoin(sp: SparkSession, dir: String): DataFrame = {
    val name = "s36_ivj_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val purchases = side("purchase")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("purchase_event"))
    val views = side("view")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("view_event"))
    val joined = graft.streaming.StreamOps.streamStreamIntervalJoin(
      purchases, views, leftWatermark = "30 minutes",
      rightWatermark = "2 hours", before = "4 hours",
      after = "30 minutes")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(col("key").as("user_id"), col("purchase_event"),
        col("view_event"))
      .orderBy("user_id", "purchase_event", "view_event")
  }

  val s36Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |p AS (SELECT user_id, ts, event_id AS purchase_event FROM ev
      |  WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |wm AS (SELECT LEAST(
      |    (SELECT max(ts) FROM p) - INTERVAL 30 MINUTE,
      |    (SELECT max(ts) FROM v) - INTERVAL 2 HOUR) AS horizon)
      |SELECT p.user_id AS user_id, p.purchase_event, v.view_event
      |FROM p JOIN v ON v.user_id = p.user_id
      |  AND v.ts >= p.ts - INTERVAL 4 HOUR
      |  AND v.ts <= p.ts + INTERVAL 30 MINUTE
      |UNION ALL
      |SELECT p.user_id, p.purchase_event, NULL
      |FROM p CROSS JOIN wm
      |WHERE p.ts + INTERVAL 30 MINUTE < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM v
      |    WHERE v.user_id = p.user_id
      |      AND v.ts >= p.ts - INTERVAL 4 HOUR
      |      AND v.ts <= p.ts + INTERVAL 30 MINUTE)
      |ORDER BY user_id, purchase_event, view_event""".stripMargin

  /** Stream-stream FULL OUTER time-interval join ([[graft.streaming
    * .StreamOps.streamStreamIntervalJoin]] with joinType = full_outer) —
    * the one interval-join leg s36 (left outer) leaves untested, and
    * the shape reconciliation pipelines need: EVERY purchase and EVERY
    * view surfaces exactly once, matched when the view falls in
    * [purchase − 4 h, purchase + 30 min], null-extended otherwise —
    * unmatched LEFT rows emit once both watermarks clear their match
    * window's end (ts + 30 min), unmatched RIGHT rows once the horizon
    * clears theirs (rts + 4 h — the inverse window's end), and rows
    * still inside the horizon when a finite input ends stay pending
    * (the oracle accounts for both tails explicitly, s36 discipline;
    * per-side watermarks are asymmetric like s36's). State is bounded
    * by watermark + interval on both sides exactly as in the
    * inner/left forms. */
  def s39IntervalFullOuter(sp: SparkSession, dir: String): DataFrame = {
    val name = "s39_ivfo_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val purchases = side("purchase")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("purchase_event"))
    val views = side("view")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("view_event"))
    val joined = graft.streaming.StreamOps.streamStreamIntervalJoin(
      purchases, views, leftWatermark = "30 minutes",
      rightWatermark = "2 hours", before = "4 hours",
      after = "30 minutes", joinType = "full_outer")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(coalesce(col("key"), col("rkey")).as("user_id"),
        col("purchase_event"), col("view_event"))
      .orderBy("user_id", "purchase_event", "view_event")
  }

  val s39Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |p AS (SELECT user_id, ts, event_id AS purchase_event FROM ev
      |  WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |wm AS (SELECT LEAST(
      |    (SELECT max(ts) FROM p) - INTERVAL 30 MINUTE,
      |    (SELECT max(ts) FROM v) - INTERVAL 2 HOUR) AS horizon)
      |SELECT p.user_id AS user_id, p.purchase_event, v.view_event
      |FROM p JOIN v ON v.user_id = p.user_id
      |  AND v.ts >= p.ts - INTERVAL 4 HOUR
      |  AND v.ts <= p.ts + INTERVAL 30 MINUTE
      |UNION ALL
      |SELECT p.user_id, p.purchase_event, NULL
      |FROM p CROSS JOIN wm
      |WHERE p.ts + INTERVAL 30 MINUTE < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM v
      |    WHERE v.user_id = p.user_id
      |      AND v.ts >= p.ts - INTERVAL 4 HOUR
      |      AND v.ts <= p.ts + INTERVAL 30 MINUTE)
      |UNION ALL
      |SELECT v.user_id, NULL, v.view_event
      |FROM v CROSS JOIN wm
      |WHERE v.ts + INTERVAL 4 HOUR < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM p
      |    WHERE p.user_id = v.user_id
      |      AND v.ts >= p.ts - INTERVAL 4 HOUR
      |      AND v.ts <= p.ts + INTERVAL 30 MINUTE)
      |ORDER BY user_id, purchase_event, view_event""".stripMargin

  /** Stream-stream LEFT SEMI join gate ([[graft.streaming.StreamOps
    * .streamStreamSemiJoin]]): views that received at least one click of
    * the same user within [ts, ts + 6 h] — each such view emits exactly
    * once (first match), with no duplication per click and no
    * null-extended rows, so unlike s12 the result needs no watermark
    * horizon in the oracle: it is exactly the EXISTS set. */
  def s14StreamSemiJoin(sp: SparkSession, dir: String): DataFrame = {
    val name = "s14_semi_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("view_event"))
    val clicks = side("click")
      .select(col("user_id").as("rkey"), col("ts").as("rts"))
    val joined = graft.streaming.StreamOps.streamStreamSemiJoin(
      views, clicks, watermark = "48 hours", maxDelay = "6 hours")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(col("key").as("user_id"), col("view_event"))
      .orderBy("user_id", "view_event")
  }

  val s14Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
      |SELECT v.user_id, v.view_event FROM v
      |WHERE EXISTS (SELECT 1 FROM c
      |  WHERE c.user_id = v.user_id AND c.ts >= v.ts
      |    AND c.ts <= v.ts + INTERVAL 6 HOUR)
      |ORDER BY user_id, view_event""".stripMargin

  /** Stream-stream LEFT ANTI join gate ([[graft.streaming.StreamOps
    * .streamStreamAntiJoin]]): views with NO click of the same user in
    * [ts, ts + 6 h] — the abandonment query. Spark streaming has no
    * native anti join; the outer-join + null-filter composition emits an
    * unmatched view exactly once, after both watermarks (1 h delay) pass
    * its window end. The oracle replays that horizon: views whose window
    * closed before `min(max view ts, max click ts) - 1 h` and that have
    * no in-window click (s12's null-extended branch, stand-alone). */
  def s16StreamAntiJoin(sp: SparkSession, dir: String): DataFrame = {
    val name = "s16_anti_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("view_event"))
    val clicks = side("click")
      .select(col("user_id").as("rkey"), col("ts").as("rts"))
    val joined = graft.streaming.StreamOps.streamStreamAntiJoin(
      views, clicks, watermark = "1 hour", maxDelay = "6 hours")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(col("key").as("user_id"), col("view_event"))
      .orderBy("user_id", "view_event")
  }

  val s16Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts FROM ev WHERE event_type = 'click'),
      |wm AS (SELECT LEAST((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
      |  - INTERVAL 1 HOUR AS horizon)
      |SELECT v.user_id, v.view_event
      |FROM v CROSS JOIN wm
      |WHERE v.ts + INTERVAL 6 HOUR < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM c
      |    WHERE c.user_id = v.user_id AND c.ts >= v.ts
      |      AND c.ts <= v.ts + INTERVAL 6 HOUR)
      |ORDER BY user_id, view_event""".stripMargin

  /** Streaming XML SINK ([[graft.streaming.StreamOps.runToXmlSink]]):
    * orders streamed from parquet, written as XML shards through the
    * graft-xml FileFormat under Spark's FileStreamSink exactly-once
    * commit log, then read BACK through the splittable rowTag scan + DSL
    * and aggregated — the sink half of the streaming XML story (s5 is the
    * source half), gated end-to-end against the parquet replay. */
  def s15StreamXmlSink(sp: SparkSession, dir: String): DataFrame = {
    val sch = graft.Tables.orders(sp, dir).schema
    val src = sp.readStream.schema(sch)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
      .select(col("o_orderkey").as("id"), // long: never narrow a key
        col("o_orderstatus").as("_status"),
        dec(col("o_totalprice")).as("total"))
    val outDir = graft.Tables.scratchDir("graft-s15")
    graft.streaming.StreamOps.runToXmlSink(sp, src, outDir, rowTag = "o")
    val parser = graft.xml.XmlParser.struct("o") { a =>
      struct(a.attribute("status").as("status"),
        a.nullDecimal("total")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("total"))
    }
    parser.read(sp, outDir)
      .select(col("parsed.status").as("status"),
        col("parsed.total").as("total"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(col("total"))).as("sum_total"))
      .orderBy("status")
  }

  val s15Sql: String =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  /** Streaming exact dedup gate ([[graft.streaming.StreamOps
    * .streamingDedup]]): events deduplicated on (user_id, event_type)
    * within the watermark, live through the memory sink. The output
    * projects the KEY columns only — which representative row survives is
    * arrival-order-dependent and meaningless. The oracle is a GLOBAL
    * `SELECT DISTINCT`; `dropDuplicatesWithinWatermark` only guarantees
    * dedup of events arriving within the watermark gap of each other, so
    * the gate pins a watermark WIDER than the dataset's full time span
    * (~30 days of synthetic events vs a 90-day gap — same move as s14):
    * no key's state can be evicted mid-run however the source batches,
    * making within-watermark dedup provably equal to global DISTINCT
    * here. State: one entry per key inside the watermark horizon, evicted
    * after — the only dedup shape that is safe on an unbounded stream;
    * production picks the gap from the real re-delivery window, not the
    * corpus span. */
  def s13StreamDedup(sp: SparkSession, dir: String): DataFrame = {
    val name = "s13_dd_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val dd = graft.streaming.StreamOps.streamingDedup(
      graft.streaming.StreamOps.eventsStream(sp, dir),
      Seq("user_id", "event_type"), "90 days")
    graft.streaming.StreamOps.runToMemory(sp, dd, name, "append")
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  val s13Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming XML ingestion gate: orders written as XML text shards,
    * STREAMED back through the wildcard DSL — which routes through the
    * `graft-xml` FileFormat (split-based reads, the wholetext replacement)
    * — and aggregated per status in complete mode. The oracle computes the
    * same aggregate straight off the orders table, so the gate certifies
    * the streaming source + parse + aggregate chain, not just specs. */
  def s5StreamXml(sp: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(sp, dir)
    val xml = concat(
      lit("<rec st='"), col("o_orderstatus"), lit("'><id>"),
      col("o_orderkey").cast("string"), lit("</id><v_"),
      col("o_orderstatus"), lit(">"), dec(col("o_totalprice"))
        .cast("string"),
      lit("</v_"), col("o_orderstatus"), lit("></rec>"))
    val outDir = graft.Tables.scratchDir("graft-s5")
    spread(o.select(xml.as("value"))).write.mode("overwrite").text(outDir)
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(a.attribute("st").as("status"),
        a.nullDecimal("v_*").cast(org.apache.spark.sql.types
          .DecimalType(18, 2)).as("tot"))
    }
    val name = "s5_xml_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val stream = parser.readStream(sp, outDir)
      .select(col("parsed.status").as("status"), col("parsed.tot").as("tot"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(col("tot"))).as("sum_total"))
    graft.streaming.StreamOps.runToMemory(sp, stream, name, "complete")
      .orderBy("status")
  }

  val s5Sql: String =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  // ----- graph: link-quality propagation + triangle counting -----

  /** The derived deterministic link graph both graph gates share: each
    * document u = h(doc_id) mod N links to the 3 documents
    * v_k = h(doc_id:k) mod N (portable md5 arithmetic, so the DuckDB
    * oracle reconstructs the SAME graph; collisions/self-loops are part
    * of the definition). N rides in via a broadcast 1-row cross join —
    * no driver-side count action. */
  private def linkEdges(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("__n"))
    docs.crossJoin(broadcast(n))
      .select(col("__n"),
        Hashing.portableHash32(col("doc_id").cast("string")).as("__h"),
        explode(array(lit(0), lit(1), lit(2))).as("__k"),
        col("doc_id"))
      .select(
        pmod(col("__h"), col("__n")).as("src"),
        pmod(Hashing.portableHash32(
          concat(col("doc_id").cast("string"), lit(":"),
            col("__k").cast("string"))), col("__n")).as("dst"))
  }

  private val linkEdgesSql: String =
    """edges AS (
      |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |           % (SELECT COUNT(*) FROM documents) AS src,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |           CAST(k AS VARCHAR)), 1, 8))::BIGINT
      |           % (SELECT COUNT(*) FROM documents) AS dst
      |  FROM documents, (VALUES (0), (1), (2)) AS ks(k))""".stripMargin

  /** Integer-credit PageRank ([[graft.operators.Graph.pageRankCredits]]),
    * 3 iterations over the derived link graph; top 25 pages by credit.
    * Exact integer arithmetic means the oracle's unrolled-CTE replay
    * matches hash-for-hash — no float-sum order sensitivity. */
  def g1Pagerank(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankCredits(linkEdges(sp, dir), iters = 3)
      .orderBy(col("cr").desc, col("id")).limit(25)

  val g1Sql: String =
    s"""WITH $linkEdgesSql,
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      |e AS (SELECT edges.src, edges.dst, deg.d FROM edges
      |      JOIN deg USING (src)),
      |nodes AS (SELECT DISTINCT src AS id FROM edges
      |          UNION SELECT DISTINCT dst FROM edges),
      |c0 AS (SELECT id, CAST(1000000 AS BIGINT) AS cr FROM nodes),
      |c1 AS (SELECT n.id, CAST(150000 + COALESCE(SUM((c.cr * 85) // (100 * e.d)), 0) AS BIGINT) AS cr
      |       FROM nodes n LEFT JOIN e ON e.dst = n.id
      |       LEFT JOIN c0 c ON c.id = e.src GROUP BY n.id),
      |c2 AS (SELECT n.id, CAST(150000 + COALESCE(SUM((c.cr * 85) // (100 * e.d)), 0) AS BIGINT) AS cr
      |       FROM nodes n LEFT JOIN e ON e.dst = n.id
      |       LEFT JOIN c1 c ON c.id = e.src GROUP BY n.id),
      |c3 AS (SELECT n.id, CAST(150000 + COALESCE(SUM((c.cr * 85) // (100 * e.d)), 0) AS BIGINT) AS cr
      |       FROM nodes n LEFT JOIN e ON e.dst = n.id
      |       LEFT JOIN c2 c ON c.id = e.src GROUP BY n.id)
      |SELECT id, cr FROM c3 ORDER BY cr DESC, id LIMIT 25""".stripMargin

  /** Per-node triangle counts ([[graft.operators.Graph.triangleCounts]],
    * degree-ordered wedge join) on the same derived graph; top 25 nodes. */
  def g2Triangles(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(linkEdges(sp, dir))
      .orderBy(col("triangles").desc, col("id")).limit(25)

  val g2Sql: String =
    s"""WITH $linkEdgesSql,
      |und AS (SELECT DISTINCT u, v FROM (
      |          SELECT src AS u, dst AS v FROM edges
      |          UNION ALL SELECT dst, src FROM edges) s WHERE u <> v),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
      |orient AS (SELECT und.u AS a, und.v AS b, d2.d AS db FROM und
      |           JOIN deg d1 ON d1.u = und.u JOIN deg d2 ON d2.u = und.v
      |           WHERE d1.d < d2.d OR (d1.d = d2.d AND und.u < und.v)),
      |tri AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2
      |        FROM orient e1 JOIN orient e2 ON e1.a = e2.a
      |          AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
      |        JOIN orient c ON c.a = e1.b AND c.b = e2.b),
      |corners AS (SELECT w0 AS id FROM tri UNION ALL
      |            SELECT w1 FROM tri UNION ALL SELECT w2 FROM tri)
      |SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
      |ORDER BY triangles DESC, id LIMIT 25""".stripMargin

  /** Local clustering coefficient
    * ([[graft.operators.Graph.clusteringCoeff]]): per-node
    * 2·tri/(deg·(deg−1)) in exact integer basis points over the derived
    * link graph — the community-tightness / link-farm signal beside
    * g2's absolute triangle counts (which mostly measure degree).
    * Same arboricity-bounded wedge join as g2 plus one node-domain
    * degree join; degree-0/1 nodes report 0 by definition. The oracle
    * replays orientation, wedge closure, corner credit, and the
    * integer-bp division, so the whole composed chain is hash-pinned
    * for EVERY node, not a top-25 slice. */
  def g10ClusteringCoeff(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoeff(linkEdges(sp, dir))
      .orderBy("id")

  val g10Sql: String =
    s"""WITH $linkEdgesSql,
      |und AS (SELECT DISTINCT u, v FROM (
      |          SELECT src AS u, dst AS v FROM edges
      |          UNION ALL SELECT dst, src FROM edges) s WHERE u <> v),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
      |orient AS (SELECT und.u AS a, und.v AS b, d2.d AS db FROM und
      |           JOIN deg d1 ON d1.u = und.u JOIN deg d2 ON d2.u = und.v
      |           WHERE d1.d < d2.d OR (d1.d = d2.d AND und.u < und.v)),
      |tri AS (SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2
      |        FROM orient e1 JOIN orient e2 ON e1.a = e2.a
      |          AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
      |        JOIN orient c ON c.a = e1.b AND c.b = e2.b),
      |corners AS (SELECT w0 AS id FROM tri UNION ALL
      |            SELECT w1 FROM tri UNION ALL SELECT w2 FROM tri),
      |tc AS (SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id)
      |SELECT deg.u AS id, CAST(deg.d AS BIGINT) AS degree,
      |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
      |  CAST(CASE WHEN deg.d >= 2 THEN
      |      coalesce(tc.triangles, 0) * 20000 // (deg.d * (deg.d - 1))
      |    ELSE 0 END AS BIGINT) AS cc_bp
      |FROM deg LEFT JOIN tc ON tc.id = deg.u
      |ORDER BY id""".stripMargin

  /** DEGREE-DISTRIBUTION PROFILE — the graph-shape screen run before
    * choosing a join strategy on a 100 TB edge list (p20 profiles JOIN
    * keys; this profiles the graph itself): node degrees over the
    * simple undirected link graph, log₂-binned into power-of-two
    * buckets [2^b, 2^(b+1)) — the binning under every "is it power-law"
    * plot — with per-bucket counts, extremes, and exact-bp shares. The
    * floor-log₂ is computed as `length(bin(degree)) - 1`, a pure
    * integer/string identity both engines share, so no float log ever
    * exists and no boundary can flip a bucket. A heavy tail here is the
    * signal to orient wedges (g2), cap buckets (d3), or salt (q10)
    * before joining. One partial agg to the node domain, one to the
    * ~log(maxdeg)-row bucket domain. */
  def g12DegreeHist(sp: SparkSession, dir: String): DataFrame = {
    val edges = linkEdges(sp, dir)
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
    val und = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val deg = und.groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("degree"))
    val tot = deg.agg(count(lit(1)).as("n_total"))
    deg.withColumn("bucket", (length(bin(col("degree"))) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("degree")).as("deg_min"),
        max(col("degree")).as("deg_max"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("deg_lo"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").as("deg_hi"),
        col("n_nodes"), col("deg_min"), col("deg_max"),
        expr("n_nodes * 10000 div n_total").as("share_bp"))
      .orderBy("bucket")
  }

  val g12Sql: String =
    s"""WITH $linkEdgesSql,
       |und AS (SELECT src AS u, dst AS v FROM edges WHERE src <> dst
       |        UNION SELECT dst, src FROM edges WHERE src <> dst),
       |deg AS (SELECT u AS id, count(*) AS degree FROM und GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM deg),
       |b AS (SELECT length(bin(degree)) - 1 AS bucket,
       |    count(*) AS n_nodes, min(degree) AS dmin, max(degree) AS dmax
       |  FROM deg GROUP BY 1)
       |SELECT CAST(bucket AS INT) AS bucket,
       |  CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS deg_lo,
       |  CAST((CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS BIGINT)
       |    AS deg_hi,
       |  CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(dmin AS BIGINT) AS deg_min, CAST(dmax AS BIGINT) AS deg_max,
       |  CAST(n_nodes * 10000 // t.n_total AS BIGINT) AS share_bp
       |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  /** MODULARITY of the g4 label-propagation communities
    * ([[graft.operators.Graph.modularityParts]]) — the "are these
    * communities real" acceptance number: per-community exact integer
    * numerators q_num = intra2·u_tot − deg_sum² over the simple
    * (self-loop-free) derived link graph, with Q = Σ q_num / u_tot² one
    * exact rational. Detector output (g4) and detector QUALITY (g11)
    * are deliberately separate gates: a label-prop regression that
    * still emits plausible labels shifts every q_num here. The oracle
    * replays the 3 label-prop rounds AND the full decomposition.
    * (labelPropagation runs on the raw symmetrized graph, self-loops
    * kept, exactly as g4 defines it; modularity's edge universe drops
    * self-loops — nodes with ONLY self-loop edges would count in a
    * community's n_nodes 0 times, matching the simple-graph contract.) */
  def g11Modularity(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.modularityParts(linkEdges(sp, dir),
        graft.operators.Graph.labelPropagation(linkEdges(sp, dir),
          rounds = 3))
      .orderBy("community")

  val g11Sql: String = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS (SELECT e.v AS id, l.lab, COUNT(*) AS c
         |  FROM undl e JOIN l$prev l ON e.u = l.id GROUP BY 1, 2),
         |l$cur AS (SELECT id, lab FROM (
         |  SELECT id, lab, row_number() OVER (
         |    PARTITION BY id ORDER BY c DESC, lab) AS rn FROM c$cur)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $linkEdgesSql,
       |undl AS (SELECT src AS u, dst AS v FROM edges
       |         UNION SELECT dst, src FROM edges),
       |nodes AS (SELECT DISTINCT u AS id FROM undl),
       |l0 AS (SELECT id, id AS lab FROM nodes),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")},
       |und AS (SELECT u, v FROM undl WHERE u <> v),
       |ut AS (SELECT CAST(count(*) AS BIGINT) AS u_tot FROM und),
       |deg AS (SELECT u AS id, count(*) AS degree FROM und GROUP BY 1),
       |dc AS (SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS deg_sum
       |  FROM deg d JOIN l3 l ON d.id = l.id GROUP BY 1),
       |ia AS (SELECT lu.lab, CAST(count(*) AS BIGINT) AS intra2
       |  FROM und e
       |  JOIN l3 lu ON e.u = lu.id
       |  JOIN l3 lv ON e.v = lv.id AND lu.lab = lv.lab
       |  GROUP BY 1)
       |SELECT dc.lab AS community, dc.n_nodes, dc.deg_sum,
       |  CAST(coalesce(ia.intra2, 0) AS BIGINT) AS intra2,
       |  ut.u_tot,
       |  CAST(coalesce(ia.intra2, 0) * ut.u_tot
       |    - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num
       |FROM dc LEFT JOIN ia ON ia.lab = dc.lab CROSS JOIN ut
       |ORDER BY community""".stripMargin
  }

  /** Louvain-style modularity ASCENT ([[graft.operators.Graph
    * .louvainAscent]], 6 guarded move-class rounds over the derived
    * link graph) — the operator that OPTIMIZES the objective g11 only
    * measures. Output: the g11 per-community decomposition of the FINAL
    * labeling, with the per-round global modularity numerators, accept
    * flags and move counts pinned as constant columns (q1..q6 monotone
    * non-decreasing by the accept guard's construction — the oracle
    * replays every round, every exact-integer gain score, the move-class
    * restriction, the argmax tie order AND the guard's conditional
    * adoption in SQL; base tables and per-round labels are MATERIALIZED
    * CTEs so DuckDB scans the parquet once, not once per reference). */
  def g19Louvain(sp: SparkSession, dir: String): DataFrame = {
    val (labels, log) =
      graft.operators.Graph.louvainAscent(linkEdges(sp, dir), rounds = 6)
    var out = graft.operators.Graph.modularityParts(linkEdges(sp, dir),
      labels)
    log.foreach { r =>
      out = out.withColumn(s"q${r.round}", lit(r.qNum))
        .withColumn(s"acc${r.round}", lit(r.accepted))
        .withColumn(s"mv${r.round}", lit(r.nMoved))
    }
    out.orderBy("community")
  }

  val g19Sql: String = {
    def round(p: String, c: String, mc: Int): String =
      s"""sg$c AS (SELECT l.lab AS cl, CAST(SUM(d.degree) AS BIGINT) AS sig
         |  FROM deg d JOIN l$p l ON d.id = l.id GROUP BY 1),
         |e2$c AS (SELECT e.u AS id, lv.lab AS cl,
         |    CAST(COUNT(*) AS BIGINT) AS e2
         |  FROM und e JOIN l$p lv ON e.v = lv.id GROUP BY 1, 2),
         |cd$c AS (SELECT id, cl, e2 FROM e2$c
         |  UNION ALL SELECT id, lab, 0 FROM l$p),
         |sc$c AS (SELECT cn.id, cn.cl,
         |    CAST(cn.e2 * ut.u_tot - d.degree * (s.sig -
         |      CASE WHEN cn.cl = o.lab THEN d.degree ELSE 0 END)
         |      AS BIGINT) AS sc
         |  FROM cd$c cn
         |  JOIN deg d ON d.id = cn.id
         |  JOIN l$p o ON o.id = cn.id
         |  JOIN sg$c s ON s.cl = cn.cl
         |  CROSS JOIN ut
         |  WHERE cn.id % 3 = $mc),
         |p$c AS MATERIALIZED (SELECT id, cl AS lab FROM (
         |  SELECT id, cl, row_number() OVER (
         |    PARTITION BY id ORDER BY sc DESC, cl) AS rn FROM sc$c)
         |  WHERE rn = 1
         |  UNION ALL SELECT id, lab FROM l$p WHERE id % 3 <> $mc),
         |qp$c AS (SELECT CAST(
         |    (SELECT COUNT(*) FROM und e
         |      JOIN p$c a ON e.u = a.id
         |      JOIN p$c b ON e.v = b.id AND a.lab = b.lab) * ut.u_tot
         |    - (SELECT CAST(coalesce(SUM(ds * ds), 0) AS BIGINT) FROM (
         |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds FROM deg d
         |        JOIN p$c l ON d.id = l.id GROUP BY l.lab))
         |    AS BIGINT) AS qn FROM ut),
         |mv$c AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p$c p
         |  JOIN l$p o ON p.id = o.id AND p.lab <> o.lab),
         |ac$c AS (SELECT (SELECT qn FROM qp$c) >= (SELECT qn FROM q$p)
         |  AS a),
         |l$c AS MATERIALIZED (SELECT o.id,
         |    CASE WHEN (SELECT a FROM ac$c) THEN p.lab ELSE o.lab END
         |      AS lab
         |  FROM l$p o JOIN p$c p ON p.id = o.id),
         |q$c AS (SELECT CASE WHEN (SELECT a FROM ac$c)
         |    THEN (SELECT qn FROM qp$c)
         |    ELSE (SELECT qn FROM q$p) END AS qn)""".stripMargin
    s"""WITH $linkEdgesSql,
       |sym AS (SELECT u, v FROM (SELECT src AS u, dst AS v FROM edges
       |         UNION SELECT dst, src FROM edges) WHERE u <> v),
       |und AS MATERIALIZED (SELECT DISTINCT u, v FROM sym),
       |ut AS (SELECT CAST(COUNT(*) AS BIGINT) AS u_tot FROM und),
       |deg AS MATERIALIZED (SELECT u AS id,
       |  CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY 1),
       |l0 AS MATERIALIZED (SELECT id, id AS lab FROM deg),
       |q0 AS (SELECT CAST(-(SELECT SUM(d.degree * d.degree) FROM deg d)
       |  AS BIGINT) AS qn),
       |${round("0", "1", 0)},
       |${round("1", "2", 1)},
       |${round("2", "3", 2)},
       |${round("3", "4", 0)},
       |${round("4", "5", 1)},
       |${round("5", "6", 2)},
       |dc AS (SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS deg_sum
       |  FROM deg d JOIN l6 l ON d.id = l.id GROUP BY 1),
       |ia AS (SELECT lu.lab, CAST(count(*) AS BIGINT) AS intra2
       |  FROM und e
       |  JOIN l6 lu ON e.u = lu.id
       |  JOIN l6 lv ON e.v = lv.id AND lu.lab = lv.lab
       |  GROUP BY 1)
       |SELECT dc.lab AS community, dc.n_nodes, dc.deg_sum,
       |  CAST(coalesce(ia.intra2, 0) AS BIGINT) AS intra2,
       |  ut.u_tot,
       |  CAST(coalesce(ia.intra2, 0) * ut.u_tot
       |    - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num,
       |  (SELECT qn FROM q1) AS q1, (SELECT a FROM ac1) AS acc1,
       |  (SELECT m FROM mv1) AS mv1,
       |  (SELECT qn FROM q2) AS q2, (SELECT a FROM ac2) AS acc2,
       |  (SELECT m FROM mv2) AS mv2,
       |  (SELECT qn FROM q3) AS q3, (SELECT a FROM ac3) AS acc3,
       |  (SELECT m FROM mv3) AS mv3,
       |  (SELECT qn FROM q4) AS q4, (SELECT a FROM ac4) AS acc4,
       |  (SELECT m FROM mv4) AS mv4,
       |  (SELECT qn FROM q5) AS q5, (SELECT a FROM ac5) AS acc5,
       |  (SELECT m FROM mv5) AS mv5,
       |  (SELECT qn FROM q6) AS q6, (SELECT a FROM ac6) AS acc6,
       |  (SELECT m FROM mv6) AS mv6
       |FROM dc LEFT JOIN ia ON ia.lab = dc.lab CROSS JOIN ut
       |ORDER BY community""".stripMargin
  }

  /** TWO-LEVEL Louvain ([[graft.operators.Graph.louvainTwoLevel]], 6
    * guarded move-class rounds per level) over the link graph: level 1
    * is g19's ascent; the communities then CONTRACT to super-nodes
    * carrying their intra mass as self-loops (exact Blondel
    * coarsening, so every level-2 q_num is the original graph's exact
    * modularity numerator and the level-2 log continues level 1's on
    * one scale), level 2 re-runs the weighted ascent on the coarse
    * graph, and the mapped-back labeling passes an outer accept guard
    * recomputed on the original graph. Output: the g11 decomposition
    * of the final labeling with BOTH levels' per-round q/accept/moved,
    * the outer accept flag and the final q pinned as columns. The
    * oracle replays all 12 rounds, the contraction, the map-back and
    * the outer guard in SQL. */
  def g22LouvainTwoLevel(sp: SparkSession, dir: String): DataFrame = {
    val r = graft.operators.Graph.louvainTwoLevel(linkEdges(sp, dir),
      rounds = 6)
    var out = graft.operators.Graph.modularityParts(linkEdges(sp, dir),
      r.labels)
    r.level1.foreach { rd =>
      out = out.withColumn(s"aq${rd.round}", lit(rd.qNum))
        .withColumn(s"aacc${rd.round}", lit(rd.accepted))
        .withColumn(s"amv${rd.round}", lit(rd.nMoved))
    }
    r.level2.foreach { rd =>
      out = out.withColumn(s"bq${rd.round}", lit(rd.qNum))
        .withColumn(s"bacc${rd.round}", lit(rd.accepted))
        .withColumn(s"bmv${rd.round}", lit(rd.nMoved))
    }
    out.withColumn("acc2", lit(r.coarseAccepted))
      .withColumn("q_fin", lit(r.qNum))
      .orderBy("community")
  }

  val g22Sql: String = {
    // one guarded move-class round, all CTE/table names prefixed so the
    // same builder emits both levels; e2u = the self-loop-free edge
    // universe (level 1: the und table itself), und = the full one
    def round(pr: String, p: String, c: String, mc: Int): String =
      s"""${pr}sg$c AS (SELECT l.lab AS cl,
         |    CAST(SUM(d.degree) AS BIGINT) AS sig
         |  FROM ${pr}deg d JOIN ${pr}l$p l ON d.id = l.id GROUP BY 1),
         |${pr}e2$c AS (SELECT e.u AS id, lv.lab AS cl,
         |    CAST(SUM(e.w) AS BIGINT) AS e2
         |  FROM ${pr}e2u e JOIN ${pr}l$p lv ON e.v = lv.id GROUP BY 1, 2),
         |${pr}cd$c AS (SELECT id, cl, e2 FROM ${pr}e2$c
         |  UNION ALL SELECT id, lab, 0 FROM ${pr}l$p),
         |${pr}sc$c AS (SELECT cn.id, cn.cl,
         |    CAST(cn.e2 * ut.u_tot - d.degree * (s.sig -
         |      CASE WHEN cn.cl = o.lab THEN d.degree ELSE 0 END)
         |      AS BIGINT) AS sc
         |  FROM ${pr}cd$c cn
         |  JOIN ${pr}deg d ON d.id = cn.id
         |  JOIN ${pr}l$p o ON o.id = cn.id
         |  JOIN ${pr}sg$c s ON s.cl = cn.cl
         |  CROSS JOIN ${pr}ut ut
         |  WHERE cn.id % 3 = $mc),
         |${pr}p$c AS MATERIALIZED (SELECT id, cl AS lab FROM (
         |  SELECT id, cl, row_number() OVER (
         |    PARTITION BY id ORDER BY sc DESC, cl) AS rn FROM ${pr}sc$c)
         |  WHERE rn = 1
         |  UNION ALL SELECT id, lab FROM ${pr}l$p WHERE id % 3 <> $mc),
         |${pr}qp$c AS (SELECT CAST(
         |    (SELECT CAST(coalesce(SUM(e.w), 0) AS BIGINT)
         |      FROM ${pr}und e
         |      JOIN ${pr}p$c a ON e.u = a.id
         |      JOIN ${pr}p$c b ON e.v = b.id AND a.lab = b.lab)
         |      * (SELECT u_tot FROM ${pr}ut)
         |    - (SELECT CAST(coalesce(SUM(ds * ds), 0) AS BIGINT) FROM (
         |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds
         |        FROM ${pr}deg d
         |        JOIN ${pr}p$c l ON d.id = l.id GROUP BY l.lab))
         |    AS BIGINT) AS qn),
         |${pr}mv$c AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
         |  FROM ${pr}p$c p
         |  JOIN ${pr}l$p o ON p.id = o.id AND p.lab <> o.lab),
         |${pr}ac$c AS (SELECT (SELECT qn FROM ${pr}qp$c) >=
         |  (SELECT qn FROM ${pr}q$p) AS a),
         |${pr}l$c AS MATERIALIZED (SELECT o.id,
         |    CASE WHEN (SELECT a FROM ${pr}ac$c) THEN p.lab ELSE o.lab
         |      END AS lab
         |  FROM ${pr}l$p o JOIN ${pr}p$c p ON p.id = o.id),
         |${pr}q$c AS (SELECT CASE WHEN (SELECT a FROM ${pr}ac$c)
         |    THEN (SELECT qn FROM ${pr}qp$c)
         |    ELSE (SELECT qn FROM ${pr}q$p) END AS qn)""".stripMargin
    def rounds6(pr: String): String =
      Seq(("0", "1", 0), ("1", "2", 1), ("2", "3", 2),
        ("3", "4", 0), ("4", "5", 1), ("5", "6", 2))
        .map { case (p, c, mc) => round(pr, p, c, mc) }.mkString(",\n")
    def pins(pr: String, col: String): String =
      (1 to 6).map { i =>
        s"""(SELECT qn FROM ${pr}q$i) AS ${col}q$i,
           |  (SELECT a FROM ${pr}ac$i) AS ${col}acc$i,
           |  (SELECT m FROM ${pr}mv$i) AS ${col}mv$i""".stripMargin
      }.mkString(",\n  ")
    s"""WITH $linkEdgesSql,
       |asym AS (SELECT u, v FROM (SELECT src AS u, dst AS v FROM edges
       |         UNION SELECT dst, src FROM edges) WHERE u <> v),
       |aund AS MATERIALIZED (SELECT DISTINCT u, v,
       |  CAST(1 AS BIGINT) AS w FROM asym),
       |ae2u AS (SELECT u, v, w FROM aund),
       |aut AS (SELECT CAST(SUM(w) AS BIGINT) AS u_tot FROM aund),
       |adeg AS MATERIALIZED (SELECT u AS id,
       |  CAST(SUM(w) AS BIGINT) AS degree FROM aund GROUP BY 1),
       |al0 AS MATERIALIZED (SELECT id, id AS lab FROM adeg),
       |aq0 AS (SELECT CAST(-(SELECT SUM(d.degree * d.degree)
       |  FROM adeg d) AS BIGINT) AS qn),
       |${rounds6("a")},
       |bund AS MATERIALIZED (SELECT cu.lab AS u, cv.lab AS v,
       |    CAST(SUM(e.w) AS BIGINT) AS w
       |  FROM aund e JOIN al6 cu ON e.u = cu.id
       |  JOIN al6 cv ON e.v = cv.id GROUP BY 1, 2),
       |be2u AS (SELECT u, v, w FROM bund WHERE u <> v),
       |but AS (SELECT CAST(SUM(w) AS BIGINT) AS u_tot FROM bund),
       |bdeg AS MATERIALIZED (SELECT u AS id,
       |  CAST(SUM(w) AS BIGINT) AS degree FROM bund GROUP BY 1),
       |bl0 AS MATERIALIZED (SELECT id, id AS lab FROM bdeg),
       |bq0 AS (SELECT CAST(
       |  (SELECT coalesce(SUM(w), 0) FROM bund WHERE u = v)
       |    * (SELECT u_tot FROM but)
       |  - (SELECT SUM(d.degree * d.degree) FROM bdeg d)
       |  AS BIGINT) AS qn),
       |${rounds6("b")},
       |fin0 AS MATERIALIZED (SELECT a.id, coalesce(b.lab, a.lab) AS lab
       |  FROM al6 a LEFT JOIN bl6 b ON a.lab = b.id),
       |qfin AS (SELECT CAST(
       |    (SELECT coalesce(SUM(e.w), 0) FROM aund e
       |      JOIN fin0 x ON e.u = x.id
       |      JOIN fin0 y ON e.v = y.id AND x.lab = y.lab)
       |      * (SELECT u_tot FROM aut)
       |    - (SELECT coalesce(SUM(ds * ds), 0) FROM (
       |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds FROM adeg d
       |        JOIN fin0 l ON d.id = l.id GROUP BY l.lab))
       |    AS BIGINT) AS qn),
       |oacc AS (SELECT (SELECT qn FROM qfin) >= (SELECT qn FROM aq6)
       |  AS a),
       |fl AS MATERIALIZED (SELECT a.id,
       |    CASE WHEN (SELECT a FROM oacc) THEN f.lab ELSE a.lab END
       |      AS lab
       |  FROM al6 a JOIN fin0 f ON f.id = a.id),
       |qres AS (SELECT CASE WHEN (SELECT a FROM oacc)
       |  THEN (SELECT qn FROM qfin) ELSE (SELECT qn FROM aq6) END
       |  AS qn),
       |dc AS (SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS deg_sum
       |  FROM adeg d JOIN fl l ON d.id = l.id GROUP BY 1),
       |ia AS (SELECT lu.lab, CAST(SUM(e.w) AS BIGINT) AS intra2
       |  FROM aund e
       |  JOIN fl lu ON e.u = lu.id
       |  JOIN fl lv ON e.v = lv.id AND lu.lab = lv.lab
       |  GROUP BY 1)
       |SELECT dc.lab AS community, dc.n_nodes, dc.deg_sum,
       |  CAST(coalesce(ia.intra2, 0) AS BIGINT) AS intra2,
       |  ut.u_tot,
       |  CAST(coalesce(ia.intra2, 0) * ut.u_tot
       |    - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num,
       |  ${pins("a", "a")},
       |  ${pins("b", "b")},
       |  (SELECT a FROM oacc) AS acc2,
       |  (SELECT qn FROM qres) AS q_fin
       |FROM dc LEFT JOIN ia ON ia.lab = dc.lab CROSS JOIN aut ut
       |ORDER BY community""".stripMargin
  }

  /** Planted 3-scale hierarchy for g24 — cliques of cliques, id-offset
    * into a range disjoint from the link graph's [0, n_docs): 3 SUPERS
    * (s = 0..2), each 3 MIDS, each a 4-node CLIQUE (6 edges); the mids
    * of one super bridge pairwise through their leaf-0 nodes; the
    * supers are DISCONNECTED from each other (and from the link graph),
    * so no modularity-resolution-limit merge can ever cross a super —
    * the recovered end state is exactly 3 planted communities, while
    * level 1 must first find the 12 cliques (spec-pinned). Shared by
    * the Scala gate and the SQL oracle (inlined as VALUES). */
  private val G24Base = 1000000L
  private def g24PlantedEdges: Seq[(Long, Long)] = {
    val b = G24Base
    val intra = for {
      s <- 0 to 2; m <- 0 to 2; i <- 0 to 3; j <- (i + 1) to 3
    } yield (b + s * 100 + m * 10 + i, b + s * 100 + m * 10 + j)
    val bridges = for {
      s <- 0 to 2; (m1, m2) <- Seq((0, 1), (0, 2), (1, 2))
    } yield (b + s * 100 + m1 * 10, b + s * 100 + m2 * 10)
    intra ++ bridges
  }

  /** MULTI-LEVEL Louvain ([[graft.operators.Graph.louvainMultiLevel]],
    * 3 levels: 6 guarded move-class rounds on the fine graph, 8 on each
    * community-domain coarse graph — the planted super-merge needs the
    * third visit of its move class, and coarse rounds are
    * community-domain cheap) over the link graph PLUS
    * the planted [[g24PlantedEdges]] hierarchy: g22's
    * coarsen-ascend-map-back recursed with an outer accept guard per
    * level, every level's q_num on the one original-graph scale
    * (exact-Blondel self-loop carrier), convergence short-circuit with
    * provable no-op tail synthesis (operator scaladoc). Output: the
    * g11 decomposition of the final labeling with per-LEVEL pins —
    * adopted q, outer-guard verdict, map-back label-change count,
    * community count — as columns; the oracle replays all 18 rounds,
    * both contractions, both map-backs and both outer guards in SQL
    * (a fixed-depth replay computes exactly the synthesized tail). */
  /** DETERMINISTIC DEEPWALK CORPUS ([[graft.operators.Graph
    * .deepWalks]]): 2 hash-driven truncated walks of ≤ 4 hops from
    * every node of the derived link graph — the skip-gram sentence
    * corpus of DeepWalk/node2vec(1,1), with every hop a pure function
    * of (root, wk, step) through the portable md5 family so the
    * oracle replays the ENTIRE corpus hop for hop (an RNG-driven walk
    * could only be rows-checked). Sink nodes truncate their walks
    * live (the link graph's hash range misses some ids). */
  def g25DeepWalks(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.deepWalks(linkEdges(sp, dir),
        walksPerNode = 2, steps = 4)
      .orderBy("root", "wk", "step")

  val g25Sql: String = {
    def hop(i: Int, prev: String): String =
      s"""w$i AS (SELECT w.root, w.wk, a.dst AS node
         |  FROM $prev w JOIN deg d ON d.src = w.node
         |  JOIN adj a ON a.src = w.node AND a.r =
         |    ('0x' || substr(md5(CAST(w.root AS VARCHAR) || ':' ||
         |      CAST(w.wk AS VARCHAR) || ':$i'), 1, 8))::BIGINT
         |      % d.deg)""".stripMargin
    s"""WITH $linkEdgesSql,
       |adj0 AS (SELECT DISTINCT src, dst FROM edges),
       |adj AS (SELECT src, dst, CAST(row_number() OVER (
       |    PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS r
       |  FROM adj0),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM adj0 GROUP BY 1),
       |nodes AS (SELECT src AS id FROM adj0
       |  UNION SELECT dst FROM adj0),
       |w0 AS (SELECT id AS root, CAST(k.wk AS BIGINT) AS wk, id AS node
       |  FROM nodes, (VALUES (0), (1)) k(wk)),
       |${hop(1, "w0")},
       |${hop(2, "w1")},
       |${hop(3, "w2")},
       |${hop(4, "w3")}
       |SELECT root, wk, step, node FROM (
       |  SELECT root, wk, CAST(0 AS BIGINT) AS step, node FROM w0
       |  UNION ALL SELECT root, wk, 1, node FROM w1
       |  UNION ALL SELECT root, wk, 2, node FROM w2
       |  UNION ALL SELECT root, wk, 3, node FROM w3
       |  UNION ALL SELECT root, wk, 4, node FROM w4)
       |ORDER BY root, wk, step""".stripMargin
  }

  /** FULL CORENESS DECOMPOSITION ([[graft.operators.Graph.coreness]],
    * 30 h-index rounds, early-stopped at the fixed point): every
    * node's k-core number in ONE bounded
    * iteration — g7's kCore answers a single k, this labels the whole
    * graph (the degeneracy ordering every graph-ML sampler and
    * community seed wants). The h-index depends only on the sorted
    * neighbor multiset, so the degree-bounded window's tie order is
    * unobservable and the oracle's fixed-30-round replay equals the
    * engine's early-stopped run exactly (a converged round is a
    * provable no-op tail). `converged` reports the fixed point
    * honestly. */
  def g26Coreness(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.coreness(linkEdges(sp, dir), rounds = 30)
      .orderBy("id")

  val g26Sql: String = {
    def hr(r: Int): String =
      s"""h$r AS MATERIALIZED (SELECT v AS id,
         |    CAST(coalesce(MAX(CASE WHEN nh >= rk THEN rk END), 0)
         |      AS BIGINT) AS h
         |  FROM (SELECT u.src AS v, hp.h AS nh,
         |      row_number() OVER (PARTITION BY u.src
         |        ORDER BY hp.h DESC) AS rk
         |    FROM und u JOIN h${r - 1} hp ON hp.id = u.dst)
         |  GROUP BY 1)""".stripMargin
    s"""WITH $linkEdgesSql,
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM edges
       |    UNION ALL SELECT dst, src FROM edges)
       |  WHERE src <> dst),
       |h0 AS MATERIALIZED (SELECT src AS id,
       |  CAST(COUNT(*) AS BIGINT) AS h FROM und GROUP BY 1),
       |${(1 to 30).map(hr).mkString(",\n")},
       |chg AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
       |  FROM h30 a JOIN h29 b ON a.id = b.id WHERE a.h <> b.h)
       |SELECT h0.id, h0.h AS degree, h30.h AS coreness,
       |  (chg.c = 0) AS converged
       |FROM h0 JOIN h30 ON h30.id = h0.id, chg
       |ORDER BY h0.id""".stripMargin
  }

  def g24LouvainMultiLevel(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val planted = g24PlantedEdges.toDF("src", "dst")
    val edges = linkEdges(sp, dir)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(planted)
    val r = graft.operators.Graph.louvainMultiLevel(edges, rounds = 6,
      levels = 3, coarseRounds = 8)
    var out = graft.operators.Graph.modularityParts(edges, r.labels)
    r.levels.foreach { p =>
      out = out.withColumn(s"lvq${p.level}", lit(p.qNum))
        .withColumn(s"lvacc${p.level}", lit(p.accepted))
        .withColumn(s"lvchg${p.level}", lit(p.nChanged))
        .withColumn(s"lvnc${p.level}", lit(p.nComms))
    }
    out.withColumn("q_fin", lit(r.qNum)).orderBy("community")
  }

  val g24Sql: String = {
    // one guarded move-class round, prefix-parameterized (the g22
    // builder generalized to N levels)
    def round(pr: String, p: String, c: String, mc: Int): String =
      s"""${pr}sg$c AS (SELECT l.lab AS cl,
         |    CAST(SUM(d.degree) AS BIGINT) AS sig
         |  FROM ${pr}deg d JOIN ${pr}l$p l ON d.id = l.id GROUP BY 1),
         |${pr}e2$c AS (SELECT e.u AS id, lv.lab AS cl,
         |    CAST(SUM(e.w) AS BIGINT) AS e2
         |  FROM ${pr}e2u e JOIN ${pr}l$p lv ON e.v = lv.id GROUP BY 1, 2),
         |${pr}cd$c AS (SELECT id, cl, e2 FROM ${pr}e2$c
         |  UNION ALL SELECT id, lab, 0 FROM ${pr}l$p),
         |${pr}sc$c AS (SELECT cn.id, cn.cl,
         |    CAST(cn.e2 * ut.u_tot - d.degree * (s.sig -
         |      CASE WHEN cn.cl = o.lab THEN d.degree ELSE 0 END)
         |      AS BIGINT) AS sc
         |  FROM ${pr}cd$c cn
         |  JOIN ${pr}deg d ON d.id = cn.id
         |  JOIN ${pr}l$p o ON o.id = cn.id
         |  JOIN ${pr}sg$c s ON s.cl = cn.cl
         |  CROSS JOIN ${pr}ut ut
         |  WHERE cn.id % 3 = $mc),
         |${pr}p$c AS MATERIALIZED (SELECT id, cl AS lab FROM (
         |  SELECT id, cl, row_number() OVER (
         |    PARTITION BY id ORDER BY sc DESC, cl) AS rn FROM ${pr}sc$c)
         |  WHERE rn = 1
         |  UNION ALL SELECT id, lab FROM ${pr}l$p WHERE id % 3 <> $mc),
         |${pr}qp$c AS MATERIALIZED (SELECT CAST(
         |    (SELECT CAST(coalesce(SUM(e.w), 0) AS BIGINT)
         |      FROM ${pr}und e
         |      JOIN ${pr}p$c a ON e.u = a.id
         |      JOIN ${pr}p$c b ON e.v = b.id AND a.lab = b.lab)
         |      * (SELECT u_tot FROM ${pr}ut)
         |    - (SELECT CAST(coalesce(SUM(ds * ds), 0) AS BIGINT) FROM (
         |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds
         |        FROM ${pr}deg d
         |        JOIN ${pr}p$c l ON d.id = l.id GROUP BY l.lab))
         |    AS BIGINT) AS qn),
         |${pr}ac$c AS MATERIALIZED (SELECT (SELECT qn FROM ${pr}qp$c) >=
         |  (SELECT qn FROM ${pr}q$p) AS a),
         |${pr}l$c AS MATERIALIZED (SELECT o.id,
         |    CASE WHEN (SELECT a FROM ${pr}ac$c) THEN p.lab ELSE o.lab
         |      END AS lab
         |  FROM ${pr}l$p o JOIN ${pr}p$c p ON p.id = o.id),
         |${pr}q$c AS MATERIALIZED (SELECT CASE WHEN (SELECT a FROM ${pr}ac$c)
         |    THEN (SELECT qn FROM ${pr}qp$c)
         |    ELSE (SELECT qn FROM ${pr}q$p) END AS qn)""".stripMargin
    def rounds6(pr: String): String =
      Seq(("0", "1", 0), ("1", "2", 1), ("2", "3", 2),
        ("3", "4", 0), ("4", "5", 1), ("5", "6", 2))
        .map { case (p, c, mc) => round(pr, p, c, mc) }.mkString(",\n")
    // coarse levels run 8 rounds (the planted super-merge needs the
    // third visit of move-class 1 — measured; fine level keeps g22's 6)
    def rounds8(pr: String): String =
      Seq(("0", "1", 0), ("1", "2", 1), ("2", "3", 2),
        ("3", "4", 0), ("4", "5", 1), ("5", "6", 2),
        ("6", "7", 0), ("7", "8", 1))
        .map { case (p, c, mc) => round(pr, p, c, mc) }.mkString(",\n")
    // coarse level pr2, contracted from aund by fine labels `fl`; q0
    // includes the self-loop mass the contraction deposits
    def level(pr2: String, fl: String): String =
      s"""${pr2}und AS MATERIALIZED (SELECT cu.lab AS u, cv.lab AS v,
         |    CAST(SUM(e.w) AS BIGINT) AS w
         |  FROM aund e JOIN $fl cu ON e.u = cu.id
         |  JOIN $fl cv ON e.v = cv.id GROUP BY 1, 2),
         |${pr2}e2u AS (SELECT u, v, w FROM ${pr2}und WHERE u <> v),
         |${pr2}ut AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS u_tot
         |  FROM ${pr2}und),
         |${pr2}deg AS MATERIALIZED (SELECT u AS id,
         |  CAST(SUM(w) AS BIGINT) AS degree FROM ${pr2}und GROUP BY 1),
         |${pr2}l0 AS MATERIALIZED (SELECT id, id AS lab FROM ${pr2}deg),
         |${pr2}q0 AS MATERIALIZED (SELECT CAST(
         |  (SELECT coalesce(SUM(w), 0) FROM ${pr2}und WHERE u = v)
         |    * (SELECT u_tot FROM ${pr2}ut)
         |  - (SELECT SUM(d.degree * d.degree) FROM ${pr2}deg d)
         |  AS BIGINT) AS qn),
         |${rounds8(pr2)}""".stripMargin
    // map-back + outer guard for level `pr2` on top of fine labels
    // `fprev` at guarded q `qprev` -> guarded labels f$n, q res q${n}res
    def mapGuard(pr2: String, fprev: String, qprev: String,
        n: Int): String =
      s"""fin$n AS MATERIALIZED (SELECT o.id, coalesce(b.lab, o.lab)
         |    AS lab
         |  FROM $fprev o LEFT JOIN ${pr2}l8 b ON o.lab = b.id),
         |qf$n AS MATERIALIZED (SELECT CAST(
         |    (SELECT coalesce(SUM(e.w), 0) FROM aund e
         |      JOIN fin$n x ON e.u = x.id
         |      JOIN fin$n y ON e.v = y.id AND x.lab = y.lab)
         |      * (SELECT u_tot FROM aut)
         |    - (SELECT coalesce(SUM(ds * ds), 0) FROM (
         |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds FROM adeg d
         |        JOIN fin$n l ON d.id = l.id GROUP BY l.lab))
         |    AS BIGINT) AS qn),
         |oacc$n AS MATERIALIZED (SELECT (SELECT qn FROM qf$n) >= (SELECT qn FROM
         |  $qprev) AS a),
         |f$n AS MATERIALIZED (SELECT o.id,
         |    CASE WHEN (SELECT a FROM oacc$n) THEN m.lab ELSE o.lab END
         |      AS lab
         |  FROM $fprev o JOIN fin$n m ON m.id = o.id),
         |q${n}res AS MATERIALIZED (SELECT CASE WHEN (SELECT a FROM oacc$n)
         |  THEN (SELECT qn FROM qf$n) ELSE (SELECT qn FROM $qprev) END
         |  AS qn),
         |chg$n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM f$n a
         |  JOIN $fprev o ON a.id = o.id AND a.lab <> o.lab),
         |nc$n AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) AS n
         |  FROM f$n)""".stripMargin
    val pe = g24PlantedEdges
      .map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH $linkEdgesSql,
       |alledges AS (SELECT src, dst FROM edges
       |  UNION ALL SELECT * FROM (VALUES $pe) pe(src, dst)),
       |asym AS (SELECT u, v FROM (SELECT src AS u, dst AS v
       |         FROM alledges
       |         UNION SELECT dst, src FROM alledges) WHERE u <> v),
       |aund AS MATERIALIZED (SELECT DISTINCT u, v,
       |  CAST(1 AS BIGINT) AS w FROM asym),
       |ae2u AS (SELECT u, v, w FROM aund),
       |aut AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS u_tot FROM aund),
       |adeg AS MATERIALIZED (SELECT u AS id,
       |  CAST(SUM(w) AS BIGINT) AS degree FROM aund GROUP BY 1),
       |al0 AS MATERIALIZED (SELECT id, id AS lab FROM adeg),
       |aq0 AS MATERIALIZED (SELECT CAST(-(SELECT SUM(d.degree * d.degree)
       |  FROM adeg d) AS BIGINT) AS qn),
       |${rounds6("a")},
       |chg1 AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM al6
       |  WHERE lab <> id),
       |nc1 AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) AS n
       |  FROM al6),
       |${level("b", "al6")},
       |${mapGuard("b", "al6", "aq6", 2)},
       |${level("c", "f2")},
       |${mapGuard("c", "f2", "q2res", 3)},
       |dc AS (SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS deg_sum
       |  FROM adeg d JOIN f3 l ON d.id = l.id GROUP BY 1),
       |ia AS (SELECT lu.lab, CAST(SUM(e.w) AS BIGINT) AS intra2
       |  FROM aund e
       |  JOIN f3 lu ON e.u = lu.id
       |  JOIN f3 lv ON e.v = lv.id AND lu.lab = lv.lab
       |  GROUP BY 1)
       |SELECT dc.lab AS community, dc.n_nodes, dc.deg_sum,
       |  CAST(coalesce(ia.intra2, 0) AS BIGINT) AS intra2,
       |  ut.u_tot,
       |  CAST(coalesce(ia.intra2, 0) * ut.u_tot
       |    - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num,
       |  (SELECT qn FROM aq6) AS lvq1, TRUE AS lvacc1,
       |  (SELECT c FROM chg1) AS lvchg1, (SELECT n FROM nc1) AS lvnc1,
       |  (SELECT qn FROM q2res) AS lvq2,
       |  (SELECT a FROM oacc2) AS lvacc2,
       |  (SELECT c FROM chg2) AS lvchg2, (SELECT n FROM nc2) AS lvnc2,
       |  (SELECT qn FROM q3res) AS lvq3,
       |  (SELECT a FROM oacc3) AS lvacc3,
       |  (SELECT c FROM chg3) AS lvchg3, (SELECT n FROM nc3) AS lvnc3,
       |  (SELECT qn FROM q3res) AS q_fin
       |FROM dc LEFT JOIN ia ON ia.lab = dc.lab CROSS JOIN aut ut
       |ORDER BY community""".stripMargin
  }

  /** Pivot-sampled harmonic closeness
    * ([[graft.operators.Graph.harmonicPivots]], the Eppstein–Wang
    * estimator at horizon 3 from g20's deterministic 4-smallest-id
    * pivot set) over the derived link graph — every reciprocal rides
    * the common denominator lcm(1..3) = 6 so the per-node mass is one
    * exact BIGINT sum; nodes no pivot reaches within the horizon
    * report 0∕6 with n_reached = 0, not absence. The oracle is an
    * independent per-pivot recursive-CTE BFS reduced by MIN — a
    * different algorithm than the frontier loop, so agreement checks
    * the distances themselves. */
  def g23Harmonic(sp: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(sp, dir)
    val sym = e.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val pivots = sym.select(col("u"))
      .union(sym.select(col("v").as("u"))).distinct()
      .orderBy("u").limit(4)
      .collect().map(_.getLong(0)).toSeq
    graft.operators.Graph.harmonicPivots(e, pivots, maxHops = 3)
      .orderBy("id")
  }

  val g23Sql: String =
    s"""WITH RECURSIVE $linkEdgesSql,
       |sym AS (SELECT u, v FROM (SELECT src AS u, dst AS v FROM edges
       |         UNION SELECT dst, src FROM edges) WHERE u <> v),
       |und AS MATERIALIZED (SELECT DISTINCT u, v FROM sym),
       |piv AS (SELECT u AS s FROM (SELECT DISTINCT u FROM und)
       |  ORDER BY u LIMIT 4),
       |reach(s, v, dist) AS (
       |  SELECT s, s, 0 FROM piv
       |  UNION
       |  SELECT r.s, e.v, r.dist + 1 FROM reach r
       |  JOIN und e ON e.u = r.v WHERE r.dist < 3),
       |md AS (SELECT s, v, MIN(dist) AS dist FROM reach GROUP BY 1, 2),
       |contrib AS (SELECT v AS id,
       |    CAST(SUM(6 // dist) AS BIGINT) AS h_num,
       |    CAST(COUNT(*) AS BIGINT) AS n_reached
       |  FROM md WHERE dist >= 1 GROUP BY 1),
       |nodes AS (SELECT DISTINCT u AS id FROM und)
       |SELECT n.id, COALESCE(c.h_num, 0) AS h_num,
       |  CAST(6 AS BIGINT) AS h_den,
       |  COALESCE(c.n_reached, 0) AS n_reached,
       |  CAST(COALESCE(c.h_num, 0) AS DOUBLE) / 6.0 AS hc
       |FROM nodes n LEFT JOIN contrib c USING (id) ORDER BY id""".stripMargin

  /** The derived link graph with a deterministic integer EDGE WEIGHT in
    * 1..7 (hashed from (doc_id, k), so DuckDB replays it exactly) — the
    * input for the weighted community gate g21. */
  private def linkEdgesW(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("__n"))
    docs.crossJoin(broadcast(n))
      .select(col("__n"),
        Hashing.portableHash32(col("doc_id").cast("string")).as("__h"),
        explode(array(lit(0), lit(1), lit(2))).as("__k"),
        col("doc_id"))
      .select(
        pmod(col("__h"), col("__n")).as("src"),
        pmod(Hashing.portableHash32(
          concat(col("doc_id").cast("string"), lit(":"),
            col("__k").cast("string"))), col("__n")).as("dst"),
        (pmod(Hashing.portableHash32(
          concat(col("doc_id").cast("string"), lit(":w:"),
            col("__k").cast("string"))), lit(7L)) + 1L).as("weight"))
  }

  private val linkEdgesWSql: String =
    """wedges AS (
      |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |           % (SELECT COUNT(*) FROM documents) AS src,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |           CAST(k AS VARCHAR)), 1, 8))::BIGINT
      |           % (SELECT COUNT(*) FROM documents) AS dst,
      |         1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':w:' ||
      |           CAST(k AS VARCHAR)), 1, 8))::BIGINT % 7 AS weight
      |  FROM documents, (VALUES (0), (1), (2)) AS ks(k))""".stripMargin

  /** WEIGHTED Louvain ascent ([[graft.operators.Graph
    * .louvainAscentWeighted]], 6 guarded move-class rounds) over the
    * link graph carrying hashed integer weights 1..7 — the standard
    * Blondel form where every mass is Σw instead of a count (parallel
    * and both-direction duplicate edges SUM into one undirected edge).
    * Output: the weighted per-community decomposition of the final
    * labeling (node count, strength mass, directed intra weight, total
    * weight, exact q numerator) with every round's q/accept/moved
    * pinned as constant columns. The oracle replays the weighted
    * canonicalization, all 6 rounds' Σw gain scores, move classes,
    * argmax tie order and the accept guard in SQL. */
  def g21LouvainWeighted(sp: SparkSession, dir: String): DataFrame = {
    val we = linkEdgesW(sp, dir)
    val (labels, log) =
      graft.operators.Graph.louvainAscentWeighted(we, rounds = 6)
    val e = we.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"),
        col("weight").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
    val canon = e.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val und = canon.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(canon.select(col("b").as("u"), col("a").as("v"), col("w")))
    val deg = und.groupBy(col("u").as("id")).agg(sum(col("w")).as("str"))
    val ut = und.agg(sum(col("w")).as("w_tot"))
    val dc = deg.join(labels, Seq("id"))
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("str")).as("str_sum"))
    val ia = und
      .join(labels.select(col("id").as("u"), col("lab").as("__lu")),
        Seq("u"))
      .join(labels.select(col("id").as("v"), col("lab").as("__lv")),
        Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("community"))
      .agg(sum(col("w")).as("__i2"))
    var out = dc.join(ia, Seq("community"), "left").crossJoin(ut)
      .select(col("community"), col("n_nodes"), col("str_sum"),
        coalesce(col("__i2"), lit(0L)).as("intra2w"), col("w_tot"),
        (coalesce(col("__i2"), lit(0L)) * col("w_tot") -
          col("str_sum") * col("str_sum")).as("q_num"))
    log.foreach { r =>
      out = out.withColumn(s"q${r.round}", lit(r.qNum))
        .withColumn(s"acc${r.round}", lit(r.accepted))
        .withColumn(s"mv${r.round}", lit(r.nMoved))
    }
    out.orderBy("community")
  }

  val g21Sql: String = {
    def round(p: String, c: String, mc: Int): String =
      s"""sg$c AS (SELECT l.lab AS cl, CAST(SUM(d.degree) AS BIGINT) AS sig
         |  FROM deg d JOIN l$p l ON d.id = l.id GROUP BY 1),
         |e2$c AS (SELECT e.u AS id, lv.lab AS cl,
         |    CAST(SUM(e.w) AS BIGINT) AS e2
         |  FROM und e JOIN l$p lv ON e.v = lv.id GROUP BY 1, 2),
         |cd$c AS (SELECT id, cl, e2 FROM e2$c
         |  UNION ALL SELECT id, lab, 0 FROM l$p),
         |sc$c AS (SELECT cn.id, cn.cl,
         |    CAST(cn.e2 * ut.u_tot - d.degree * (s.sig -
         |      CASE WHEN cn.cl = o.lab THEN d.degree ELSE 0 END)
         |      AS BIGINT) AS sc
         |  FROM cd$c cn
         |  JOIN deg d ON d.id = cn.id
         |  JOIN l$p o ON o.id = cn.id
         |  JOIN sg$c s ON s.cl = cn.cl
         |  CROSS JOIN ut
         |  WHERE cn.id % 3 = $mc),
         |p$c AS MATERIALIZED (SELECT id, cl AS lab FROM (
         |  SELECT id, cl, row_number() OVER (
         |    PARTITION BY id ORDER BY sc DESC, cl) AS rn FROM sc$c)
         |  WHERE rn = 1
         |  UNION ALL SELECT id, lab FROM l$p WHERE id % 3 <> $mc),
         |qp$c AS (SELECT CAST(
         |    (SELECT CAST(coalesce(SUM(e.w), 0) AS BIGINT) FROM und e
         |      JOIN p$c a ON e.u = a.id
         |      JOIN p$c b ON e.v = b.id AND a.lab = b.lab) * ut.u_tot
         |    - (SELECT CAST(coalesce(SUM(ds * ds), 0) AS BIGINT) FROM (
         |        SELECT CAST(SUM(d.degree) AS BIGINT) AS ds FROM deg d
         |        JOIN p$c l ON d.id = l.id GROUP BY l.lab))
         |    AS BIGINT) AS qn FROM ut),
         |mv$c AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p$c p
         |  JOIN l$p o ON p.id = o.id AND p.lab <> o.lab),
         |ac$c AS (SELECT (SELECT qn FROM qp$c) >= (SELECT qn FROM q$p)
         |  AS a),
         |l$c AS MATERIALIZED (SELECT o.id,
         |    CASE WHEN (SELECT a FROM ac$c) THEN p.lab ELSE o.lab END
         |      AS lab
         |  FROM l$p o JOIN p$c p ON p.id = o.id),
         |q$c AS (SELECT CASE WHEN (SELECT a FROM ac$c)
         |    THEN (SELECT qn FROM qp$c)
         |    ELSE (SELECT qn FROM q$p) END AS qn)""".stripMargin
    s"""WITH $linkEdgesWSql,
       |e AS (SELECT src AS u, dst AS v, CAST(weight AS BIGINT) AS w
       |      FROM wedges WHERE src <> dst),
       |canon AS MATERIALIZED (SELECT LEAST(u, v) AS a, GREATEST(u, v)
       |  AS b, CAST(SUM(w) AS BIGINT) AS w FROM e GROUP BY 1, 2),
       |und AS MATERIALIZED (SELECT a AS u, b AS v, w FROM canon
       |  UNION ALL SELECT b, a, w FROM canon),
       |ut AS (SELECT CAST(SUM(w) AS BIGINT) AS u_tot FROM und),
       |deg AS MATERIALIZED (SELECT u AS id,
       |  CAST(SUM(w) AS BIGINT) AS degree FROM und GROUP BY 1),
       |l0 AS MATERIALIZED (SELECT id, id AS lab FROM deg),
       |q0 AS (SELECT CAST(-(SELECT SUM(d.degree * d.degree) FROM deg d)
       |  AS BIGINT) AS qn),
       |${round("0", "1", 0)},
       |${round("1", "2", 1)},
       |${round("2", "3", 2)},
       |${round("3", "4", 0)},
       |${round("4", "5", 1)},
       |${round("5", "6", 2)},
       |dc AS (SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS str_sum
       |  FROM deg d JOIN l6 l ON d.id = l.id GROUP BY 1),
       |ia AS (SELECT lu.lab, CAST(SUM(e.w) AS BIGINT) AS intra2w
       |  FROM und e
       |  JOIN l6 lu ON e.u = lu.id
       |  JOIN l6 lv ON e.v = lv.id AND lu.lab = lv.lab
       |  GROUP BY 1)
       |SELECT dc.lab AS community, dc.n_nodes, dc.str_sum,
       |  CAST(coalesce(ia.intra2w, 0) AS BIGINT) AS intra2w,
       |  ut.u_tot AS w_tot,
       |  CAST(coalesce(ia.intra2w, 0) * ut.u_tot
       |    - dc.str_sum * dc.str_sum AS BIGINT) AS q_num,
       |  (SELECT qn FROM q1) AS q1, (SELECT a FROM ac1) AS acc1,
       |  (SELECT m FROM mv1) AS mv1,
       |  (SELECT qn FROM q2) AS q2, (SELECT a FROM ac2) AS acc2,
       |  (SELECT m FROM mv2) AS mv2,
       |  (SELECT qn FROM q3) AS q3, (SELECT a FROM ac3) AS acc3,
       |  (SELECT m FROM mv3) AS mv3,
       |  (SELECT qn FROM q4) AS q4, (SELECT a FROM ac4) AS acc4,
       |  (SELECT m FROM mv4) AS mv4,
       |  (SELECT qn FROM q5) AS q5, (SELECT a FROM ac5) AS acc5,
       |  (SELECT m FROM mv5) AS mv5,
       |  (SELECT qn FROM q6) AS q6, (SELECT a FROM ac6) AS acc6,
       |  (SELECT m FROM mv6) AS mv6
       |FROM dc LEFT JOIN ia ON ia.lab = dc.lab CROSS JOIN ut
       |ORDER BY community""".stripMargin
  }

  /** Connected components ([[graft.operators.Graph.connectedComponents]],
    * hash-to-min + pointer doubling, O(log diameter) rounds) over the
    * derived link graph; every node labeled with its component's minimum
    * id. The oracle is DuckDB's recursive-CTE transitive closure reduced
    * by MIN — a completely independent algorithm, so agreement checks the
    * fixpoint itself, not the implementation. */
  def g3Components(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.connectedComponents(linkEdges(sp, dir))
      .orderBy("id")

  val g3Sql: String =
    s"""WITH RECURSIVE $linkEdgesSql,
      |und AS (SELECT src AS u, dst AS v FROM edges
      |        UNION SELECT dst, src FROM edges),
      |nodes AS (SELECT DISTINCT u AS id FROM und),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.id)
      |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** DIRECTED strongly-connected components, bounded horizon
    * ([[graft.operators.Graph.sccBounded]], h = 3): node w joins v's
    * class iff both directed distances d(v→w) and d(w→v) are ≤ 3 —
    * mutual reachability within h implies true mutual reachability, so
    * labels never cross an SCC boundary and are monotone non-increasing
    * in h (the g5 horizon contract; a directed cycle of length L
    * resolves at h = L−1, so h = 3 resolves every cycle up to length
    * 4). g3's undirected CC would merge a dag chain into one component;
    * this keeps direction. The oracle unrolls the SAME 3-hop pair
    * closure as g5-style UNION ALL stages and intersects it with its
    * own transpose — an independent replay of both the expansion and
    * the mutuality join. */
  def g13Scc(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.sccBounded(linkEdges(sp, dir), maxHops = 3)
      .orderBy("id")

  val g13Sql: String = {
    def hop(prev: String, cur: String): String =
      s"""f$cur AS (SELECT DISTINCT id, w FROM (
         |  SELECT f.id, e.v AS w FROM f$prev f JOIN e ON e.u = f.w
         |  UNION ALL SELECT id, w FROM f$prev))""".stripMargin
    s"""WITH $linkEdgesSql,
       |e AS (SELECT DISTINCT src AS u, dst AS v FROM edges),
       |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
       |f0 AS (SELECT id, id AS w FROM nodes),
       |${hop("0", "1")},
       |${hop("1", "2")},
       |${hop("2", "3")},
       |m AS (SELECT a.id, a.w FROM f3 a
       |  JOIN f3 b ON b.id = a.w AND b.w = a.id)
       |SELECT id, MIN(w) AS scc FROM m GROUP BY id ORDER BY id""".stripMargin
  }

  /** Synchronous label-propagation communities
    * ([[graft.operators.Graph.labelPropagation]]), 3 fixed rounds on the
    * derived link graph — the majority-vote aggregation shape (argmax by
    * node via max(struct), never a per-node window), vs g3's min-
    * propagation. The oracle replays each round as a count + row_number
    * stage. */
  def g4LabelProp(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(linkEdges(sp, dir), rounds = 3)
      .orderBy("id")

  val g4Sql: String = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS (SELECT e.v AS id, l.lab, COUNT(*) AS c
         |  FROM und e JOIN l$prev l ON e.u = l.id GROUP BY 1, 2),
         |l$cur AS (SELECT id, lab FROM (
         |  SELECT id, lab, row_number() OVER (
         |    PARTITION BY id ORDER BY c DESC, lab) AS rn FROM c$cur)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $linkEdgesSql,
       |und AS (SELECT src AS u, dst AS v FROM edges
       |        UNION SELECT dst, src FROM edges),
       |nodes AS (SELECT DISTINCT u AS id FROM und),
       |l0 AS (SELECT id, id AS lab FROM nodes),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT id, lab FROM l3 ORDER BY id""".stripMargin
  }

  /** Pivot-sampled betweenness centrality ([[graft.operators.Graph
    * .betweennessPivots]]): Brandes partial dependencies from the 4
    * smallest node ids, horizon 3, over the derived link graph — exact
    * integer σ path counts and exact-rational δ accumulation
    * (bc_num/bc_den in lowest terms, bc the one final float). The
    * oracle replays the level-unrolled BFS, the DAG, both backward
    * levels and the rational folds in SQL (HUGEINT cross-multiplied
    * adds with a gcd canonicalization — exact rational addition is
    * order-independent, so the two engines' fold orders cannot
    * diverge). */
  def g20Betweenness(sp: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(sp, dir)
    val sym = e.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val pivots = sym.select(col("u"))
      .union(sym.select(col("v").as("u"))).distinct()
      .orderBy("u").limit(4)
      .collect().map(_.getLong(0)).toSeq
    graft.operators.Graph.betweennessPivots(e, pivots, maxHops = 3)
      .orderBy("id")
  }

  val g20Sql: String = {
    // exact rational fold: UNREDUCED cross-multiplied adds in HUGEINT
    // with ONE gcd canonicalization when each fold's result is
    // projected — exact rational addition is order-independent, so
    // this equals Spark's per-step-reduced BigInteger fold. Deliberate:
    // DuckDB 1.0's list_reduce mis-evaluates a gcd subexpression shared
    // by both struct fields once the accumulator recycles (probed:
    // [1,1,1,1/2,1/2] folds to 4/2), and the unreduced envelope is tiny
    // here (max Πq per fold ≈ 10^4.7 at sf0.1, measured — HUGEINT holds
    // 10^38).
    val step = "(a, x) -> struct_pack(" +
      "n := a.n * x.d + x.n * a.d, d := a.d * x.d)"
    def bfs(p: String, c: String): String =
      s"""f$c AS (SELECT d.s, e.v AS w, CAST(SUM(d.sigma) AS BIGINT)
         |    AS sigma
         |  FROM v$p d JOIN und e ON e.u = d.v WHERE d.dist = $p
         |  GROUP BY 1, 2),
         |v$c AS MATERIALIZED (SELECT s, v, dist, sigma FROM v$p
         |  UNION ALL
         |  SELECT f.s, f.w AS v, $c AS dist, f.sigma FROM f$c f
         |  ANTI JOIN v$p o ON o.s = f.s AND o.v = f.w)""".stripMargin
    def back(dl: String, lev: Int, out: String): String =
      s"""lv$lev AS (SELECT dag.s, dag.v,
         |    list_reduce(list(struct_pack(
         |        n := CAST(dag.sv * (dl.d + dl.n) AS HUGEINT),
         |        d := CAST(dag.sw * dl.d AS HUGEINT))), $step) AS f
         |  FROM dag JOIN $dl dl ON dl.s = dag.s AND dl.v = dag.w
         |  WHERE dag.dist = $lev GROUP BY 1, 2),
         |$out AS MATERIALIZED (SELECT s, v, n, d FROM $dl
         |  UNION ALL SELECT s, v,
         |    CAST(f.n // gcd(f.n, f.d) AS BIGINT),
         |    CAST(f.d // gcd(f.n, f.d) AS BIGINT) FROM lv$lev
         |  UNION ALL SELECT z.s, z.v, 0, 1 FROM
         |    (SELECT s, v FROM vis WHERE dist = $lev) z
         |  ANTI JOIN lv$lev l ON l.s = z.s AND l.v = z.v)""".stripMargin
    s"""WITH $linkEdgesSql,
       |sym AS (SELECT u, v FROM (SELECT src AS u, dst AS v FROM edges
       |         UNION SELECT dst, src FROM edges) WHERE u <> v),
       |und AS MATERIALIZED (SELECT DISTINCT u, v FROM sym),
       |pv AS (SELECT id AS s FROM (SELECT DISTINCT u AS id FROM und)
       |  ORDER BY id LIMIT 4),
       |v0 AS (SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM pv),
       |${bfs("0", "1")},
       |${bfs("1", "2")},
       |${bfs("2", "3")},
       |vis AS MATERIALIZED (SELECT * FROM v3),
       |dag AS MATERIALIZED (SELECT a.s, a.v, a.dist, a.sigma AS sv,
       |    b.v AS w, b.sigma AS sw
       |  FROM vis a JOIN und e ON e.u = a.v
       |  JOIN vis b ON b.s = a.s AND b.v = e.v AND b.dist = a.dist + 1),
       |d3 AS (SELECT s, v, CAST(0 AS BIGINT) AS n, CAST(1 AS BIGINT)
       |    AS d FROM vis WHERE dist = 3),
       |${back("d3", 2, "dl2")},
       |${back("dl2", 1, "dl1")},
       |bc AS (SELECT v AS id,
       |    list_reduce(list(struct_pack(n := CAST(n AS HUGEINT),
       |      d := CAST(d AS HUGEINT))), $step) AS f
       |  FROM dl1 GROUP BY 1)
       |SELECT id,
       |  CAST(f.n // gcd(f.n, f.d) AS BIGINT) AS bc_num,
       |  CAST(f.d // gcd(f.n, f.d) AS BIGINT) AS bc_den,
       |  CAST(CAST(f.n // gcd(f.n, f.d) AS BIGINT) AS DOUBLE) /
       |    CAST(CAST(f.d // gcd(f.n, f.d) AS BIGINT) AS DOUBLE) AS bc
       |FROM bc ORDER BY id""".stripMargin
  }

  /** Per-document keyword extraction: top-3 TF-IDF terms (stopwords
    * dropped, rational idf n/df — no transcendentals, so the score is a
    * fixed double tree both engines share). Distributed shape: one
    * (doc, term) tf aggregation, one vocab-sized df aggregation joined
    * back on the term key, and a per-doc rank window partitioned by
    * doc_id — no global sort anywhere. The df side is vocab-sized, so at
    * corpus scale the join shuffles on the term key rather than
    * broadcasting. */
  def t28Keywords(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it",
      "that")
    val docs = documents(sp, dir)
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .filter(!col("t").isin(stop: _*))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val sc = tf.join(dfreq, "t").crossJoin(broadcast(n))
      .select(col("doc_id"), col("t"),
        (col("tf").cast("double") *
          (col("n").cast("double") / col("df").cast("double")))
          .as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("t").as("term"),
        round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rank")
  }

  val t28Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks
       |  WHERE t NOT IN ('the','a','an','of','and','to','in','is','it',
       |    'that')
       |  GROUP BY 1, 2),
       |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |sc AS (SELECT tf.doc_id, tf.t,
       |    (CAST(tf.tf AS DOUBLE) *
       |      (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))) AS score
       |  FROM tf JOIN df ON tf.t = df.t CROSS JOIN n),
       |r AS (SELECT doc_id, t, score, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, t) AS rank FROM sc)
       |SELECT doc_id, CAST(rank AS INT) AS rank, t AS term,
       |  round(score, 4) AS score
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Seeded hop-distance ([[graft.operators.Graph.seededDistance]]):
    * trusted seeds = link-graph nodes ≡ 0 (mod 37); 3 rounds of directed
    * min-distance relaxation — the TrustRank propagation shape. The
    * oracle unrolls the same relaxation as three UNION ALL + MIN
    * stages. */
  def g5SeedDistance(sp: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(sp, dir)
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 37 === 0)
    graft.operators.Graph.seededDistance(e, seeds, maxHops = 3)
      .orderBy("id")
  }

  val g5Sql: String = {
    def relax(prev: String, cur: String): String =
      s"""d$cur AS (SELECT id, MIN(dist) AS dist FROM (
         |  SELECT e.dst AS id, d.dist + 1 AS dist
         |  FROM edges e JOIN d$prev d ON e.src = d.id
         |  UNION ALL SELECT id, dist FROM d$prev) GROUP BY id)""".stripMargin
    s"""WITH $linkEdgesSql,
       |seeds AS (SELECT DISTINCT src AS id FROM edges WHERE src % 37 = 0),
       |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM seeds),
       |${relax("0", "1")},
       |${relax("1", "2")},
       |${relax("2", "3")}
       |SELECT id, dist FROM d3 ORDER BY id""".stripMargin
  }

  /** WEIGHTED shortest distance, Bellman–Ford bounded rounds
    * ([[graft.operators.Graph.weightedSeededDistance]]) — g5's seeded
    * hop distance upgraded with integer edge COSTS (the latency/toll
    * propagation shape): cost of edge (u, v) is the deterministic
    * (u + 2·v) mod 20 + 1, seeds are link-graph sources ≡ 0 (mod 37),
    * and 4 relaxation rounds yield each node's exact min-cost ≤4-edge
    * walk from the seed set — a CHEAP long detour must beat an
    * expensive direct hop, which plain hop counting (g5) cannot
    * express. All-integer; the oracle unrolls the identical 4 rounds
    * as UNION ALL + MIN stages over the same weight formula. */
  def g14WeightedDistance(sp: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(sp, dir).select(col("src"), col("dst")).distinct()
      .select(col("src"), col("dst"),
        ((col("src") + col("dst") * 2) % 20 + 1).as("w"))
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 37 === 0)
    graft.operators.Graph.weightedSeededDistance(e, seeds, rounds = 4)
      .orderBy("id")
  }

  val g14Sql: String = {
    def relax(prev: String, cur: String): String =
      s"""d$cur AS (SELECT id, MIN(dist) AS dist FROM (
         |  SELECT e.v AS id, d.dist + e.w AS dist
         |  FROM e JOIN d$prev d ON e.u = d.id
         |  UNION ALL SELECT id, dist FROM d$prev) GROUP BY id)""".stripMargin
    s"""WITH $linkEdgesSql,
       |e AS (SELECT u, v, (u + 2 * v) % 20 + 1 AS w FROM (
       |  SELECT DISTINCT src AS u, dst AS v FROM edges)),
       |seeds AS (SELECT DISTINCT u AS id FROM e WHERE u % 37 = 0),
       |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM seeds),
       |${relax("0", "1")},
       |${relax("1", "2")},
       |${relax("2", "3")},
       |${relax("3", "4")}
       |SELECT id, dist FROM d4 ORDER BY id""".stripMargin
  }

  /** k-TRUSS EDGE PEELING ([[graft.operators.Graph.kTruss]], k=5, 3
    * rounds) — the edge-level cohesion screen beside g7's k-core: every
    * surviving edge must sit in >= 3 triangles of the surviving
    * subgraph, so star hubs (huge degree, zero support) peel away while
    * clique-ish communities stay. The corpus link graph is overlaid with
    * two plants: twenty 6-cliques on doc ids < 120 (every clique edge
    * has support 4 — these must ALL survive) and a K5-minus-one-edge on
    * ids 1000000+ whose central triangle survives round 1 with support 3
    * and then CASCADES out in round 2 when its supporting edges
    * disappear — an engine that under-peels (stops after one round)
    * keeps 3 extra edges and hash-fails. Random link-graph edges top out
    * at support 2 (measured) and peel in round 1.
    *
    * Scale shape: each round is one degree-ordered wedge join
    * (arboricity-bounded — the million-degree hub emits no wedges), one
    * triangle→edges explode, one count-agg, one filter; survivors
    * materialize per round and work only shrinks. The oracle replays
    * support as the common-neighbor join — same values, oracle-scale
    * plan. */
  def g15Ktruss(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val cliqueBase = documents(sp, dir)
      .select(col("doc_id")).filter(col("doc_id") < 120)
    val cliques = cliqueBase.as("a")
      .join(cliqueBase.as("b"),
        expr("a.doc_id div 6") === expr("b.doc_id div 6") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val nearClique = Seq((0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (1, 3),
        (1, 4), (2, 3), (2, 4))
      .map { case (a, b) => (1000000L + a, 1000000L + b) }
      .toDF("src", "dst")
    val edges = linkEdges(sp, dir).union(cliques).union(nearClique)
    graft.operators.Graph.kTruss(edges, k = 5, rounds = 3)
      .orderBy("u", "v")
  }

  val g15Sql: String = {
    def round(r: Int): String =
      s"""und$r AS (SELECT u AS x, v AS y FROM e$r
         |  UNION ALL SELECT v, u FROM e$r),
         |sup$r AS (SELECT e.u, e.v, count(*) AS sup
         |  FROM e$r e JOIN und$r a ON a.x = e.u
         |  JOIN und$r b ON b.x = e.v AND b.y = a.y
         |  GROUP BY 1, 2),
         |e${r + 1} AS (SELECT u, v, sup FROM sup$r WHERE sup >= 3)"""
        .stripMargin
    val nearCliqueVals = Seq((0, 1), (0, 2), (0, 3), (0, 4), (1, 2),
        (1, 3), (1, 4), (2, 3), (2, 4))
      .map { case (a, b) => s"(${1000000 + a}, ${1000000 + b})" }
      .mkString(", ")
    s"""WITH $linkEdgesSql,
       |allE AS (SELECT src, dst FROM edges
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
       |    ON a.doc_id // 6 = b.doc_id // 6 AND a.doc_id < b.doc_id
       |  WHERE a.doc_id < 120 AND b.doc_id < 120
       |  UNION ALL
       |  SELECT * FROM (VALUES $nearCliqueVals) AS nc(src, dst)),
       |e0 AS (SELECT DISTINCT least(src, dst) AS u,
       |    greatest(src, dst) AS v
       |  FROM allE WHERE src <> dst),
       |${round(0)},
       |${round(1)},
       |${round(2)}
       |SELECT u, v, CAST(sup AS BIGINT) AS sup FROM e3
       |ORDER BY u, v""".stripMargin
  }

  /** DEGREE ASSORTATIVITY ([[graft.operators.Graph.assortativity]]) —
    * Newman's r over the link graph: do hubs link to hubs (r > 0, the
    * social shape) or to leaves (r < 0, the web/star shape — and a spam
    * farm's signature)? All moment sums exact BIGINT over the
    * symmetrized half-edge list (identical marginals by construction,
    * so r = (M·Σxy − (Σx)²)∕(M·Σx² − (Σx)²)); r is the one final
    * float on exactly-equal integers, p23/p29 discipline. One degree
    * agg + two hash equi-joins + a 1-row partial agg. */
  def g16Assortativity(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.assortativity(linkEdges(sp, dir))

  val g16Sql: String =
    s"""WITH $linkEdgesSql,
       |c AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |sym AS (SELECT u, v FROM c UNION ALL SELECT v, u FROM c),
       |deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
       |xy AS (SELECT a.d AS x, b.d AS y
       |  FROM sym JOIN deg a ON a.u = sym.u JOIN deg b ON b.u = sym.v),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS m2,
       |    CAST(SUM(x) AS BIGINT) AS sum_x,
       |    CAST(SUM(x * x) AS BIGINT) AS sum_x2,
       |    CAST(SUM(x * y) AS BIGINT) AS sum_xy
       |  FROM xy)
       |SELECT m2, sum_x, sum_x2, sum_xy,
       |  m2 * sum_xy - sum_x * sum_x AS num,
       |  m2 * sum_x2 - sum_x * sum_x AS den,
       |  CASE WHEN m2 * sum_x2 - sum_x * sum_x <> 0
       |    THEN CAST(m2 * sum_xy - sum_x * sum_x AS DOUBLE)
       |         / CAST(m2 * sum_x2 - sum_x * sum_x AS DOUBLE)
       |    END AS r
       |FROM s""".stripMargin

  /** TOPOLOGICAL LAYERING ([[graft.operators.Graph.topoLayers]]) by
    * Kahn in-degree peeling over the DIRECTED link graph, 3 rounds:
    * layer 0 = the sources (nobody links to them — on a crawl graph the
    * frontier/orphan pages), layer k = peel-round k, layer −1 = the
    * residue, which on a saturated horizon is exactly the nodes on or
    * downstream of a directed CYCLE — the dependency-scheduler stages
    * and the cheap cycle detector beside g13's SCC (this derived graph
    * is overwhelmingly cyclic, so the gate's layer histogram pins both
    * the peelable fringe and the big cyclic core). The oracle replays
    * every peel round as staged NOT-IN CTEs; per-node output, so the
    * whole layering hash-pins, not a summary. */
  def g17TopoLayers(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.topoLayers(linkEdges(sp, dir), rounds = 3)
      .orderBy("id")

  /** k-HOP NEIGHBOR FEATURE AGGREGATION
    * ([[graft.operators.Graph.neighborAgg]]) over the link graph, 2
    * rounds: node features are the summed byte lengths of the docs
    * hashing to each node (portable md5 arithmetic, so the oracle
    * derives the identical feature table), and each round folds the
    * integer MEAN of in-neighbor features into the node — the
    * GraphSAGE-style "what does the linking context look like" signal
    * a page-quality model consumes beside the node's own features.
    * All intermediate rounds ride as columns, so h0, h1 AND h2 are
    * hash-pinned per node; the oracle unrolls both rounds as
    * aggregate+join CTEs with the same `//` integer mean. */
  def g18NeighborAgg(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
      .select(col("doc_id"), octet_length(col("text")).as("len"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val feats = docs.crossJoin(broadcast(n))
      .select(
        pmod(Hashing.portableHash32(col("doc_id").cast("string")),
          col("__n")).as("id"),
        col("len").cast("long").as("len"))
      .groupBy("id").agg(sum(col("len")).as("f"))
    graft.operators.Graph.neighborAgg(linkEdges(sp, dir), feats,
        rounds = 2)
      .orderBy("id")
  }

  val g18Sql: String =
    s"""WITH $linkEdgesSql,
       |f AS (SELECT
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % (SELECT COUNT(*) FROM documents) AS id,
       |    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS f
       |  FROM documents GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |h0 AS (SELECT n.id, COALESCE(f.f, 0) AS h0
       |  FROM nodes n LEFT JOIN f USING (id)),
       |c1 AS (SELECT e.dst, SUM(h.h0) AS s, count(*) AS d
       |  FROM edges e JOIN h0 h ON h.id = e.src GROUP BY 1),
       |h1 AS (SELECT h0.id, h0.h0,
       |    h0.h0 + COALESCE(c1.s // c1.d, 0) AS h1
       |  FROM h0 LEFT JOIN c1 ON c1.dst = h0.id),
       |c2 AS (SELECT e.dst, SUM(h.h1) AS s, count(*) AS d
       |  FROM edges e JOIN h1 h ON h.id = e.src GROUP BY 1),
       |h2 AS (SELECT h1.id, h1.h0, h1.h1,
       |    h1.h1 + COALESCE(c2.s // c2.d, 0) AS h2
       |  FROM h1 LEFT JOIN c2 ON c2.dst = h1.id)
       |SELECT id, CAST(h0 AS BIGINT) AS h0, CAST(h1 AS BIGINT) AS h1,
       |  CAST(h2 AS BIGINT) AS h2
       |FROM h2 ORDER BY id""".stripMargin

  val g17Sql: String = {
    def round(r: Int): String =
      s"""l$r AS (SELECT id FROM a$r WHERE id NOT IN (SELECT v FROM e$r)),
         |a${r + 1} AS (SELECT id FROM a$r
         |  WHERE id NOT IN (SELECT id FROM l$r)),
         |e${r + 1} AS (SELECT u, v FROM e$r
         |  WHERE u NOT IN (SELECT id FROM l$r))""".stripMargin
    s"""WITH $linkEdgesSql,
       |e0 AS (SELECT DISTINCT src AS u, dst AS v FROM edges),
       |a0 AS (SELECT DISTINCT u AS id FROM e0
       |  UNION SELECT DISTINCT v FROM e0),
       |${round(0)},
       |${round(1)},
       |${round(2)}
       |SELECT id, 0 AS layer FROM l0
       |UNION ALL SELECT id, 1 FROM l1
       |UNION ALL SELECT id, 2 FROM l2
       |UNION ALL SELECT id, -1 FROM a3
       |ORDER BY id""".stripMargin
  }

  /** Random-projection sketch ([[graft.operators.Ann.rpProject]]), 64→16
    * dims, with the JOHNSON-LINDENSTRAUSS DISTORTION GATE: for consecutive
    * vector pairs, ratio = ‖Pa−Pb‖² / (16·‖a−b‖²) must sit within ±0.5 of
    * 1 for ≥ 75% of pairs (measured 0.856/0.869 at sf0.01/0.1 — textbook
    * JL concentration; top-k recall is NOT the projection's contract on
    * this corpus, whose neighbor margins are below any 16-dim sketch's
    * resolution, so the gate checks what JL actually promises). Counts are
    * exact integers; the ratio arithmetic is the same double tree in both
    * engines. */
  def a13RandomProjection(sp: SparkSession, dir: String): DataFrame = {
    val k = 16
    val pc = embeddings(sp, dir).select(col("vec_id").as("id"),
      col("embedding"),
      graft.operators.Ann.rpProject(col("embedding"), 64, k).as("pvec"))
    val ratios = pc.as("a")
      .join(pc.as("b"), col("b.id") === col("a.id") + 1)
      .select(Vectors.l2sq(col("a.pvec"), col("b.pvec")).as("pd"),
        Vectors.l2sq(col("a.embedding"), col("b.embedding")).as("od"))
      .filter(col("od") > 0)
      .select((col("pd") / (lit(k.toDouble) * col("od"))).as("ratio"))
    ratios.agg(count(lit(1)).as("n_pairs"),
        count(when(abs(col("ratio") - 1.0) <= 0.5, 1)).as("n_ok"))
      .select(lit(k).as("k"), col("n_pairs"), col("n_ok"),
        round(col("n_ok").cast("double") / col("n_pairs"), 4).as("frac_ok"),
        lit(0.75).as("floor"),
        (col("n_ok").cast("double") / col("n_pairs") >= 0.75)
          .as("distortion_ok"))
  }

  val a13Sql: String = {
    val pv = (0 until 16).map { j =>
      "(" + (0 until 64).map { i =>
        val s = if (graft.operators.Ann.rpSign(j, i) > 0) "+1.0" else "-1.0"
        s"CAST(embedding[${i + 1}] AS DOUBLE) * $s"
      }.mkString(" + ") + ")"
    }.mkString("[", ", ", "]")
    def sqd(a: String, b: String) = foldSum(
      s"list_transform(range(1, len($a)+1), i -> " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))")
    s"""WITH pc AS (SELECT vec_id AS id, embedding, $pv AS pvec
       |  FROM embeddings),
       |pairs AS (SELECT ${sqd("a.pvec", "b.pvec")} AS pd,
       |    ${sqd("a.embedding", "b.embedding")} AS od
       |  FROM pc a JOIN pc b ON b.id = a.id + 1),
       |r AS (SELECT pd / (16.0 * od) AS ratio FROM pairs WHERE od > 0),
       |agg AS (SELECT count(*) AS n_pairs,
       |  count(*) FILTER (abs(ratio - 1.0) <= 0.5) AS n_ok FROM r)
       |SELECT CAST(16 AS INT) AS k, n_pairs, n_ok,
       |  round(n_ok::DOUBLE / n_pairs, 4) AS frac_ok,
       |  CAST(0.75 AS DOUBLE) AS floor,
       |  (n_ok::DOUBLE / n_pairs >= 0.75) AS distortion_ok
       |FROM agg""".stripMargin
  }

  /** Scalar-quantized (int8) similarity search: the corpus is stored as
    * d10's symmetric int8 codes + one scale (4× smaller working set — the
    * 100 TB embedding-storage lever BELOW PQ's 64×, with far less recall
    * risk), queries stay full-precision, and scoring runs on the
    * dequantized corpus — the standard asymmetric SQ search. Recall@3 vs
    * the exact float truth (a1) gated at 0.8 (measured 1.0 at sf0.01 AND
    * sf0.1: int8 error is far below this corpus's neighbor margins, unlike
    * a13's 16-dim sketch). Quantize/dequantize arithmetic is d10's exact
    * replayable tree. */
  def a14QuantizedRecall(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a14-truth")
    val corpus = e
      .select(col("vec_id").as("id"), Vectors.maxAbs(col("embedding")).as("m"),
        Vectors.quantize(col("embedding"), Vectors.maxAbs(col("embedding")))
          .as("q"))
      .select(col("id"), Vectors.dequantize(col("q"), col("m")).as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val res = Ann.bruteForceTopK(qs, corpus, 3)
    val floor = 0.8
    truth.join(res.select(col("qid"), col("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("sq_int8").as("method"), col("n_hits"), col("n_truth"),
        round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a14Sql: String =
    s"""WITH truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |mm AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
       |      AS m
       |  FROM embeddings),
       |dq AS (SELECT vec_id AS id, list_transform(list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m) AS INT)),
       |    x -> CAST(x AS DOUBLE) * m / 127.0) AS vec FROM mm),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |  WHERE vec_id < 5),
       |s AS (SELECT q.qid, c.id, ${cosSql("q.qvec", "c.vec")} AS sim
       |      FROM dq c CROSS JOIN q WHERE c.id <> q.qid),
       |rq AS (SELECT qid, id FROM (SELECT qid, id, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM s)
       |  WHERE rank <= 3),
       |h AS (SELECT count(*) AS n_hits FROM rq
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = rq.qid AND t.neighbor = rq.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'sq_int8' AS method, h.n_hits, tt.n_truth,
       |  round(h.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.8 AS DOUBLE) AS floor,
       |  (h.n_hits::DOUBLE / tt.n_truth >= 0.8) AS recall_ok
       |FROM h CROSS JOIN tt""".stripMargin

  /** Binary-quantization Hamming search with exact re-rank — the 32×
    * compression tier of the ANN ladder ([[Ann.bqCode]]: ONE long per
    * 64-float vector, below SQ's 4× and PQ's 64×... in bytes the most
    * aggressive here). Candidates come from a brute Hamming scan over
    * the code column — bit_count(xor) per pair, the memory-bandwidth
    * path real BQ systems ship, k-capped through TopKPairsAgg so no
    * corpus-sized window exists — then the shortlist is
    * re-ranked by exact cosine. Shortlist depth 128 is the oversample
    * knob (production BQ oversamples 4-50× k; this synthetic corpus is
    * near-orthogonal so sign codes need the deep end). Emits shortlist
    * recall (was the true neighbor among the candidates?) AND final
    * recall@3 vs the a1 exact truth, floor 0.6 (measured 1.0 / 0.93 /
    * 0.67 at sf0.001/0.01/0.1). The oracle recomputes every code bit via
    * HUGEINT two's-complement summation (m5's bit-63 discipline) and
    * replays Hamming, shortlist, and re-rank. */
  def a23BqHamming(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a23-truth")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val short = graft.Tables.stage(
      Ann.bqHammingShortlist(qs, corpus, 64, 128), "graft-a23-short")
    val res = Ann.bqRerankTopK(short, qs, corpus, 3)
    val floor = 0.6
    val hitsShort = truth
      .join(short.select(col("qid"), col("id").as("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits_short"))
    val hits = truth.join(res.select(col("qid"), col("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    hitsShort.crossJoin(hits)
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("bq_hamming").as("method"), col("n_hits_short"),
        col("n_hits"), col("n_truth"),
        round(col("n_hits_short").cast("double") / col("n_truth"), 4)
          .as("recall_short"),
        round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a23Sql: String =
    s"""WITH truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |bc AS (SELECT e.vec_id AS id,
       |    SUM(CASE WHEN CAST(e.embedding[t.i + 1] AS DOUBLE) > 0
       |      THEN (1::HUGEINT << t.i) ELSE 0::HUGEINT END) AS hsum
       |  FROM embeddings e, range(0, 64) t(i)
       |  GROUP BY e.vec_id),
       |c AS (SELECT id, CAST(CASE WHEN hsum >= 9223372036854775808::HUGEINT
       |    THEN hsum - 18446744073709551616::HUGEINT ELSE hsum END
       |    AS BIGINT) AS code FROM bc),
       |q AS (SELECT id AS qid, code AS qcode FROM c WHERE id < 5),
       |s AS (SELECT q.qid, c.id, bit_count(xor(c.code, q.qcode)) AS ham
       |  FROM c CROSS JOIN q WHERE c.id <> q.qid),
       |short AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, id) AS hrank
       |  FROM s) WHERE hrank <= 128),
       |rr AS (SELECT sh.qid, sh.id,
       |    ${cosSql("qe.embedding", "ce.embedding")} AS sim
       |  FROM short sh
       |  JOIN embeddings qe ON qe.vec_id = sh.qid
       |  JOIN embeddings ce ON ce.vec_id = sh.id),
       |top3 AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r
       |  FROM rr) WHERE r <= 3),
       |hs AS (SELECT count(*) AS n_hits_short FROM short
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = short.qid AND t.neighbor = short.id)),
       |hh AS (SELECT count(*) AS n_hits FROM top3
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = top3.qid AND t.neighbor = top3.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'bq_hamming' AS method, hs.n_hits_short, hh.n_hits, tt.n_truth,
       |  round(hs.n_hits_short::DOUBLE / tt.n_truth, 4) AS recall_short,
       |  round(hh.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.6 AS DOUBLE) AS floor,
       |  (hh.n_hits::DOUBLE / tt.n_truth >= 0.6) AS recall_ok
       |FROM hs CROSS JOIN hh CROSS JOIN tt""".stripMargin

  /** SQ8 SCALAR-QUANTIZED SEARCH ([[Ann.sq8Code]]) — the int8 middle
    * tier completing the compression ladder (fp32 a1 → SQ8 here → PQ
    * a10 → binary a23): per-dimension min/max bounds from one corpus
    * pass (64-pair literal collect, the centroid discipline), codes in
    * one codegen'd projection, candidates by brute integer CODE-SPACE
    * L2 through the k-capped TopKPairsAgg, exact cosine re-rank reused
    * verbatim from the BQ tier. Code-space L2 is a shortlist metric
    * only (per-dim scales differ) — the a10 membership-not-score
    * contract. Floor 0.7 sits above BQ's 0.6: 8 bits per dim must beat
    * sign bits. Oracle recomputes bounds, every code, every integer
    * distance, both ranks. */
  def a30Sq8(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a30-truth")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val b = Ann.sq8Bounds(corpus, 64).orderBy("d").collect()
    val lo = b.map(_.getDouble(1)).toIndexedSeq
    val hi = b.map(_.getDouble(2)).toIndexedSeq
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val short = graft.Tables.stage(
      Ann.sq8Shortlist(qs, corpus, lo, hi, 128), "graft-a30-short")
    val res = Ann.bqRerankTopK(short, qs, corpus, 3)
    val floor = 0.7
    val hitsShort = truth
      .join(short.select(col("qid"), col("id").as("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits_short"))
    val hits = truth.join(res.select(col("qid"), col("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    hitsShort.crossJoin(hits)
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("sq8").as("method"), col("n_hits_short"),
        col("n_hits"), col("n_truth"),
        round(col("n_hits_short").cast("double") / col("n_truth"), 4)
          .as("recall_short"),
        round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a30Sql: String =
    s"""WITH truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |bounds AS (SELECT t.i AS d,
       |    MIN(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS lo,
       |    MAX(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS hi
       |  FROM embeddings e, range(0, 64) t(i) GROUP BY 1),
       |codes AS (SELECT e.vec_id AS id, b.d,
       |    CASE WHEN b.hi = b.lo THEN 0 ELSE
       |      LEAST(255, CAST(FLOOR(
       |        (CAST(e.embedding[b.d + 1] AS DOUBLE) - b.lo) * 256.0
       |          / (b.hi - b.lo)) AS INT)) END AS code
       |  FROM embeddings e CROSS JOIN bounds b),
       |qd AS (SELECT id AS qid, d, code FROM codes WHERE id < 5),
       |dist AS (SELECT q.qid, c.id,
       |    CAST(SUM(CAST(q.code - c.code AS BIGINT)
       |      * (q.code - c.code)) AS BIGINT) AS d2
       |  FROM codes c JOIN qd q USING (d) WHERE c.id <> q.qid
       |  GROUP BY 1, 2),
       |short AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS r
       |  FROM dist) WHERE r <= 128),
       |rr AS (SELECT sh.qid, sh.id,
       |    ${cosSql("qe.embedding", "ce.embedding")} AS sim
       |  FROM short sh
       |  JOIN embeddings qe ON qe.vec_id = sh.qid
       |  JOIN embeddings ce ON ce.vec_id = sh.id),
       |top3 AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r
       |  FROM rr) WHERE r <= 3),
       |hs AS (SELECT count(*) AS n_hits_short FROM short
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = short.qid AND t.neighbor = short.id)),
       |hh AS (SELECT count(*) AS n_hits FROM top3
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = top3.qid AND t.neighbor = top3.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'sq8' AS method, hs.n_hits_short, hh.n_hits, tt.n_truth,
       |  round(hs.n_hits_short::DOUBLE / tt.n_truth, 4) AS recall_short,
       |  round(hh.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.7 AS DOUBLE) AS floor,
       |  (hh.n_hits::DOUBLE / tt.n_truth >= 0.7) AS recall_ok
       |FROM hs CROSS JOIN hh CROSS JOIN tt""".stripMargin

  // a31's oracle computes ~1M cosines across 4 replayed rounds; the
  // generic cosSql fold allocates a range+list per pair (~120 µs). The
  // explicit 64-term left-associated chain is the IDENTICAL sequential
  // double fold (verified count(f <> x) = 0 on real data) at ~2 µs —
  // valid because the embeddings fixture is dim-64 at every SF.
  private def dot64Sql(a: String, b: String): String =
    (1 to 64).map(i =>
      s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")
  private def norm64Sql(a: String): String =
    "sqrt(" + (1 to 64).map(i =>
      s"CAST($a[$i] AS DOUBLE)*CAST($a[$i] AS DOUBLE)")
      .mkString(" + ") + ")"
  private def cos64Sql(a: String, b: String): String =
    s"((${dot64Sql(a, b)}) / (${norm64Sql(a)} * ${norm64Sql(b)}))"

  /** NN-DESCENT k-NN GRAPH ([[graft.operators.Ann.nnDescent]],
    * k = 10, 5 rounds): the ALL-PAIRS neighbor graph every corpus
    * vector gets
    * without the O(n²) brute pass — "a neighbor of my neighbor is
    * probably my neighbor" through the paper's local join (forward ∪
    * k-capped reverse neighborhoods), candidates per node bounded at
    * 4k² + k regardless of corpus size. Hash-ring seeding makes the whole
    * construction a pure function of the corpus, so the oracle
    * REPLAYS every seed, every candidate union, every cosine and both
    * top-k re-caps in SQL — the final graph is hash-pinned, not just
    * rows-checked (an RNG NN-descent could never be). The gate
    * metric is GRAPH RECALL — the fraction of the exact 5-NN truth
    * present among a node's 10 graph edges (candidate-generation
    * coverage, the property a kNN graph is built for), measured on
    * the qid < 100 sample and floor-gated at 0.55. The synthetic
    * embeddings are essentially UNCLUSTERED (measured avg intra-label
    * cosine ≈ 0.0016 vs 0.0003 global — near-random 64-dim vectors),
    * the KNOWN hard regime for NN-descent's neighbor-of-neighbor
    * premise (Dong et al. §5: recall tracks intrinsic dimensionality);
    * 5 local-join rounds read ≈ 0.87 at sf0.01 and ≈ 0.62 at sf0.1,
    * reported honestly — convergence on random data needs O(log n)
    * rounds, and a real clustered corpus is the easy case. Emitted
    * rows are the same sample (the full graph at sf1 is corpus-sized
    * output). */
  def a31NnDescent(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val sample = graft.Tables.stage(
      graft.operators.Ann.nnDescent(corpus, k = 10, rounds = 5)
        .filter(col("qid") < 100), "graft-a31-knn")
    val qs = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = graft.Tables.stage(
      graft.operators.Ann.bruteForceTopK(qs, corpus, 5)
        .select(col("qid"), col("neighbor")), "graft-a31-truth")
    val hits = sample.select(col("qid"), col("neighbor"))
      .join(truth, Seq("qid", "neighbor"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    val tot = hits.agg(sum(col("n_hits")).as("__th"))
      .crossJoin(truth.agg(count(lit(1)).as("__tt")))
    sample.join(hits, Seq("qid"), "left")
      .crossJoin(broadcast(tot))
      .select(col("qid"), col("rank"), col("neighbor"), col("sim"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(col("__th").cast("double") / col("__tt"), 4)
          .as("mean_recall"),
        (col("__th").cast("double") / col("__tt") >= 0.55)
          .as("recall_ok"))
      .orderBy("qid", "rank")
  }

  val a31Sql: String = {
    def round1(r: Int, edges: String, out: String) =
      s"""rc$r AS MATERIALIZED (SELECT m, x FROM (
         |    SELECT u AS m, v AS x, row_number() OVER (PARTITION BY u
         |      ORDER BY v) AS rk FROM $edges)
         |  WHERE rk <= 10),
         |g$r AS MATERIALIZED (SELECT DISTINCT m, x FROM (
         |    SELECT v AS m, u AS x FROM $edges
         |    UNION ALL SELECT m, x FROM rc$r)),
         |c$r AS MATERIALIZED (SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM $edges
         |    UNION ALL SELECT a.x AS v, b.x AS u FROM g$r a
         |      JOIN g$r b ON b.m = a.m)
         |  WHERE v <> u),
         |s$r AS MATERIALIZED (SELECT c.v, c.u,
         |    ${cos64Sql("ea.embedding", "eb.embedding")} AS sim
         |  FROM c$r c JOIN embeddings ea ON ea.vec_id = c.v
         |  JOIN embeddings eb ON eb.vec_id = c.u),
         |$out AS MATERIALIZED (SELECT v, u, sim FROM (
         |    SELECT v, u, sim, row_number() OVER (PARTITION BY v
         |      ORDER BY sim DESC, u) AS rk FROM s$r)
         |  WHERE rk <= 10)""".stripMargin
    s"""WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
       |pos AS MATERIALIZED (SELECT e.vec_id AS u,
       |    ('0x' || substr(md5('r:' || CAST(e.vec_id AS VARCHAR)),
       |      1, 8))::BIGINT % n.n AS c
       |  FROM embeddings e, n),
       |darts AS MATERIALIZED (SELECT e.vec_id AS v,
       |    ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':' ||
       |      CAST(j.j AS VARCHAR)), 1, 8))::BIGINT % n.n AS c
       |  FROM embeddings e, n,
       |    (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10),
       |      (11), (12), (13), (14), (15), (16), (17), (18), (19),
       |      (20)) j(j)),
       |seed AS MATERIALIZED (SELECT DISTINCT d.v, p.u
       |  FROM darts d JOIN pos p ON p.c = d.c WHERE d.v <> p.u),
       |s0 AS MATERIALIZED (SELECT c.v, c.u,
       |    ${cos64Sql("ea.embedding", "eb.embedding")} AS sim
       |  FROM seed c JOIN embeddings ea ON ea.vec_id = c.v
       |  JOIN embeddings eb ON eb.vec_id = c.u),
       |e0 AS MATERIALIZED (SELECT v, u, sim FROM (
       |    SELECT v, u, sim, row_number() OVER (PARTITION BY v
       |      ORDER BY sim DESC, u) AS rk FROM s0)
       |  WHERE rk <= 10),
       |${round1(1, "e0", "e1")},
       |${round1(2, "e1", "e2")},
       |${round1(3, "e2", "e3")},
       |${round1(4, "e3", "e4")},
       |${round1(5, "e4", "e5")},
       |fin AS (SELECT v AS qid,
       |    CAST(row_number() OVER (PARTITION BY v
       |      ORDER BY sim DESC, u) AS INT) AS rank,
       |    u AS neighbor, round(sim, 4) AS sim
       |  FROM e5 WHERE v < 100),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |  WHERE vec_id < 100),
       |ts AS (SELECT q.qid, e.vec_id AS id,
       |    ${cos64Sql("q.qvec", "e.embedding")} AS sim
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |truth AS (SELECT qid, id AS neighbor FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, id) AS rk FROM ts)
       |  WHERE rk <= 5),
       |h AS (SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM fin f WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = f.qid AND t.neighbor = f.neighbor)
       |  GROUP BY 1),
       |tt AS (SELECT CAST((SELECT coalesce(SUM(n_hits), 0) FROM h)
       |    AS BIGINT) AS th,
       |  CAST(COUNT(*) AS BIGINT) AS t FROM truth)
       |SELECT fin.qid, fin.rank, fin.neighbor, fin.sim,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  round(CAST(tt.th AS DOUBLE) / tt.t, 4) AS mean_recall,
       |  (CAST(tt.th AS DOUBLE) / tt.t >= 0.55) AS recall_ok
       |FROM fin LEFT JOIN h USING (qid) CROSS JOIN tt
       |ORDER BY fin.qid, fin.rank""".stripMargin
  }

  /** IVF + SQ8 COMPOSED INDEX (a32 — the remaining cell of the
    * index × compression matrix: a9 composed IVF with PQ codes, this
    * composes it with the SQ8 int8 tier, the configuration most
    * production stores actually ship (FAISS IVF,SQ8): the STORED
    * index is (id, cid, 64 int8 codes) — 4× smaller than floats —
    * probe selection is the config-sized centroid ranking (nprobe 2),
    * the shortlist is code-space L2 over ONLY the probed cells'
    * postings through the k-capped TopKPairsAgg (membership metric,
    * the a10 contract), and the exact cosine re-rank reads full
    * vectors for the ≤32-row shortlist alone. Recall is bounded by
    * IVF cell coverage exactly like a3 — measured recall_short equals
    * a5's full-precision ivf recall TO THE DIGIT at every SF
    * (0.67∕0.73∕0.27: the int8 tier loses NOTHING, coverage is the
    * whole bound), with the family's documented sf0.1 caveat (nprobe
    * 2 of 20 cells on near-random data; the 0.6 floor is calibrated
    * at the driver's sf0.01 gate scale, the same posture as a5's ivf
    * 0.8). Oracle replays assignment, probes, bounds, every code,
    * every integer distance and both ranks. */
  def a32IvfSq8(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val truth = graft.Tables.stage(
      a1AnnBrute(sp, dir).filter(col("rank") <= 3)
        .select(col("qid"), col("neighbor")), "graft-a32-truth")
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val b = Ann.sq8Bounds(corpus, 64).orderBy("d").collect()
    val lo = b.map(_.getDouble(1)).toIndexedSeq
    val hi = b.map(_.getDouble(2)).toIndexedSeq
    val postings = graft.Tables.stage(
      Ann.ivfIndex(corpus, cents)
        .select(col("id"), col("cid"),
          Ann.sq8Code(col("vec"), lo, hi).as("cc")), "graft-a32-post")
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("__cs").desc, col("cid"))
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("__cs",
        graft.functions.Vectors.dot(col("qvec"), col("cvec")) /
          (graft.functions.Vectors.norm2(col("qvec")) *
            graft.functions.Vectors.norm2(col("cvec"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .select(col("qid"), col("cid"),
        Ann.sq8Code(col("qvec"), lo, hi).as("qc"))
    val topk = graft.functions.TopKPairsAgg.topKPairs(32)
    val short = graft.Tables.stage(
      postings.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        aggregate(zip_with(col("qc"), col("cc"),
            (a, bb) => ((a - bb) * (a - bb)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .groupBy(col("qid"))
      .agg(topk(col("d2"), col("id")).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e._2").as("id")), "graft-a32-short")
    val res = Ann.bqRerankTopK(short, qs, corpus, 3)
    val floor = 0.6
    val hitsShort = truth
      .join(short.select(col("qid"), col("id").as("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits_short"))
    val hits = truth.join(res.select(col("qid"), col("neighbor")),
        Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    hitsShort.crossJoin(hits)
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(lit("ivf_sq8").as("method"), col("n_hits_short"),
        col("n_hits"), col("n_truth"),
        round(col("n_hits_short").cast("double") / col("n_truth"), 4)
          .as("recall_short"),
        round(col("n_hits").cast("double") / col("n_truth"), 4)
          .as("recall"),
        lit(floor).as("floor"),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  val a32Sql: String =
    s"""WITH truth AS (SELECT qid, neighbor FROM ($a1Sql) WHERE rank <= 3),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid)
       |      AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT id AS qid, cid FROM asg
       |  WHERE id < 5 AND rn <= 2),
       |bounds AS (SELECT t.i AS d,
       |    MIN(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS lo,
       |    MAX(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS hi
       |  FROM embeddings e, range(0, 64) t(i) GROUP BY 1),
       |codes AS (SELECT e.vec_id AS id, b.d,
       |    CASE WHEN b.hi = b.lo THEN 0 ELSE
       |      LEAST(255, CAST(FLOOR(
       |        (CAST(e.embedding[b.d + 1] AS DOUBLE) - b.lo) * 256.0
       |          / (b.hi - b.lo)) AS INT)) END AS code
       |  FROM embeddings e CROSS JOIN bounds b),
       |qd AS (SELECT id AS qid, d, code FROM codes WHERE id < 5),
       |dist AS (SELECT p.qid, cl.id,
       |    CAST(SUM(CAST(q.code - c.code AS BIGINT)
       |      * (q.code - c.code)) AS BIGINT) AS d2
       |  FROM probes p JOIN cells cl ON cl.cid = p.cid
       |  JOIN codes c ON c.id = cl.id
       |  JOIN qd q ON q.qid = p.qid AND q.d = c.d
       |  WHERE cl.id <> p.qid GROUP BY 1, 2),
       |short AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS r
       |  FROM dist) WHERE r <= 32),
       |rr AS (SELECT sh.qid, sh.id,
       |    ${cosSql("qe.embedding", "ce.embedding")} AS sim
       |  FROM short sh
       |  JOIN embeddings qe ON qe.vec_id = sh.qid
       |  JOIN embeddings ce ON ce.vec_id = sh.id),
       |top3 AS (SELECT qid, id FROM (SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id)
       |      AS r FROM rr) WHERE r <= 3),
       |hs AS (SELECT count(*) AS n_hits_short FROM short
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = short.qid AND t.neighbor = short.id)),
       |hh AS (SELECT count(*) AS n_hits FROM top3
       |  WHERE EXISTS (SELECT 1 FROM truth t
       |    WHERE t.qid = top3.qid AND t.neighbor = top3.id)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT 'ivf_sq8' AS method, hs.n_hits_short, hh.n_hits,
       |  tt.n_truth,
       |  round(hs.n_hits_short::DOUBLE / tt.n_truth, 4)
       |    AS recall_short,
       |  round(hh.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  CAST(0.6 AS DOUBLE) AS floor,
       |  (hh.n_hits::DOUBLE / tt.n_truth >= 0.6) AS recall_ok
       |FROM hs CROSS JOIN hh CROSS JOIN tt""".stripMargin

  /** k-NN LABEL PROBE — the embedding-quality eval that gates an
    * embedding version before anything expensive is built on it (the
    * standard linear/kNN probing protocol): a held-out query slice
    * (vec_id % 7 = 0) is classified by the MAJORITY LABEL of its k=5
    * cosine neighbors in the remaining corpus (disjoint — a query can
    * never vote with its own label), and per-class accuracy lands in
    * exact integer basis points. Ties break to the smallest label via
    * one max(struct) partial agg — never a per-query window over votes.
    * The probe set is result-sized (broadcast side of a1's brute scan;
    * the a7/a9 index paths are the drop-in for corpus-sized probes).
    * The oracle replays neighbors, votes, tie-break, and the accuracy
    * division. */
  def a24KnnProbe(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val qs = e.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("true_label"))
    val corpus = e.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val nn = Ann.bruteForceTopK(
      qs.select(col("qid"), col("qvec")),
      corpus.select(col("id"), col("vec")), 5)
    val votes = nn
      .join(corpus.select(col("id").as("neighbor"), col("label")),
        Seq("neighbor"))
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy(col("qid"))
      .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("m"))
      .select(col("qid"), (-col("m.neg")).as("pred_label"))
    qs.select(col("qid"), col("true_label")).join(pred, Seq("qid"))
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("pred_label") === col("true_label"), 1))
          .as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        expr("n_correct * 10000 div n_queries").as("acc_bp"))
      .orderBy("true_label")
  }

  val a24Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS tl
       |  FROM embeddings WHERE vec_id % 7 = 0),
       |c AS (SELECT vec_id AS id, embedding AS vec, label
       |  FROM embeddings WHERE vec_id % 7 <> 0),
       |s AS (SELECT q.qid, c.id, c.label,
       |    ${cosSql("q.qvec", "c.vec")} AS sim
       |  FROM c CROSS JOIN q),
       |r AS (SELECT qid, label FROM (SELECT qid, label,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, id) AS rank FROM s) WHERE rank <= 5),
       |v AS (SELECT qid, label, count(*) AS votes FROM r GROUP BY 1, 2),
       |p AS (SELECT qid, label AS pred FROM (SELECT qid, label,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY votes DESC, label) AS rn FROM v) WHERE rn = 1),
       |j AS (SELECT q.tl, (p.pred = q.tl) AS ok FROM q
       |  JOIN p ON p.qid = q.qid)
       |SELECT tl AS true_label, count(*) AS n_queries,
       |  count(*) FILTER (ok) AS n_correct,
       |  count(*) FILTER (ok) * 10000 // count(*) AS acc_bp
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** RECALL-vs-NPROBE tuning curve — the knob every IVF deployment
    * actually turns: one persisted index ([[graft.operators.Ann
    * .ivfIndex]] to scratch, the a12 production shape) probed at
    * nprobe 1, 2 and 4 against the same brute-force truth, each rung's
    * recall@3 on one row. `monotone_ok` pins the mathematical
    * invariant that makes the curve a safe tuning dial: more probes =
    * a candidate SUPERSET, and the top-3 of a superset can only gain
    * true-top-3 members (anything displacing a true-top-3 candidate
    * outranks it globally and is itself true-top-3) — so recall is
    * non-decreasing BY CONSTRUCTION, and a violation means the probe
    * routing or ranking broke, not that the data shifted. The oracle
    * replays assignment, all three probe depths, ranking, and the
    * monotone flag. Scale: the index builds ONCE (at 100 TB this gate
    * is why — re-assigning the corpus per nprobe experiment is the
    * anti-pattern); each probe reads only probed cells. */
  def a26NprobeCurve(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val truth = graft.Tables.stage(
      Ann.bruteForceTopK(qs, corpus, 3)
        .select(col("qid"), col("neighbor")), "graft-a26-truth")
    val idxDir = graft.Tables.scratchDir("graft-a26-idx")
    Ann.ivfIndex(corpus, centroids)
      .write.partitionBy("cid").mode("overwrite").parquet(idxDir)
    val postings = sp.read.parquet(idxDir)
      .withColumn("cid", col("cid").cast("long")) // partition-dir inference
    val curve = Seq(1, 2, 4).map { np =>
      val res = Ann.ivfTopKOnIndex(qs, postings, centroids, 3, np)
      truth.join(res.select(col("qid"), col("neighbor")),
          Seq("qid", "neighbor"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(np).as("nprobe"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"))
    }.reduce(_ union _)
    // 3-row result: the unpartitioned lag window is result-sized
    val w = org.apache.spark.sql.expressions.Window.orderBy("nprobe")
    curve.withColumn("monotone_ok",
        col("recall") >= coalesce(lag(col("recall"), 1).over(w),
          lit(-1.0)))
      .orderBy("nprobe")
  }

  val a26Sql: String = {
    def hitsCte(np: Int) =
      s"""h$np AS (SELECT count(*) AS hits FROM (
         |  SELECT qid, id FROM (
         |    SELECT p.id AS qid, c.id, ROW_NUMBER() OVER (PARTITION BY p.id
         |        ORDER BY ${cosSql("p.qvec", "c.vec")} DESC, c.id) AS rank
         |    FROM cells c JOIN asg p ON c.cid = p.cid
         |      AND p.id < 5 AND p.rn <= $np
         |    WHERE c.id <> p.id) WHERE rank <= 3) x
         |  WHERE EXISTS (SELECT 1 FROM truth t
         |    WHERE t.qid = x.qid AND t.neighbor = x.id))""".stripMargin
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |asg AS (SELECT e.vec_id AS id, e.embedding AS qvec,
       |          e.embedding AS vec, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
       |              c.cid) AS rn
       |        FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |truth AS (SELECT qid, id AS neighbor FROM (
       |  SELECT q.id AS qid, e.vec_id AS id,
       |    ROW_NUMBER() OVER (PARTITION BY q.id
       |      ORDER BY ${cosSql("q.qvec", "e.embedding")} DESC,
       |        e.vec_id) AS rank
       |  FROM embeddings e CROSS JOIN (SELECT DISTINCT id, qvec FROM asg
       |    WHERE id < 5) q
       |  WHERE e.vec_id <> q.id) WHERE rank <= 3),
       |${hitsCte(1)},
       |${hitsCte(2)},
       |${hitsCte(4)},
       |tt AS (SELECT count(*) AS n_truth FROM truth),
       |curve AS (
       |  SELECT 1 AS nprobe, h1.hits AS n_hits FROM h1
       |  UNION ALL SELECT 2, h2.hits FROM h2
       |  UNION ALL SELECT 4, h4.hits FROM h4)
       |SELECT nprobe, n_hits, tt.n_truth,
       |  round(n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  (round(n_hits::DOUBLE / tt.n_truth, 4) >= coalesce(
       |    lag(round(n_hits::DOUBLE / tt.n_truth, 4))
       |      OVER (ORDER BY nprobe), -1.0)) AS monotone_ok
       |FROM curve, tt ORDER BY nprobe""".stripMargin
  }

  /** Containment near-dup join ([[graft.operators.Dedup.containmentPairs]]):
    * 3-gram shingle-hash postings, df cap 50, containment >= 0.5, both
    * directions — the asymmetric quote/excerpt detector. The oracle
    * replays the capped posting self-join; division is the same double
    * op in both engines. */
  def d20Containment(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
        documents(sp, dir), col("doc_id"), col("text"),
        n = 3, dfCap = 50L, minCont = 0.5)
      .select(col("a_id"), col("b_id"), col("shared"), col("size_a"),
        round(col("containment"), 4).as("containment"))
      .orderBy("a_id", "b_id")

  val d20Sql: String =
    s"""WITH sh AS (SELECT doc_id, unnest(${shingleSql(Toks)}) AS s
       |  FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${h("s")} AS hh FROM sh),
       |rare AS (SELECT hh FROM hs GROUP BY hh HAVING count(*) <= 50),
       |keep AS (SELECT doc_id, hh FROM hs
       |  WHERE hh IN (SELECT hh FROM rare)),
       |sz AS (SELECT doc_id, count(*) AS n FROM keep GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    count(*) AS shared
       |  FROM keep a JOIN keep b
       |    ON a.hh = b.hh AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT a_id, b_id, shared, sz.n AS size_a,
       |  round(shared::DOUBLE / sz.n::DOUBLE, 4) AS containment
       |FROM pairs JOIN sz ON sz.doc_id = a_id
       |WHERE shared::DOUBLE / sz.n::DOUBLE >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** Deterministic epoch reshuffle + sharding — the training-data ordering
    * op: every epoch the corpus is re-permuted by a salted portable hash
    * (`ep1:` here; the epoch tag is the salt, so epoch 2 is a different
    * permutation with zero state carried over) and split into fixed shards,
    * each shard internally ordered by the same hash. Shard = hash mod
    * nShards, position = rank of (hash, doc_id) within the shard.
    *
    * Scale: shard count at 100 TB is chosen so one shard ≈ one output file
    * (corpus_tokens / shard_token_budget, i.e. thousands of shards), so the
    * per-shard window is bounded by construction and the whole reshuffle is
    * ONE hash-partitioned shuffle + in-partition sort — never a global
    * sort. The hash is engine-portable, so a resumed/re-run epoch produces
    * the identical order on any cluster size. */
  def t29EpochShuffle(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val keyed = documents(sp, dir).select(col("doc_id"),
      Hashing.portableHash32(
        concat(lit("ep1:"), col("doc_id").cast("string"))).as("__k"))
      .select(col("doc_id"), col("__k"),
        pmod(col("__k"), lit(nShards)).cast("int").as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("__k"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  val t29Sql: String =
    s"""WITH k AS (SELECT doc_id,
       |  ${h("'ep1:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents)
       |SELECT doc_id, CAST(k % 8 AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id)
       |    AS INT) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin

  /** HITS hubs & authorities ([[graft.operators.Graph.hitsCredits]]):
    * 2 rounds of the integer-credit, max-rescaled fixpoint over the
    * derived link graph; top 25 nodes by authority. Exact integer
    * arithmetic end-to-end, so the oracle's unrolled half-round CTEs
    * replay hash-for-hash. */
  def g6Hits(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.hitsCredits(linkEdges(sp, dir), rounds = 2)
      .orderBy(col("auth").desc, col("hub").desc, col("id")).limit(25)

  val g6Sql: String = {
    // one half-round: score[out] <- rescale(sum over edges of score[in])
    def half(in: String, out: String, joinOn: String, groupOn: String,
        v: String, pv: String): String =
      s"""${out}r AS (SELECT n.id, COALESCE(SUM(p.$pv), 0) AS $v
         |  FROM nodes n LEFT JOIN de ON de.$groupOn = n.id
         |  LEFT JOIN $in p ON p.id = de.$joinOn GROUP BY n.id),
         |$out AS (SELECT id, CAST($v * 1000000 //
         |  greatest((SELECT MAX($v) FROM ${out}r), 1) AS BIGINT) AS $v
         |  FROM ${out}r)""".stripMargin
    s"""WITH $linkEdgesSql,
       |de AS (SELECT DISTINCT src, dst FROM edges),
       |nodes AS (SELECT DISTINCT src AS id FROM de
       |          UNION SELECT DISTINCT dst FROM de),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
       |${half("h0", "a1", "src", "dst", "auth", "hub")},
       |${half("a1", "h1", "dst", "src", "hub", "auth")},
       |${half("h1", "a2", "src", "dst", "auth", "hub")},
       |${half("a2", "h2", "dst", "src", "hub", "auth")}
       |SELECT a2.id, a2.auth, h2.hub FROM a2 JOIN h2 ON a2.id = h2.id
       |ORDER BY auth DESC, hub DESC, a2.id LIMIT 25""".stripMargin
  }

  /** Filter-cascade telemetry — the attrition report a curation pipeline
    * publishes per source: how many docs survive each successive quality
    * rule (length ≥ 30 tokens, then punctuation ratio ≤ 0.08, then
    * stopword ratio ≥ 0.02 — t2's exact ratio arithmetic, so the oracle
    * replays bit-for-bit). ONE conditional-count aggregation pass per
    * source — the cascade is cumulative ANDs inside the same scan, not
    * one job per rule. */
  def t30QualityFunnel(sp: SparkSession, dir: String): DataFrame = {
    val d = documents(sp, dir)
    val r1 = Text.tokenCount(col("text")) >= 30
    val r2 = Text.punctRatio(col("text")) <= 0.08
    val r3 = Text.stopwordRatio(col("text")) >= 0.02
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(r1, 1)).as("pass_len"),
        count(when(r1 && r2, 1)).as("pass_len_punct"),
        count(when(r1 && r2 && r3, 1)).as("pass_all"))
      .select(col("source"), col("n_docs"), col("pass_len"),
        col("pass_len_punct"), col("pass_all"),
        round(col("pass_all").cast("double") / col("n_docs"), 4)
          .as("keep_rate"))
      .orderBy("source")
  }

  val t30Sql: String = {
    val r1 = s"len($Toks) >= 30"
    val r2 = s"$punctSql <= 0.08"
    val r3 = s"$stopSql >= 0.02"
    s"""SELECT source, count(*) AS n_docs,
       |  count(*) FILTER ($r1) AS pass_len,
       |  count(*) FILTER ($r1 AND $r2) AS pass_len_punct,
       |  count(*) FILTER ($r1 AND $r2 AND $r3) AS pass_all,
       |  round(count(*) FILTER ($r1 AND $r2 AND $r3)::DOUBLE / count(*), 4)
       |    AS keep_rate
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic over events.value:
    * 'click' events vs the rest — the distribution-shift screen between
    * a reference slice and a candidate slice. KS = max |F₁−F₂| over the
    * pooled support, computed EXACTLY: one aggregation reduces the corpus
    * to per-distinct-value counts (the value domain of a fixed-precision
    * metric is bounded — ~49k cells here — and stays bounded at 100 TB),
    * then cumulative sums run as a window over that domain-sized table,
    * never over the corpus. ECDF fractions are exact-integer ratios;
    * the max picks the first value attaining it for a deterministic
    * report row. */
  def p9KsDrift(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(sp, dir)
    val cells = ev.groupBy(col("value").as("v"))
      .agg(count(when(col("event_type") === "click", 1)).as("c1"),
        count(when(col("event_type") =!= "click", 1)).as("c2"))
    val tot = cells.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val ks = cells
      .select(col("v"), sum("c1").over(w).as("f1"), sum("c2").over(w).as("f2"))
      .crossJoin(broadcast(tot))
      .select(col("v"),
        abs(col("f1").cast("double") / col("n1") -
          col("f2").cast("double") / col("n2")).as("d"),
        col("n1"), col("n2"))
    ks.orderBy(col("d").desc, col("v")).limit(1)
      .select(round(col("d"), 6).as("ks"), col("v").as("at_value"),
        col("n1"), col("n2"))
  }

  val p9Sql: String =
    """WITH cells AS (SELECT value AS v,
      |    count(*) FILTER (event_type = 'click') AS c1,
      |    count(*) FILTER (event_type <> 'click') AS c2
      |  FROM events GROUP BY value),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2 FROM cells),
      |cum AS (SELECT v,
      |    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
      |    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
      |  FROM cells),
      |d AS (SELECT v, abs(f1::DOUBLE / n1 - f2::DOUBLE / n2) AS d, n1, n2
      |  FROM cum, tot)
      |SELECT round(d, 6) AS ks, v AS at_value, n1, n2 FROM d
      |ORDER BY d DESC, v LIMIT 1""".stripMargin

  /** p9's SCALE TWIN (the q11/q11b discipline): KS approximated on a
    * 64-bin equi-width reduction instead of the exact value domain — the
    * form that stays fixed-size when the metric has unbounded precision
    * (floats, latencies) and the p9 domain-table trick stops applying.
    * SELF-VERIFYING: |KS_exact − KS_binned| is bounded by the largest
    * single-bin mass of either distribution (coarsening an ECDF moves any
    * evaluation point at most one bin's worth of mass), and the gate
    * computes exact, binned, AND the bound, asserting the inequality —
    * so the approximation ships with its own error certificate. */
  def p9bKsBinned(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBins = 64
    val ev = events(sp, dir)
    val stats = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val b = lit(nBins.toDouble)
    val binned = ev.crossJoin(broadcast(stats))
      .select(least(floor((col("value") - col("mn")) * b /
          (col("mx") - col("mn"))), lit(nBins - 1.0)).cast("int").as("bin"),
        col("event_type"))
      .groupBy("bin")
      .agg(count(when(col("event_type") === "click", 1)).as("c1"),
        count(when(col("event_type") =!= "click", 1)).as("c2"))
    val tot = binned.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val ksb = binned
      .select(col("bin"), col("c1"), col("c2"),
        sum("c1").over(w).as("f1"), sum("c2").over(w).as("f2"))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("f1").cast("double") / col("n1") -
          col("f2").cast("double") / col("n2"))).as("ks_binned"),
        max(greatest(col("c1").cast("double") / col("n1"),
          col("c2").cast("double") / col("n2"))).as("bound"))
    val exact = p9KsDrift(sp, dir).select(col("ks").as("ks_exact"))
    ksb.crossJoin(exact)
      .select(col("ks_exact"), round(col("ks_binned"), 6).as("ks_binned"),
        round(col("bound"), 6).as("bound"),
        (abs(col("ks_binned") - col("ks_exact")) <= col("bound"))
          .as("within_bound"))
  }

  val p9bSql: String =
    s"""WITH st AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
       |bn AS (SELECT CAST(least(floor((value - mn) * 64.0 / (mx - mn)),
       |    63.0) AS INT) AS bin,
       |    count(*) FILTER (event_type = 'click') AS c1,
       |    count(*) FILTER (event_type <> 'click') AS c2
       |  FROM events, st WHERE value IS NOT NULL GROUP BY 1),
       |tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM bn),
       |cum AS (SELECT bin, c1, c2,
       |    SUM(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f1,
       |    SUM(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f2
       |  FROM bn),
       |kb AS (SELECT max(abs(f1::DOUBLE / n1 - f2::DOUBLE / n2))
       |    AS ks_binned,
       |    max(greatest(c1::DOUBLE / n1, c2::DOUBLE / n2)) AS bound
       |  FROM cum, tot),
       |ex AS (SELECT ks AS ks_exact FROM ($p9Sql)),
       |fin AS (SELECT ks_exact, ks_binned, bound,
       |    (abs(ks_binned - ks_exact) <= bound) AS within_bound
       |  FROM kb CROSS JOIN ex)
       |SELECT ks_exact, round(ks_binned, 6) AS ks_binned,
       |  round(bound, 6) AS bound, within_bound
       |FROM fin""".stripMargin

  /** Personalized PageRank / TrustRank
    * ([[graft.operators.Graph.personalizedPageRank]]): teleport restricted
    * to the g5 seed set (link-graph nodes ≡ 0 mod 37), 3 iterations; top
    * 25 by propagated trust. Exact integer credits, so the oracle's
    * unrolled CTEs replay hash-for-hash; pages unreachable from the seeds
    * hold credit 0. */
  def g8TrustRank(sp: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(sp, dir)
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 37 === 0)
    graft.operators.Graph.personalizedPageRank(e, seeds, iters = 3)
      .orderBy(col("cr").desc, col("id")).limit(25)
  }

  val g8Sql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (SELECT n.id, CAST(n.t + COALESCE(SUM((c.cr * 85) // (100 * e.d)), 0) AS BIGINT) AS cr
         |  FROM nodes n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN $prev c ON c.id = e.src GROUP BY n.id, n.t)""".stripMargin
    s"""WITH $linkEdgesSql,
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, deg.d FROM edges
       |      JOIN deg USING (src)),
       |seeds AS (SELECT DISTINCT src AS id FROM edges WHERE src % 37 = 0),
       |nu AS (SELECT DISTINCT src AS id FROM edges
       |       UNION SELECT DISTINCT dst FROM edges),
       |nodes AS (SELECT id, CASE WHEN id IN (SELECT id FROM seeds)
       |    THEN CAST(150000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS t
       |  FROM nu),
       |c0 AS (SELECT id, CASE WHEN t > 0 THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS cr FROM nodes),
       |${round("c0", "c1")},
       |${round("c1", "c2")},
       |${round("c2", "c3")}
       |SELECT id, cr FROM c3 ORDER BY cr DESC, id LIMIT 25""".stripMargin
  }

  /** k-core peeling ([[graft.operators.Graph.kCore]]): 3 rounds at k=3
    * over the derived link graph — survivors of the dense core with
    * their final induced degree. The oracle unrolls the same peel
    * schedule (degree → filter → induced subgraph, three times, plus the
    * final filtered degree pass). */
  def g7Kcore(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(linkEdges(sp, dir), k = 3, rounds = 3)
      .orderBy("id")

  val g7Sql: String = {
    def peel(dPrev: String, a: String, dNext: String): String =
      s"""$a AS (SELECT id FROM $dPrev WHERE d >= 3),
         |$dNext AS (SELECT u AS id, count(*) AS d FROM und
         |  WHERE u IN (SELECT id FROM $a) AND v IN (SELECT id FROM $a)
         |  GROUP BY u)""".stripMargin
    s"""WITH $linkEdgesSql,
       |und AS (SELECT DISTINCT src AS u, dst AS v FROM (
       |    SELECT src, dst FROM edges
       |    UNION ALL SELECT dst, src FROM edges) s WHERE src <> dst),
       |d1 AS (SELECT u AS id, count(*) AS d FROM und GROUP BY u),
       |${peel("d1", "a1", "d2")},
       |${peel("d2", "a2", "d3")},
       |${peel("d3", "a3", "d4")}
       |SELECT id, d AS deg FROM d4 WHERE d >= 3 ORDER BY id""".stripMargin
  }

  // ======================= registry =======================

  // ================= round-10 additions =================

  /** Late-data ACCOUNTING under the watermark — the streaming semantics
    * this suite had not yet pinned: rows arriving after the watermark
    * has passed their window are DROPPED, not aggregated. Three input
    * files with controlled modification times force three deterministic
    * micro-batches (the file source orders by mtime). The subtlety this
    * gate encodes: Spark filters late input against the watermark the
    * PREVIOUS batch ran with (the lenient "late events" watermark), so
    * a late file arriving one batch after the watermark-advancing data
    * is still aggregated — it takes a full batch in between to arm the
    * filter. Hence: batch 0 = day 3+ (advances the watermark to
    * max(ts) − 2h at its end), batch 1 = day 2 (runs WITH that
    * watermark, arming late filtering for the next batch), batch 2 =
    * day 1 — now entirely below the armed late-events watermark, so
    * the windowed aggregate must discard ALL of it. The oracle
    * aggregates only the on-time slices; a hash match proves the drop
    * (leaked day-1 windows would add 113 rows). The watermark is also
    * what BOUNDS state at scale — without it every window lives
    * forever — and this gate is the eviction-correctness proof for
    * that bound. */
  def s17LateData(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir).select(col("ts"), col("event_type"))
    val day1End = "2024-01-02 00:00:00"
    val day2End = "2024-01-03 00:00:00"
    val inDir = graft.Tables.scratchDir("graft-s17-in")
    new java.io.File(inDir).mkdirs()
    // one parquet FILE per slice, mtime-ordered: on-time, arm, late
    def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = graft.Tables.scratchDir(s"graft-s17-tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // fail fast if the filesystem rejects mtime updates: the gate's
      // three-file micro-batch ordering depends on them, and a silent
      // rejection degenerates into a nondeterministic late-data drop
      require(dst.setLastModified(mtime),
        s"setLastModified failed for $dst — filesystem does not support " +
          "mtime updates; s17's micro-batch ordering would be undefined")
    }
    val now = System.currentTimeMillis()
    writeOne(ev.filter(col("ts") >= day2End), "a-ontime", now - 120000)
    writeOne(ev.filter(col("ts") >= day1End && col("ts") < day2End),
      "b-arm", now - 60000)
    writeOne(ev.filter(col("ts") < day1End), "c-late", now)
    val name = "s17_ld_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val agg = sp.readStream.schema("ts TIMESTAMP, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    graft.streaming.StreamOps.runToMemory(sp, agg, name, "update")
      .groupBy(col("window.start").as("wstart"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy("wstart", "event_type")
  }

  val s17Sql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR,
      |    make_timestamp(epoch_ns(ts) // 1000)) AS wstart,
      |  event_type, COUNT(*) AS n_events
      |FROM events
      |WHERE make_timestamp(epoch_ns(ts) // 1000)
      |  >= TIMESTAMP '2024-01-02 00:00:00'
      |GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin

  /** Top collocations by PMI — pointwise mutual information over corpus
    * bigrams, the classic multi-word-expression / collocation extractor
    * ("new york" scores high because its joint count dwarfs what its
    * unigram frequencies predict). Transcendental-free by design: PMI =
    * log(N·c(xy)/(c(x)c(y))) is monotone in the RATIO, so ranking and
    * output use the exact-integer ratio N·c(xy)/(c(x)·c(y)) through one
    * IEEE division — both engines replay it bit-for-bit (the t20/p5
    * discipline). Bigrams come from the one-pass codegen'd
    * [[graft.functions.ShingleSetExpr.shingles]] kernel (t15's), counts
    * are map-side-partial hash aggs, and the unigram model joins on the
    * token key — vocabulary-sized, a shuffle join, never broadcast at
    * corpus scale. Support floor c(xy) ≥ 5 bounds the ranked set. */
  def t31PmiCollocations(sp: SparkSession, dir: String): DataFrame = {
    val uni = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).as("__n"))
    val bi = documents(sp, dir)
      .select(explode(
        graft.functions.ShingleSetExpr.shingles(col("text"), 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    bi.join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("cxy"), col("cx"), col("cy"),
        round((col("cxy") * col("__n")).cast("double") /
          (col("cx") * col("cy")).cast("double"), 6).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("bigram")).limit(25)
  }

  val t31Sql: String =
    s"""WITH u AS (SELECT unnest($Toks) AS w FROM documents),
       |uni AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
       |tot AS (SELECT SUM(c1) AS n FROM uni),
       |bi AS (
       |  SELECT unnest(list_transform(range(1, len($Toks)),
       |    i -> string_split(text, ' ')[i] || ' ' ||
       |         string_split(text, ' ')[i + 1])) AS bigram
       |  FROM documents),
       |c AS (SELECT bigram, count(*) AS cxy FROM bi GROUP BY bigram
       |      HAVING count(*) >= 5),
       |c2 AS (SELECT bigram, cxy, split_part(bigram, ' ', 1) AS w1,
       |       split_part(bigram, ' ', 2) AS w2 FROM c)
       |SELECT bigram, cxy, a.c1 AS cx, b.c1 AS cy,
       |  round(CAST(cxy * tot.n AS DOUBLE) /
       |        CAST(a.c1 * b.c1 AS DOUBLE), 6) AS pmi_ratio
       |FROM c2 JOIN uni a ON a.w = c2.w1 JOIN uni b ON b.w = c2.w2
       |CROSS JOIN tot
       |ORDER BY pmi_ratio DESC, bigram LIMIT 25""".stripMargin

  /** Sentence segmentation + per-document sentence statistics — the
    * document-structure profile (sentence count, length distribution)
    * quality filters cut on (Gopher's "mean sentence length" rules).
    * Sentences split on `[.!?]+` runs — a regex both engines' dialects
    * treat identically — with whitespace-only segments dropped; counts
    * and char sums are exact integers, the mean is ONE IEEE division.
    * Pure per-row work: explode + re-aggregate on the doc key, partial
    * aggs all the way down, nothing corpus-wide. */
  def t32SentenceStats(sp: SparkSession, dir: String): DataFrame = {
    val segs = documents(sp, dir)
      .select(col("doc_id"),
        explode(split(col("text"), "[.!?]+")).as("seg"))
      .select(col("doc_id"), trim(col("seg")).as("seg"))
      .filter(length(col("seg")) > 0)
    segs
      .select(col("doc_id"), length(col("seg")).as("n_chars"),
        size(split(col("seg"), " ")).as("n_words"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_sentences"),
        sum(col("n_chars")).as("sent_chars"),
        max(col("n_words")).cast("int").as("max_words"),
        round(sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double"), 4).as("avg_chars"))
      .orderBy("doc_id")
  }

  val t32Sql: String =
    """WITH s AS (SELECT doc_id,
      |    trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS seg
      |  FROM documents),
      |f AS (SELECT doc_id, length(seg) AS n_chars,
      |    len(string_split(seg, ' ')) AS n_words
      |  FROM s WHERE length(seg) > 0)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_sentences,
      |  CAST(SUM(n_chars) AS BIGINT) AS sent_chars,
      |  CAST(MAX(n_words) AS INT) AS max_words,
      |  round(CAST(SUM(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
      |    AS avg_chars
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Hamming-distance similarity search over 64-bit SimHash sketches —
    * the binary-fingerprint ANN family (d4 produces the sketch; this
    * searches it): every query doc's top-5 nearest corpus docs by
    * `bit_count(xor(sh_a, sh_b))`, the 1-instruction distance that makes
    * binary sketches the cheapest large-scale near-dup/similarity index.
    * The query side (doc_id % 100 = 0) BROADCASTS — it's the small side
    * by construction — and the corpus side streams through one codegen'd
    * projection; per-query top-5 aggregates with the k-capped
    * [[graft.functions.TopKPairsAgg]] (rank = exact integer distance,
    * ties by doc id), so the shuffle carries ≤ 5 pairs per partition per
    * query and NO corpus-sized window sort exists anywhere. Distances
    * are exact integers; the oracle replays them bit-for-bit. */
  def a15HammingTopK(sp: SparkSession, dir: String): DataFrame = {
    // materialize the sketch once: corpus side and query side both read
    // it (otherwise each branch re-runs the tokenize+md5 sketch scan)
    val sh = graft.Tables.stage(
      documents(sp, dir).select(col("doc_id"),
        Hashing.simhash64(Text.tokens(col("text"))).as("sh")),
      "graft-a15-sh")
    val q = sh.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("sh").as("qsh"))
    val topk = graft.functions.TopKPairsAgg.topKPairs(5)
    sh.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        bit_count(col("sh").bitwiseXOR(col("qsh"))).cast("long").as("dist"))
      .groupBy(col("qid"))
      .agg(topk(col("dist"), col("doc_id")).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e._2").as("doc_id"),
        col("__e._1").cast("int").as("dist"))
      .orderBy(col("qid"), col("dist"), col("doc_id"))
  }

  val a15Sql: String =
    s"""WITH $simhash64Cte,
       |q AS (SELECT doc_id AS qid, sh AS qsh FROM sh WHERE doc_id % 100 = 0),
       |d AS (SELECT q.qid, s.doc_id, bit_count(xor(s.sh, q.qsh)) AS dist
       |  FROM sh s, q WHERE s.doc_id <> q.qid),
       |r AS (SELECT qid, doc_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, doc_id) AS rn
       |  FROM d)
       |SELECT qid, doc_id, CAST(dist AS INT) AS dist
       |FROM r WHERE rn <= 5 ORDER BY qid, dist, doc_id""".stripMargin

  /** Scene-cut detection over the AVI frame walk ([[Multimodal
    * .sampleFrames]] at stride 1, m3's REAL container decode): a cut is
    * a consecutive-frame checksum jump ≥ 500 — the frame-difference
    * primitive of video curation (shot segmentation, keyframe pick,
    * static-clip drop). The lag window is PER DOCUMENT over ≤ 6 frames,
    * so the window never sees corpus scale; everything else is exact
    * integer arithmetic the oracle replays from the document bytes. */
  def m7SceneCuts(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 2), frameSize = 100)
    val frames = Multimodal.sampleFrames(sp, media, stride = 1)
      .map(r => (r.doc_id, r.frame_idx, Multimodal.frameChecksum(r.frame)))
      .toDF("doc_id", "frame_idx", "checksum")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames.withColumn("prev", lag(col("checksum"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("diff", abs(col("checksum") - col("prev")))
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) + 1).cast("int").as("n_frames"),
        sum(when(col("diff") >= 500, 1).otherwise(0)).cast("int")
          .as("n_cuts"),
        max(col("diff")).as("max_diff"),
        coalesce(min(when(col("diff") >= 500, col("frame_idx"))), lit(-1))
          .cast("int").as("first_cut"))
      .orderBy("doc_id")
  }

  val m7Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 2),
       |p AS (SELECT doc_id, hx, len,
       |    ((3 * (len % 7 + 1) + 3) // 4) * 4 * (doc_id % 4 + 1) AS fb,
       |    doc_id % 5 + 2 AS nf
       |  FROM e),
       |s AS (SELECT p.doc_id, CAST(fr.f AS INT) AS fi,
       |    CAST(SUM(('0x' || substr(p.hx,
       |      2 * ((fr.f + i.i) % p.len) + 1, 2))::BIGINT) AS BIGINT) AS ck
       |  FROM p, range(0, 6) fr(f), range(0, 96) i(i)
       |  WHERE fr.f < p.nf AND i.i < p.fb
       |  GROUP BY 1, 2),
       |d AS (SELECT doc_id, fi,
       |    abs(ck - lag(ck) OVER (PARTITION BY doc_id ORDER BY fi)) AS diff
       |  FROM s)
       |SELECT doc_id, CAST(count(*) + 1 AS INT) AS n_frames,
       |  CAST(SUM(CASE WHEN diff >= 500 THEN 1 ELSE 0 END) AS INT)
       |    AS n_cuts,
       |  CAST(MAX(diff) AS BIGINT) AS max_diff,
       |  CAST(COALESCE(MIN(CASE WHEN diff >= 500 THEN fi END), -1) AS INT)
       |    AS first_cut
       |FROM d WHERE diff IS NOT NULL
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Link prediction ([[graft.operators.Graph.commonNeighbors]]) on the
    * derived link graph: top 25 non-adjacent pairs by shared-neighbor
    * count, with the exact-integer Jaccard overlap. Wedge centers above
    * degree 16 are excluded from candidate generation (the hub cap that
    * bounds the d² pair blow-up at web scale — exercised live on this
    * graph's hubs); true degrees still feed the Jaccard. */
  def g9LinkPredict(sp: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.commonNeighbors(linkEdges(sp, dir),
        maxCenterDegree = 16)
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        round(col("jac"), 6).as("jac"))
      .orderBy(col("cn").desc, col("u"), col("v")).limit(25)

  val g9Sql: String =
    s"""WITH $linkEdgesSql,
       |e2 AS (SELECT src, dst FROM edges WHERE src <> dst),
       |sym AS (SELECT DISTINCT c, n FROM (
       |  SELECT src AS c, dst AS n FROM e2
       |  UNION ALL SELECT dst, src FROM e2)),
       |deg AS (SELECT c, COUNT(*) AS d FROM sym GROUP BY c),
       |ctr AS (SELECT sym.c, sym.n FROM sym JOIN deg USING (c)
       |        WHERE deg.d <= 16),
       |pr AS (SELECT s1.n AS u, s2.n AS v, COUNT(*) AS cn
       |  FROM ctr s1 JOIN ctr s2 ON s1.c = s2.c AND s1.n < s2.n
       |  GROUP BY 1, 2),
       |na AS (SELECT pr.u, pr.v, pr.cn FROM pr
       |  WHERE NOT EXISTS (SELECT 1 FROM sym
       |                    WHERE sym.c = pr.u AND sym.n = pr.v))
       |SELECT na.u, na.v, na.cn, du.d AS du, dv.d AS dv,
       |  round(CAST(na.cn AS DOUBLE) /
       |        CAST(du.d + dv.d - na.cn AS DOUBLE), 6) AS jac
       |FROM na JOIN deg du ON du.c = na.u JOIN deg dv ON dv.c = na.v
       |ORDER BY na.cn DESC, na.u, na.v LIMIT 25""".stripMargin

  /** Stream-stream FULL OUTER join gate ([[graft.streaming.StreamOps
    * .streamStreamFullOuterJoin]]) — the last cell of the streaming join
    * matrix (s4 inner, s12 left outer, s14 semi, s16 anti): views and
    * clicks of the same user within [ts, ts+6h] match; views that never
    * convert AND clicks with no preceding view each null-extend exactly
    * once when the watermark proves no match can still arrive. The
    * oracle replays both emission horizons: unmatched views need both
    * watermarks past ts+6h (the s12 rule), unmatched clicks only past
    * their own rts (the `rts >= ts` bound means no future view can
    * match them) — so the two null wings have DIFFERENT horizons, which
    * is precisely the semantics this gate pins. */
  def s18StreamFullOuter(sp: SparkSession, dir: String): DataFrame = {
    val name = "s18_foj_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    def side(t: String) = graft.streaming.StreamOps.eventsStream(sp, dir)
      .filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("view_event"))
    val clicks = side("click")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("click_event"))
    val joined = graft.streaming.StreamOps.streamStreamFullOuterJoin(
      views, clicks, watermark = "1 hour", maxDelay = "6 hours")
    graft.streaming.StreamOps.runToMemory(sp, joined, name, "append")
      .select(coalesce(col("key"), col("rkey")).as("user_id"),
        col("view_event"), col("click_event"))
      .orderBy("user_id", "view_event", "click_event")
  }

  val s18Sql: String =
    """WITH ev AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |                   event_id, event_type FROM events),
      |v AS (SELECT user_id, ts, event_id AS view_event FROM ev
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts, event_id AS click_event FROM ev
      |  WHERE event_type = 'click'),
      |wm AS (SELECT LEAST((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
      |  - INTERVAL 1 HOUR AS horizon)
      |SELECT v.user_id AS user_id, v.view_event, c.click_event
      |FROM v JOIN c ON c.user_id = v.user_id
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
      |UNION ALL
      |SELECT v.user_id, v.view_event, NULL
      |FROM v CROSS JOIN wm
      |WHERE v.ts + INTERVAL 6 HOUR < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM c
      |    WHERE c.user_id = v.user_id AND c.ts >= v.ts
      |      AND c.ts <= v.ts + INTERVAL 6 HOUR)
      |UNION ALL
      |SELECT c.user_id, NULL, c.click_event
      |FROM c CROSS JOIN wm
      |WHERE c.ts < wm.horizon
      |  AND NOT EXISTS (SELECT 1 FROM v
      |    WHERE v.user_id = c.user_id AND c.ts >= v.ts
      |      AND c.ts <= v.ts + INTERVAL 6 HOUR)
      |ORDER BY user_id, view_event, click_event""".stripMargin

  /** MESSAGE-BUS streaming XML entry (SURVEY §7.1 item 4's missing half):
    * the compiled DSL bound over a Kafka-shaped `value` STRING column —
    * `parser.parse(col("value"))` on a [[org.apache.spark.sql.execution
    * .streaming.runtime.MemoryStream]] of XML messages — instead of the
    * file source every other streaming gate uses. No broker exists in
    * this sandbox; MemoryStream is the honest proxy (same unbounded
    * `value`-column contract as `spark.readStream.format("kafka")
    * .select(col("value").cast("string"))` — swap the source line and the
    * rest of the query is byte-identical). The reference's forward-only
    * single-pass contract (Parser.cs:119-208) over a non-file transport.
    *
    * Payloads are one XML message per event (attr + three child elements,
    * decimal-rendered value, epoch-micros timestamp), fed in TWO
    * ts-ordered producer batches so the watermark genuinely advances
    * across micro-batches, then two arm messages 30/31 days past the
    * corpus push the watermark over every real window: APPEND mode emits
    * each finalized window exactly once, so the memory sink IS the final
    * answer with no per-batch rematerialization (arm rows are filtered
    * from the batch readout). The driver-side
    * collect below is the PRODUCER side of the bus proxy — test harness,
    * not query plan; the streaming query itself is fully distributed.
    * The producer feed is a deterministic 1/16 slice (`event_id % 16`,
    * x13's sampling precedent, mirrored in the oracle) so the driver
    * never materializes the corpus — a semantics pin does not need 100k
    * messages — and the parse output is repartitioned so the stateful
    * agg is not fed from MemoryStream's single partition.
    * Oracle: the same hourly aggregate straight off the events table. */
  def s19StreamXmlBus(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val ev = events(sp, dir).filter(col("event_id") % 16 === 0)
    val payload = concat(
      lit("<msg u='"), col("user_id").cast("string"), lit("'><t>"),
      unix_micros(col("ts")).cast("string"), lit("</t><k>"),
      col("event_type"), lit("</k><v>"),
      dec(col("value")).cast("string"), lit("</v></msg>"))
    val rows = ev.select(payload.as("value"), unix_micros(col("ts"))
      .as("tmicros")).orderBy("tmicros").collect()
    require(rows.nonEmpty,
      "s19: the 1/16 event_id sample is empty — fixture too small or " +
        "filtered; the bus needs at least one real event to arm watermarks")
    val msgs = rows.map(_.getString(0))
    // arm offset from the SAMPLE's max ts (only sampled events are on the
    // bus, so their max bounds every real window) — one producer scan
    val armTs = rows.last.getLong(1) + 30L * 24 * 3600 * 1000000
    val arm = s"<msg u='0'><t>$armTs</t><k>arm</k><v>0</v></msg>"
    val arm2 =
      s"<msg u='0'><t>${armTs + 86400000000L}</t><k>arm</k><v>0</v></msg>"
    val parser = graft.xml.XmlParser.struct("msg") { a =>
      struct(a.attribute("u").cast("long").as("user_id"),
        a.str("t").cast("long").as("tmicros"),
        a.str("k").as("event_type"),
        a.nullDecimal("v")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
    }
    val in = MemoryStream[String]
    val agg = in.toDF().toDF("value")
      .repartition(8) // spread the bus feed before the per-row parse
      .select(parser.parse(col("value")).as("p"))
      .select(timestamp_micros(col("p.tmicros")).as("ts"),
        col("p.event_type").as("event_type"), col("p.v").as("v"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), asDouble(sum(col("v")))
        .as("sum_value"))
    val name = "s19_bus_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // pin stateful shuffle partitions like StreamOps.runToMemory: the
    // count is frozen into the stream at start, AQE never coalesces
    // streaming shuffles, and 32 state stores x 5 micro-batches is pure
    // per-partition commit overhead at this input size
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    sp.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamOps.StatePartitions)
    try {
      val q = agg.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        val slice = math.max(1, (msgs.length + 1) / 2)
        msgs.grouped(slice).foreach { s =>
          in.addData(s.toIndexedSeq); q.processAllAvailable()
        }
        // TWO arm batches: the watermark derived from a batch's max event
        // time only governs the NEXT batch, so arm #1 advances it past all
        // real windows and arm #2 runs under that watermark and flushes
        // them (same reason the s6 spec needs its third batch)
        in.addData(arm); q.processAllAvailable()
        in.addData(arm2); q.processAllAvailable()
      } finally q.stop()
    } finally sp.conf.set("spark.sql.shuffle.partitions", prev)
    sp.table(name)
      .filter(col("event_type") =!= "arm") // arm #1's window emits at arm #2
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  val s19Sql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, make_timestamp(epoch_ns(ts) // 1000)) AS wstart,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 16 = 0
      |GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin

  /** Wildcard-glob + tag-capture + first-wins ALTERNATIVES on the
    * STREAMING path — x3/x4's semantics (Test1.cs:187-209) re-run under
    * micro-batch re-evaluation. s5 already streams a `v_*` glob; this
    * gate adds the two remaining DSL capture shapes: the `tag` accessor
    * inside an array bind (child names are DATA — `q_<returnflag>` —
    * recovered via glob + Tag()) and a computed alternatives column
    * (`coalesce(item1, item2*10)`) whose member expressions re-read the
    * same per-row parse from separate null-guard branches. A streaming
    * micro-batch re-plans and re-evaluates that projection per batch, so
    * per-row state leaking across rows/batches would corrupt exactly this
    * shape first. Lineitems are written as XML text shards
    * and STREAMED back through the `graft-xml` FileFormat (split-based
    * reads), aggregated per recovered tag in complete mode; the oracle
    * computes the same aggregate straight off lineitem. */
  def s20StreamXmlTag(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val even = (col("l_linenumber") % 2) === 0
    val xml = concat(
      lit("<rec><vals><q_"), col("l_returnflag"), lit(">"),
      dec(col("l_quantity")).cast("string"),
      lit("</q_"), col("l_returnflag"), lit("></vals>"),
      when(even, concat(lit("<item1>"), col("l_linenumber").cast("string"),
        lit("</item1>")))
        .otherwise(concat(lit("<item2>"),
          col("l_linenumber").cast("string"), lit("</item2>"))),
      lit("</rec>"))
    val outDir = graft.Tables.scratchDir("graft-s20")
    spread(li.select(xml.as("value"))).write.mode("overwrite").text(outDir)
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(
        a.array("vals") { c =>
          struct(c.tag.as("tag"),
            c.nullDecimal("q_*")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("qty"))
        }.as("vals"),
        coalesce(a.nullInt("item1"), a.nullInt("item2") * 10).as("alt"))
    }
    val name = "s20_tag_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val stream = parser.readStream(sp, outDir)
      .select(get(col("parsed.vals"), lit(0)).as("v"),
        col("parsed.alt").as("alt"))
      .select(col("v.tag").as("tag"), col("v.qty").as("qty"), col("alt"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n_items"),
        asDouble(sum(col("qty"))).as("sum_qty"),
        sum(col("alt")).cast("long").as("sum_alt"))
    graft.streaming.StreamOps.runToMemory(sp, stream, name, "complete")
      .orderBy("tag")
  }

  val s20Sql: String =
    """SELECT 'q_' || l_returnflag AS tag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN l_linenumber
      |                ELSE l_linenumber * 10 END) AS BIGINT) AS sum_alt
      |FROM lineitem GROUP BY tag ORDER BY tag""".stripMargin

  /** STREAMING sketch maintenance — the t17 count-min sketch kept as
    * streaming state: user-activity heavy hitters where the CMS is a
    * GLOBAL streaming aggregate whose UDAF buffer lives in the state
    * store and absorbs each micro-batch's partials. Three input shards
    * paced one file per trigger make the merge genuinely incremental,
    * and because CMS merge is commutative/associative counter addition,
    * the gate asserts the strongest possible property: the streaming
    * sketch's SERIALIZED BYTES equal the batch sketch's
    * (`stream_eq_batch`) — incremental == rebuild, the a12 maintenance
    * certificate applied to sketch state. The exact top-10 users probe
    * the streaming sketch under the CMS invariant est ∈
    * [exact, exact + eps·N] (never undercounts, bounded overcount).
    * Exact counts hash-match DuckDB; a sketch regression flips a boolean
    * and fails the hash. */
  def s21StreamCms(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir).select(col("user_id").cast("string").as("u"))
    val inDir = graft.Tables.scratchDir("graft-s21-in")
    ev.repartition(3).write.mode("overwrite").parquet(inDir)
    val cms = graft.functions.CmsAgg.cmsSketch(1e-4, 0.99, 42)
    val name = "s21_cms_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val stream = sp.readStream.schema("u STRING")
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .agg(cms(col("u")).as("sk"))
    val skStream = graft.streaming.StreamOps
      .runToMemory(sp, stream, name, "complete")
      .head().getAs[Array[Byte]]("sk")
    val skBatch = ev.agg(cms(col("u")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val sketchesEqual = java.util.Arrays.equals(skStream, skBatch)
    val totals = ev.agg(count(lit(1)).as("n_total"))
    ev.groupBy(col("u")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("u"))
      .limit(10)
      .crossJoin(broadcast(totals))
      .select(col("u"), col("exact_cnt"),
        (graft.functions.CmsEstimateExpr.cms_estimate(col("u"), skStream)
          .between(col("exact_cnt"),
            col("exact_cnt") + ceil(col("n_total") * 1e-4)))
          .as("est_ok"),
        lit(sketchesEqual).as("stream_eq_batch"))
      .orderBy(col("exact_cnt").desc, col("u"))
  }

  val s21Sql: String =
    """SELECT CAST(user_id AS VARCHAR) AS u, count(*) AS exact_cnt,
      |  TRUE AS est_ok, TRUE AS stream_eq_batch
      |FROM events GROUP BY u
      |ORDER BY exact_cnt DESC, u LIMIT 10""".stripMargin

  /** Zipf rank–frequency profile: the top-30 corpus tokens with their
    * rank, exact count, frequency ratio to the top token, and the
    * rank×count product (constant under an ideal Zipf law — the
    * one-glance diagnostic for tokenizer health and boilerplate
    * contamination: a flat head means duplicated template text, a
    * collapsed tail means over-aggressive normalization). Counts are one
    * vocab-sized hash agg; the rank window runs on the 30-row top-k
    * frame, never the vocabulary. */
  def t33ZipfProfile(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents(sp, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("w")).limit(30)
    val f1 = top.agg(max(col("cnt")).as("__f1"))
    val w = Window.orderBy(col("cnt").desc, col("w")) // 30-row frame
    top.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(f1))
      .select(col("rank"), col("w"), col("cnt"),
        round(col("__f1").cast("double") / col("cnt").cast("double"), 6)
          .as("ratio_to_top"),
        (col("rank") * col("cnt")).as("zipf_product"))
      .orderBy("rank")
  }

  val t33Sql: String =
    s"""WITH u AS (SELECT unnest($Toks) AS w FROM documents),
       |c AS (SELECT w, count(*) AS cnt FROM u GROUP BY w),
       |t AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 30),
       |r AS (SELECT w, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM t),
       |f AS (SELECT MAX(cnt) AS f1 FROM t)
       |SELECT CAST(rank AS INT) AS rank, w, cnt,
       |  round(CAST(f1 AS DOUBLE) / CAST(cnt AS DOUBLE), 6)
       |    AS ratio_to_top,
       |  CAST(rank * cnt AS BIGINT) AS zipf_product
       |FROM r, f ORDER BY rank""".stripMargin

  /** Gini concentration of event value per event type — the inequality
    * screen of a traffic/revenue profile (one whale user vs uniform
    * spread produce the same SUM; they do not produce the same Gini).
    * Exact-integer discipline: values integerize to cents
    * (`round(x*100)`, the shared double→int step), the per-type rank is
    * a window ordered by the total order (cents, event_id) — tie order
    * cannot change Σi·xᵢ because tied values commute — and Gini =
    * (2Σi·xᵢ − (n+1)Σx) / (nΣx) divides two exact BIGINTs in one IEEE
    * op. The window partitions by event_type: per-group state, the
    * standard distributed shape (upgrade the sums to DECIMAL(38,0) past
    * ~10⁹ rows·cents per group). */
  def p12Gini(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(sp, dir).select(col("event_type"), col("event_id"),
      (dec(col("value")) * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    ev.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("i") * col("cents")).as("__sic"))
      .select(col("event_type"), col("n"), col("sum_cents"),
        round((lit(2L) * col("__sic") - (col("n") + 1) * col("sum_cents"))
          .cast("double") /
          (col("n") * col("sum_cents")).cast("double"), 6).as("gini"))
      .orderBy("event_type")
  }

  val p12Sql: String =
    """WITH t AS (SELECT event_type, event_id,
      |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT event_type, cents,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS BIGINT) AS i FROM t),
      |g AS (SELECT event_type, COUNT(*) AS n, SUM(cents) AS sum_cents,
      |    SUM(i * cents) AS sic FROM r GROUP BY event_type)
      |SELECT event_type, n, CAST(sum_cents AS BIGINT) AS sum_cents,
      |  round(CAST(2*sic - (n+1)*sum_cents AS DOUBLE) /
      |        CAST(n*sum_cents AS DOUBLE), 6) AS gini
      |FROM g ORDER BY event_type""".stripMargin

  /** Maximum-inner-product search ([[graft.operators.Ann.mipsTopK]]):
    * every 50th vector queries the corpus for its top-5 by RAW dot
    * product — the recommender/two-tower retrieval order, which
    * genuinely differs from a1's cosine (magnitude carries signal). The
    * spec proves the norm-augmentation reduction ([[graft.operators
    * .Ann.augmentMips]]) reproduces this exact ranking through a cosine
    * index — the 100 TB path. */
  def a16Mips(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    Ann.mipsTopK(qs, corpus, 5).orderBy("qid", "rank")
  }

  val a16Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |s AS (SELECT q.qid, e.vec_id AS id,
       |    ${dotSql("q.qvec", "e.embedding")} AS ip
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |r AS (SELECT qid, id, ip, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY ip DESC, id) AS rank FROM s)
       |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor,
       |  round(ip, 4) AS ip
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** INDEXED MIPS — the a16↔cosine-index reduction run for real: corpus
    * and queries embed through [[graft.operators.Ann.augmentMips]]
    * (corpus → [x, √(M²−‖x‖²)], query → [q, 0]; M² is ONE scalar
    * all-reduce), then the stock cosine IVF ([[Ann.ivfTopK]], every
    * 100th augmented vector as centroid, nprobe 3) searches the
    * augmented space — no MIPS-specific index code exists or is needed,
    * which is the entire point of the reduction. Recall@5 against a16's
    * exact inner-product truth is the gate: the oracle replays the
    * augmentation, the cell assignment, the probe choice and the ADC
    * ranking list-for-list in DuckDB and applies the same floor. */
  def a17MipsIvf(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    val corpus = e.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    val m2 = corpus
      .agg(max(Vectors.dot(col("vec"), col("vec")))).collect()(0)
      .getDouble(0)
    val aCorpus = Ann.augmentMips(corpus, "vec", m2, isQuery = false)
    val aQueries = Ann.augmentMips(
      e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qvec", m2, isQuery = true)
    val cents = aCorpus.filter(col("id") % 100 === 0)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val found = Ann.ivfTopK(aQueries, aCorpus, cents, k = 5, nprobe = 3)
      .select(col("qid"), col("neighbor"))
    val truth = graft.Tables.stage(
      a16Mips(sp, dir).select(col("qid"), col("neighbor")),
      "graft-a17-truth")
    truth.join(found, Seq("qid", "neighbor"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(col("n_hits"), col("n_truth"),
        round(col("n_hits").cast("double") / col("n_truth"), 4)
          .as("recall"),
        (col("n_hits").cast("double") / col("n_truth") >= 0.6)
          .as("recall_ok"))
  }

  val a17Sql: String = {
    val dd = dotSql("e.embedding", "e.embedding")
    s"""WITH m2 AS (SELECT MAX($dd) AS m2 FROM embeddings e),
       |av AS (SELECT e.vec_id AS id,
       |    list_append(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
       |      sqrt(m2.m2 - $dd)) AS vec
       |  FROM embeddings e, m2),
       |aq AS (SELECT e.vec_id AS qid,
       |    list_append(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS qvec
       |  FROM embeddings e, m2 WHERE e.vec_id % 50 = 0),
       |cent AS (SELECT id AS cid, vec AS cvec FROM av WHERE id % 100 = 0),
       |asg AS (SELECT av.id, av.vec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY av.id
       |      ORDER BY ${cosSql("av.vec", "c.cvec")} DESC, c.cid) AS rn
       |  FROM av CROSS JOIN cent c),
       |cells AS (SELECT id, vec, cid FROM asg WHERE rn = 1),
       |qprob AS (SELECT aq.qid, aq.qvec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY aq.qid
       |      ORDER BY ${cosSql("aq.qvec", "c.cvec")} DESC, c.cid) AS rn
       |  FROM aq CROSS JOIN cent c),
       |probes AS (SELECT qid, qvec, cid FROM qprob WHERE rn <= 3),
       |cand AS (SELECT p.qid, c.id, ${cosSql("p.qvec", "c.vec")} AS sim
       |  FROM cells c JOIN probes p ON c.cid = p.cid WHERE c.id <> p.qid),
       |r AS (SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, id) AS rank FROM cand),
       |found AS (SELECT qid, id AS neighbor FROM r WHERE rank <= 5),
       |truth AS (SELECT qid, neighbor FROM ($a16Sql)),
       |h AS (SELECT count(*) AS n_hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM found f
       |    WHERE f.qid = t.qid AND f.neighbor = t.neighbor)),
       |tt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT h.n_hits, tt.n_truth,
       |  round(h.n_hits::DOUBLE / tt.n_truth, 4) AS recall,
       |  (h.n_hits::DOUBLE / tt.n_truth >= 0.6) AS recall_ok
       |FROM h, tt""".stripMargin
  }

  /** Median absolute deviation per event type — the ROBUST spread
    * statistic (p5's z-scores break on heavy tails; MAD doesn't): two
    * exact interpolated percentiles (the q11 `percentile` ↔
    * `quantile_cont` parity), with the per-group median broadcast back
    * over the scan for the deviation pass. Two scans + two group aggs,
    * no window; the broadcast is |event types| rows. */
  def p15Mad(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("dev"))
      .groupBy(col("event_type"))
      .agg(round(min(col("med")), 4).as("median"),
        round(expr("percentile(dev, 0.5)"), 4).as("mad"))
      .orderBy("event_type")
  }

  val p15Sql: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, med.med, abs(e.value - med.med) AS dev
      |  FROM events e JOIN med USING (event_type))
      |SELECT event_type, round(MIN(med), 4) AS median,
      |  round(quantile_cont(dev, 0.5), 4) AS mad
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** EMBEDDING-SPACE drift monitor — the vector twin of p4's scalar
    * profile drift: when a corpus snapshot refreshes (new crawl, new
    * encoder version), per-label mean vectors are compared between the
    * two slices — mean-direction cosine and mean-norm ratio per label
    * flag a label whose embedding cloud moved or rescaled, BEFORE that
    * drift silently degrades every downstream ANN/dedup threshold
    * (IVF centroids and cosine thresholds were tuned on the old cloud).
    * Slices here are the vec_id parity classes (two-snapshot stand-in).
    *
    * Scale shape: the corpus reduces in ONE partial-agg pass to a
    * (label × dim × slice)-sized table of component means (640 cells at
    * any corpus size — the p9 domain-table discipline applied to vector
    * space); everything after runs on label-sized frames. Means round to
    * 4 decimals, the [[Ann.kmeansRefine]] trick that absorbs float-sum
    * order noise and makes the oracle's replay exact; the cosine/norm
    * folds over the two rounded mean vectors are then bit-identical
    * left-to-right double arithmetic in both engines. */
  def p16EmbeddingDrift(sp: SparkSession, dir: String): DataFrame = {
    val e = embeddings(sp, dir)
    def meanVecs(par: Int) = e.filter(col("vec_id") % 2 === par)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 4).as("m"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("mvec"))
    val a = meanVecs(0).select(col("label"), col("mvec").as("ma"))
    val b = meanVecs(1).select(col("label"), col("mvec").as("mb"))
    val counts = e.groupBy("label").agg(
      count(when(col("vec_id") % 2 === 0, 1)).as("n_a"),
      count(when(col("vec_id") % 2 === 1, 1)).as("n_b"))
    // LEFT joins from counts (which sees every label): a label present in
    // only ONE slice — vanished or newly appeared, the strongest drift
    // signal — surfaces with null drift stats instead of silently
    // dropping from the report. Zero-norm denominators are guarded to
    // null identically here and in the oracle (Spark's x/0.0 = Inf vs
    // DuckDB's configurable division semantics would otherwise diverge
    // on degenerate all-zero mean vectors).
    val na = Vectors.norm2(col("ma"))
    val nb = Vectors.norm2(col("mb"))
    val bothPresent = col("ma").isNotNull && col("mb").isNotNull
    counts.join(a, Seq("label"), "left").join(b, Seq("label"), "left")
      .select(col("label"), col("n_a"), col("n_b"),
        when(bothPresent && na =!= 0.0 && nb =!= 0.0,
          round(Vectors.cosine(col("ma"), col("mb")), 4)).as("mean_cos"),
        when(bothPresent && na =!= 0.0,
          round(nb / na, 4)).as("norm_ratio"))
      .orderBy("label")
  }

  val p16Sql: String =
    s"""WITH ex AS (SELECT label, vec_id % 2 AS par, t.i,
       |    CAST(embedding[t.i] AS DOUBLE) AS x
       |  FROM embeddings, range(1, 1025) t(i)
       |  WHERE t.i <= len(embedding)),
       |m AS (SELECT label, par, i, round(avg(x), 4) AS mm
       |  FROM ex GROUP BY label, par, i),
       |mv AS (SELECT label, par, list(mm ORDER BY i) AS mvec
       |  FROM m GROUP BY label, par),
       |a AS (SELECT label, mvec AS ma FROM mv WHERE par = 0),
       |b AS (SELECT label, mvec AS mb FROM mv WHERE par = 1),
       |cnt AS (SELECT label,
       |    count(*) FILTER (vec_id % 2 = 0) AS n_a,
       |    count(*) FILTER (vec_id % 2 = 1) AS n_b
       |  FROM embeddings GROUP BY label)
       |SELECT c.label, c.n_a, c.n_b,
       |  CASE WHEN a.ma IS NOT NULL AND b.mb IS NOT NULL
       |      AND ${normSql("a.ma")} <> 0 AND ${normSql("b.mb")} <> 0
       |    THEN round(${cosSql("a.ma", "b.mb")}, 4) END AS mean_cos,
       |  CASE WHEN a.ma IS NOT NULL AND b.mb IS NOT NULL
       |      AND ${normSql("a.ma")} <> 0
       |    THEN round(${normSql("b.mb")} / ${normSql("a.ma")}, 4)
       |  END AS norm_ratio
       |FROM cnt c LEFT JOIN a ON a.label = c.label
       |  LEFT JOIN b ON b.label = c.label
       |ORDER BY c.label""".stripMargin

  /** HISTOGRAM drift between two corpus slices per event type — the
    * scalar-distribution twin of p16's embedding drift, reported as
    * TOTAL VARIATION DISTANCE instead of PSI: PSI's ln() is a
    * transcendental whose last-ulp behavior differs across engines,
    * while TVD = ½·Σ|pa−pb| stays in exact integer arithmetic until ONE
    * IEEE division — |na·Nb − nb·Na| summed as BIGINT over the 16-bin
    * histogram, divided once by 2·Na·Nb (the t31/p14 discipline). Slices
    * are the event_id parity classes; bins are per-type equi-width over
    * the type's own [min,max] (p8's two-pass shape: the min/max table is
    * |event types| rows, broadcast back over the scan).
    *
    * Scale: the corpus reduces to type×bin×slice counts in one partial
    * agg; everything downstream is domain-sized. TVD ∈ [0,1]; the 0.05
    * flag is the retrain-trigger threshold a monitoring pipeline pages
    * on. */
  def p17HistDrift(sp: SparkSession, dir: String): DataFrame = {
    val ev = events(sp, dir).select(col("event_type"), col("value"),
      (col("event_id") % 2 === 0).as("is_a"))
    val mm = ev.groupBy("event_type")
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val binned = ev.join(broadcast(mm), "event_type")
      .withColumn("bin", when(col("mx") > col("mn"),
        least(floor((col("value") - col("mn"))
          / (col("mx") - col("mn")) * 16), lit(15L)))
        .otherwise(lit(0L)))
    val cells = binned.groupBy(col("event_type"), col("bin"))
      .agg(count(when(col("is_a"), 1)).as("na"),
        count(when(!col("is_a"), 1)).as("nb"))
    // slice totals ride a window OVER THE DOMAIN-SIZED cells table (≤ 16
    // rows per type) — a groupBy+join would recompute the corpus-scan
    // branch for the second consumer (no CSE across DataFrame reuse)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    cells
      .select(col("event_type"), col("na"), col("nb"),
        sum(col("na")).over(w).as("ta"), sum(col("nb")).over(w).as("tb"))
      .groupBy(col("event_type"))
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        (sum(abs(col("na") * col("tb") - col("nb") * col("ta")))
          .cast("double")
          / ((lit(2.0) * max(col("ta"))) * max(col("tb")))).as("tvd"))
      .withColumn("drifted", col("tvd") > 0.05)
      .orderBy("event_type")
  }

  val p17Sql: String =
    """WITH ev AS (SELECT event_type, value, event_id % 2 = 0 AS is_a
      |  FROM events),
      |mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
      |  FROM ev GROUP BY 1),
      |b AS (SELECT e.event_type, e.is_a,
      |    CASE WHEN m.mx > m.mn THEN CAST(least(floor(
      |      (e.value - m.mn) / (m.mx - m.mn) * 16), 15) AS BIGINT)
      |    ELSE 0 END AS bin
      |  FROM ev e JOIN mm m USING (event_type)),
      |cells AS (SELECT event_type, bin,
      |    count(*) FILTER (is_a) AS na,
      |    count(*) FILTER (NOT is_a) AS nb
      |  FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, na, nb,
      |    CAST(SUM(na) OVER (PARTITION BY event_type) AS BIGINT) AS ta,
      |    CAST(SUM(nb) OVER (PARTITION BY event_type) AS BIGINT) AS tb
      |  FROM cells)
      |SELECT event_type, MAX(ta) AS n_a, MAX(tb) AS n_b,
      |  CAST(SUM(abs(na * tb - nb * ta)) AS DOUBLE)
      |    / ((CAST(2.0 AS DOUBLE) * MAX(ta)) * MAX(tb)) AS tvd,
      |  CAST(SUM(abs(na * tb - nb * ta)) AS DOUBLE)
      |    / ((CAST(2.0 AS DOUBLE) * MAX(ta)) * MAX(tb))
      |    > CAST(0.05 AS DOUBLE) AS drifted
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** EWMA trend monitor over daily spend per event type — the
    * recency-weighted smoother next to p5's z-flags and p14's CUSUM,
    * made CROSS-ENGINE EXACT by choosing the dyadic decay 1/2 with a
    * 30-day horizon: ewma_d = Σ_{0≤k≤30} cents_{d-k} / 2^k. Instead of
    * summing fractions (order-sensitive double rounding), every term is
    * SCALED to an integer — cents · 2^(30−k), a BIGINT shift — summed
    * exactly (order-free), and divided once by 2^30 (an exact power-of-
    * two scaling, not a rounding division). The corpus reduces to the
    * (type, day) daily table in one partial agg; the 31-term lookback
    * joins the CALENDAR-sized daily table to itself — nothing after the
    * first aggregation scales with the corpus, the p9 discipline. */
  def p18Ewma(sp: SparkSession, dir: String): DataFrame = {
    val daily = events(sp, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("cents"))
    val l = daily.select(col("etype"), col("day"), col("cents"))
    val r = daily.select(col("etype").as("__e"), col("day").as("__d"),
      col("cents").as("__c"))
    l.join(r, col("etype") === col("__e") &&
        col("__d") <= col("day") && datediff(col("day"), col("__d")) <= 30)
      .groupBy(col("etype"), col("day"), col("cents"))
      // Overflow guard: a daily |cents| >= 2^32 would make the 31-term
      // shifted sum exceed 2^63 (max|cents|·Σ2^(30−k) < max|cents|·2^31)
      // and Spark's BIGINT shiftleft/sum would WRAP silently while
      // DuckDB's HUGEINT sum raises — a divergent failure mode. Fail
      // loudly on the Spark side too; above ~$43M/day per type, switch
      // the accumulator to DECIMAL.
      .agg(sum(expr(
        "CASE WHEN abs(__c) < 4294967296 THEN " +
          "shiftleft(__c, CAST(30 - datediff(day, __d) AS INT)) " +
          "ELSE raise_error(concat('p18: daily cents magnitude ', __c, " +
          "' >= 2^32 — dyadic EWMA shift would overflow BIGINT')) END"))
        .as("__acc"))
      .select(col("etype"), col("day"), col("cents"),
        (col("__acc").cast("double") / lit(1073741824.0)).as("ewma"))
      .orderBy("etype", "day")
  }

  val p18Sql: String =
    """WITH daily AS (SELECT event_type AS etype,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT l.etype, l.day, l.cents,
      |    SUM(r.cents << (30 - CAST(l.day - r.day AS INT))) AS acc
      |  FROM daily l JOIN daily r ON l.etype = r.etype
      |    AND r.day <= l.day AND l.day - r.day <= 30
      |  GROUP BY 1, 2, 3)
      |SELECT etype, day, cents,
      |  CAST(acc AS DOUBLE) / CAST(1073741824 AS DOUBLE) AS ewma
      |FROM p ORDER BY etype, day""".stripMargin

  /** Keyword-in-context (KWIC) snippet extraction — the search-preview /
    * concordance primitive (t23's positional index finds WHERE; this
    * materializes the reading context): for every document containing
    * the term, a fixed 60-char window centered on the FIRST occurrence,
    * built from 1-based locate + clamped substring — string functions
    * both engines define identically, so snippets hash bit-for-bit.
    * Pure per-row scan work; the pushed-down `contains` filter prunes
    * non-matching documents before any string surgery. */
  def t35Kwic(sp: SparkSession, dir: String): DataFrame = {
    val term = "filter"
    documents(sp, dir)
      .filter(col("text").contains(term))
      .select(col("doc_id"), locate(term, col("text")).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(greatest(lit(1), col("pos") - 27), lit(60))
          .as("snippet"))
      .orderBy("doc_id")
  }

  val t35Sql: String =
    """SELECT doc_id, CAST(strpos(text, 'filter') AS INT) AS pos,
      |  substring(text, greatest(1, strpos(text, 'filter') - 27), 60)
      |    AS snippet
      |FROM documents WHERE contains(text, 'filter')
      |ORDER BY doc_id""".stripMargin

  /** Readability scoring (Flesch reading ease, the t2/t32 family's
    * document-difficulty screen): words, sentences and vowel-group
    * "syllables" are exact integer counts (regexp_count with a pattern
    * both regex dialects treat identically), and the score
    * 206.835 − 1.015·(W/S) − 84.6·(Y/W) is a fixed double tree over
    * exact ints — the shared-literal discipline of p11. Pure per-row
    * work + no corpus-wide state; docs with no sentence or no word are
    * excluded on both sides. */
  def t34Readability(sp: SparkSession, dir: String): DataFrame = {
    val w = Text.tokenCount(col("text")).cast("long")
    val s0 = size(filter(
      transform(split(col("text"), "[.!?]+"), x => trim(x)),
      x => length(x) > 0)).cast("long")
    val y = regexp_count(col("text"), lit("[aeiouAEIOU]+")).cast("long")
    documents(sp, dir)
      .select(col("doc_id"), w.as("n_words"), s0.as("n_sentences"),
        y.as("n_syll"))
      .filter(col("n_words") > 0 && col("n_sentences") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syll"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syll").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
      .orderBy("doc_id")
  }

  val t34Sql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len($Toks) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(list_transform(
       |      regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
       |      x -> length(x) > 0)) AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
       |      AS n_syll
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syll,
       |  round(206.835
       |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
       |    AS flesch
       |FROM t WHERE n_words > 0 AND n_sentences > 0
       |ORDER BY doc_id""".stripMargin

  /** CUSUM change-point detection over the daily order series — the
    * sequential mean-shift screen (p5 flags outlier DAYS; CUSUM finds
    * where the LEVEL changed). Division-free centering: with D days and
    * total S, the cumulative sum of (n_i·D − S) is exact BIGINT and
    * crosses its extremum at the change point; the reported day is the
    * |CUSUM| argmax with earliest-day tie-break. One date-domain-sized
    * window over the daily aggregate — the corpus reduces to D rows
    * before any ordered state. */
  def p14Cusum(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(sp, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val st = daily.agg(count(lit(1)).as("__d"), sum(col("n")).as("__s"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(st))
      .withColumn("cusum", sum(col("n") * col("__d") - col("__s")).over(w))
      .select(col("day"), col("n"), col("cusum"),
        abs(col("cusum")).as("abs_cusum"))
      .orderBy(col("abs_cusum").desc, col("day")).limit(5)
  }

  val p14Sql: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    COUNT(*) AS n FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS d, SUM(n) AS s FROM daily),
      |c AS (SELECT day, n,
      |    SUM(n * st.d - st.s) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM daily, st)
      |SELECT day, CAST(n AS BIGINT) AS n, CAST(cusum AS BIGINT) AS cusum,
      |  CAST(abs(cusum) AS BIGINT) AS abs_cusum
      |FROM c ORDER BY abs_cusum DESC, day LIMIT 5""".stripMargin

  /** Audio normalization profile ([[Multimodal]] m4 infrastructure):
    * per-document peak amplitude, RMS level and the linear gain that
    * would normalize the peak to a -~0.9 FS target (30000/32768) — the
    * loudness-normalization pass an audio training pipeline runs before
    * feature extraction. Peak and sum-of-squares are exact integers from
    * the same RIFF-walked PCM decode m4 gates; RMS and gain are one
    * sqrt and one division each, IEEE-replayable. Clipping detection
    * rides along (any |sample| = 32767-floor counts). */
  def m9WavGain(sp: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 1), frameSize = 100)
    Multimodal.wavEnergy(sp, media, window = 1000000).toDF()
      .groupBy(col("doc_id"))
      .agg(sum(col("n_samples")).as("n_samples"),
        sum(col("energy")).as("ss"))
      .join(
        Multimodal.pcmPeaks(sp, media).toDF(), Seq("doc_id"))
      .select(col("doc_id"), col("n_samples"), col("peak"),
        round(sqrt(col("ss").cast("double") /
          col("n_samples").cast("double")), 4).as("rms"),
        round(lit(30000.0) / col("peak").cast("double"), 6).as("gain"))
      .orderBy("doc_id")
  }

  val m9Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len
       |  FROM documents WHERE doc_id % 3 = 1),
       |p AS (SELECT doc_id, hx,
       |    (len - len % ((len % 2 + 1) * 2)) // 2 AS n FROM e),
       |s AS (SELECT p.doc_id,
       |    ('0x' || substr(p.hx, 4 * CAST(k.k AS BIGINT) + 1, 2))::BIGINT
       |      + 256 * ('0x' || substr(p.hx,
       |          4 * CAST(k.k AS BIGINT) + 3, 2))::BIGINT AS raw
       |  FROM p, range(0, 512) k(k) WHERE k.k < p.n),
       |v AS (SELECT doc_id,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s16
       |  FROM s),
       |g AS (SELECT doc_id, COUNT(*) AS n_samples,
       |    SUM(s16 * s16) AS ss, MAX(ABS(s16)) AS peak
       |  FROM v GROUP BY doc_id)
       |SELECT doc_id, n_samples, CAST(peak AS BIGINT) AS peak,
       |  round(sqrt(CAST(ss AS DOUBLE) / CAST(n_samples AS DOUBLE)), 4)
       |    AS rms,
       |  round(30000.0 / CAST(peak AS DOUBLE), 6) AS gain
       |FROM g WHERE n_samples > 0 ORDER BY doc_id""".stripMargin
  }

  /** Chi-square independence screen — is event type independent of
    * day-of-week? The drift test a pipeline runs on categorical
    * dimensions (a weekday-only event type is a collection artifact).
    * Pure contingency-table arithmetic: observed counts O, row sums R,
    * column sums C, total T are exact integers from one hash agg +
    * two tiny re-aggregations; each cell's contribution
    * (O·T − R·C)²/(T·R·C) divides two exact BIGINTs in one IEEE op
    * (the p5/p12 discipline — no float expected-count intermediate).
    * Output is per-cell so the offending cells are visible, not just
    * the statistic. (O·T)² needs DECIMAL(38,0) past ~3·10⁹ rows.) */
  def p13ChiSquare(sp: SparkSession, dir: String): DataFrame = {
    val obs = events(sp, dir)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val rows = obs.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = obs.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val tot = obs.agg(sum(col("o")).as("t"))
    obs.join(broadcast(rows), "event_type")
      .join(broadcast(cols), "dow")
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("dow"), col("o"),
        round((col("o") * col("t") - col("r") * col("c")).cast("double") *
          (col("o") * col("t") - col("r") * col("c")).cast("double") /
          (col("t") * col("r") * col("c")).cast("double"), 8)
          .as("contrib"))
      .orderBy("event_type", "dow")
  }

  val p13Sql: String =
    """WITH obs AS (SELECT event_type, dayofweek(ts) AS dow,
      |    COUNT(*) AS o FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
      |c AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
      |t AS (SELECT SUM(o) AS t FROM obs)
      |SELECT obs.event_type, CAST(obs.dow AS INT) AS dow,
      |  obs.o,
      |  round(CAST(obs.o*t.t - r.r*c.c AS DOUBLE) *
      |        CAST(obs.o*t.t - r.r*c.c AS DOUBLE) /
      |        CAST(t.t*r.r*c.c AS DOUBLE), 8) AS contrib
      |FROM obs JOIN r USING (event_type) JOIN c USING (dow), t
      |ORDER BY obs.event_type, obs.dow""".stripMargin

  /** Per-channel pixel statistics over the REAL BMP pixel array
    * ([[Multimodal.channelStats]]): mean/min/max/sum per B/G/R
    * channel with padding bytes excluded — the brightness and color-cast
    * screen of an image curation pipeline (all-black scans, blown
    * highlights, single-channel casts). The oracle recomputes every
    * channel byte from the blob-fill formula, so a hash match certifies
    * the decode geometry (data offset, 4-aligned rows, channel order),
    * not a raw byte slice. */
  def m8ChannelStats(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap(r => Multimodal.channelStats(r.media)
        .getOrElse(Seq.empty)
        .map(s => (r.doc_id, s.channel, s.n, s.sum, s.min, s.max)))
      .toDF("doc_id", "channel", "n_pixels", "c_sum", "c_min", "c_max")
      .withColumn("c_mean", round(
        col("c_sum").cast("double") / col("n_pixels").cast("double"), 4))
      .orderBy("doc_id", "channel")
  }

  val m8Sql: String = {
    val ob = "octet_length(encode(text))"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |px AS (SELECT p.doc_id, tc.c AS channel,
       |    ('0x' || substr(p.hx,
       |      2 * ((ty.y * p.src_row + tx.x * 3 + tc.c) % p.len) + 1,
       |      2))::BIGINT AS v
       |  FROM p, range(0, 7) ty(y), range(0, 31) tx(x), range(0, 3) tc(c)
       |  WHERE ty.y < p.src_h AND tx.x < p.src_w)
       |SELECT doc_id, CAST(channel AS INT) AS channel,
       |  COUNT(*) AS n_pixels, CAST(SUM(v) AS BIGINT) AS c_sum,
       |  CAST(MIN(v) AS INT) AS c_min, CAST(MAX(v) AS INT) AS c_max,
       |  round(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
       |    AS c_mean
       |FROM px GROUP BY doc_id, channel
       |ORDER BY doc_id, channel""".stripMargin
  }

  /** MULTIMODAL SHARD MANIFEST — the WebDataset/tar-shard layout step a
    * multimodal training pipeline runs before anything reads blobs:
    * variable-size media blobs pack whole into fixed-capacity shard
    * files ([[graft.operators.Sampling.ffdPacking]] on BYTE sizes — FFD,
    * ≤ 11/9·OPT+1 shards, oversize blobs isolate in their own shard)
    * and every blob gets its EXACT byte placement: (shard, bin_id) is
    * the shard file, `off` the byte offset where the blob starts, so a
    * trainer random-reads any sample with one ranged fetch — no index
    * server, no per-sample files. Offsets are a window cumsum in FFD
    * placement order (items enter a bin in (size DESC, id) order, so
    * that IS the within-file order — no extra state needed); shard_bytes
    * certifies capacity. Scale shape: pack parallelism is the hash
    * shard (t37's contract); the offset window is bin-local. The oracle
    * replays blob sizes from the three container formulas, the full
    * recursive FFD, and the offset cumsum — a shifted offset or a
    * mis-sized header fails the hash. */
  def m15ShardManifest(sp: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.attachBlobs(documents(sp, dir), frameSize = 100)
    val sizes = media.select(col("doc_id"),
      length(col("media")).cast("long").as("n_bytes"))
    val packed = graft.operators.Sampling.ffdPacking(sizes,
        col("doc_id") % 8, col("doc_id"), col("n_bytes"), capacity = 4096)
      .withColumnRenamed("n_tokens", "n_bytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bin_id"))
      .orderBy(col("n_bytes").desc, col("doc_id"))
    packed
      .withColumn("off", coalesce(sum(col("n_bytes")).over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0L)))
      .withColumn("shard_bytes", sum(col("n_bytes")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"), col("bin_id"))))
      .withColumn("fits",
        col("off") + col("n_bytes") <= 4096 || col("off") === 0)
      .orderBy("doc_id")
  }

  val m15Sql: String = {
    val ob = "octet_length(encode(text))"
    val w = s"($ob % 31 + 1)"
    val h = "(doc_id % 7 + 1)"
    val bmpBytes = s"(54 + ((3 * $w + 3) // 4) * 4 * $h)"
    val ch = s"($ob % 2 + 1)"
    val dataLen = s"($ob - $ob % ($ch * 2))"
    val aw = s"($ob % 7 + 1)"
    val ah = "(doc_id % 4 + 1)"
    val nf = "(doc_id % 5 + 2)"
    val fb = s"(((3 * $aw + 3) // 4) * 4 * $ah)"
    val aviBytes = s"(224 + $nf * (8 + $fb))"
    val nb = s"""CAST(CASE WHEN doc_id % 3 = 0 THEN $bmpBytes
       |       WHEN doc_id % 3 = 1 THEN 44 + $dataLen
       |       ELSE $aviBytes END AS BIGINT)""".stripMargin
    s"""WITH RECURSIVE items AS (
       |  SELECT doc_id, doc_id % 8 AS shard, $nb AS n_bytes,
       |    row_number() OVER (PARTITION BY doc_id % 8
       |      ORDER BY $nb DESC, doc_id) AS rn
       |  FROM documents),
       |pack AS (
       |  SELECT shard, CAST(0 AS BIGINT) AS rn,
       |    CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS n_bytes, CAST(NULL AS BIGINT) AS bin_id,
       |    []::BIGINT[] AS bins
       |  FROM (SELECT DISTINCT shard FROM items)
       |  UNION ALL
       |  SELECT s.shard, s.rn, s.doc_id, s.n_bytes,
       |    CAST(COALESCE(s.fit, len(s.bins) + 1) - 1 AS BIGINT) AS bin_id,
       |    CASE WHEN s.fit IS NULL
       |         THEN list_append(s.bins, 4096 - s.n_bytes)
       |         ELSE list_transform(range(1, len(s.bins) + 1),
       |           j -> CASE WHEN j = s.fit THEN s.bins[j] - s.n_bytes
       |                ELSE s.bins[j] END)
       |    END AS bins
       |  FROM (SELECT i.shard, i.rn, i.doc_id, i.n_bytes, p.bins,
       |      list_aggregate(list_transform(range(1, len(p.bins) + 1),
       |        j -> CASE WHEN p.bins[j] >= i.n_bytes THEN j ELSE NULL END),
       |        'min') AS fit
       |    FROM pack p JOIN items i
       |      ON i.shard = p.shard AND i.rn = p.rn + 1) s)
       |SELECT doc_id, shard, n_bytes, bin_id,
       |  CAST(coalesce(SUM(n_bytes) OVER (PARTITION BY shard, bin_id
       |    ORDER BY n_bytes DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS off,
       |  CAST(SUM(n_bytes) OVER (PARTITION BY shard, bin_id) AS BIGINT)
       |    AS shard_bytes,
       |  (coalesce(SUM(n_bytes) OVER (PARTITION BY shard, bin_id
       |    ORDER BY n_bytes DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + n_bytes <= 4096
       |   OR coalesce(SUM(n_bytes) OVER (PARTITION BY shard, bin_id
       |    ORDER BY n_bytes DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0)
       |    AS fits
       |FROM pack WHERE rn > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** GRAYSCALE LUMINANCE PROFILE ([[Multimodal.bmpLuminance]]): per-BMP
    * BT.601 integer luma sum/min/max plus the 4-bucket exposure
    * histogram — the all-dark / blown-out / zero-contrast screen an
    * image pipeline applies before spending GPU time, and the exact
    * reduction m5's average-hash thresholds build on. Same per-doc map
    * shape as m8 (zero shuffle before the final sort); the oracle
    * recomputes EVERY pixel's three channels from the blob-fill formula
    * and replays the exact (299R + 587G + 114B) div 1000 luma and the
    * div-64 bucketing, so a swapped B/R channel, a float luma, or an
    * off-by-one stride all fail the hash. */
  def m14GrayHist(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val media = Multimodal.attachBlobs(
      documents(sp, dir).filter(col("doc_id") % 3 === 0), frameSize = 100)
    media.as[Multimodal.MediaRow]
      .flatMap(r => Multimodal.bmpLuminance(r.media)
        .map(s => (r.doc_id, s.n_pixels, s.lum_sum, s.lum_min, s.lum_max,
          s.h0, s.h1, s.h2, s.h3)))
      .toDF("doc_id", "n_pixels", "lum_sum", "lum_min", "lum_max",
        "h0", "h1", "h2", "h3")
      .withColumn("lum_mean_bp", expr("lum_sum * 10000 div n_pixels"))
      .orderBy("doc_id")
  }

  val m14Sql: String = {
    val ob = "octet_length(encode(text))"
    def byte(c: Int) =
      s"('0x' || substr(p.hx, 2 * ((ty.y * p.src_row + tx.x * 3 + $c) " +
        s"% p.len) + 1, 2))::BIGINT"
    s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS hx, $ob AS len,
       |    $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |lum AS (SELECT p.doc_id,
       |    (299 * ${byte(2)} + 587 * ${byte(1)} + 114 * ${byte(0)})
       |      // 1000 AS l
       |  FROM p, range(0, 7) ty(y), range(0, 31) tx(x)
       |  WHERE ty.y < p.src_h AND tx.x < p.src_w)
       |SELECT doc_id, COUNT(*) AS n_pixels,
       |  CAST(SUM(l) AS BIGINT) AS lum_sum,
       |  CAST(MIN(l) AS INT) AS lum_min, CAST(MAX(l) AS INT) AS lum_max,
       |  CAST(count(*) FILTER (l // 64 = 0) AS BIGINT) AS h0,
       |  CAST(count(*) FILTER (l // 64 = 1) AS BIGINT) AS h1,
       |  CAST(count(*) FILTER (l // 64 = 2) AS BIGINT) AS h2,
       |  CAST(count(*) FILTER (l // 64 = 3) AS BIGINT) AS h3,
       |  CAST(SUM(l) AS BIGINT) * 10000 // COUNT(*) AS lum_mean_bp
       |FROM lum GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** IMAGE ENTROPY SCREEN ([[Multimodal.bmpGrayLevels]]): per-BMP
    * Shannon entropy of the 256-level grayscale histogram, Q16-exact —
    * the flat/synthetic-image tripwire an image-curation pipeline runs
    * beside m14's exposure screen (a solid-color or near-constant frame
    * carries no training signal however well-exposed it is). Each image
    * reduces MAP-SIDE to ≤ 256 (level, count) rows; entropy rides the
    * t60 Q16 log kernel over the distinct COUNT domain only:
    * h_num = n·L(n) − Σ c·L(c) over h_den = n·2¹⁶ (the standard
    * H = log2 n − (1/n)Σc·log2 c identity), both exact BIGINTs, one
    * final float. Docs with id % 30 = 0 are PLANTED flat (constant
    * text → constant fill bytes → single gray level): their h_num is
    * exactly 0 and the `flat` verdict (H < 0.1 bit, float-free
    * cross-multiplication) fires live at every SF while real blobs
    * read 3–6 bits. The oracle recomputes every pixel's luma from the
    * blob-fill formula, rebuilds every histogram and replays the log
    * recurrence — a swapped channel or an off-by-one stride fails the
    * hash. */
  def m31ImageEntropy(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val base = documents(sp, dir).filter(col("doc_id") % 3 === 0)
      .withColumn("text", when(col("doc_id") % 30 === 0,
        expr("repeat('a', 40)")).otherwise(col("text")))
    val media = Multimodal.attachBlobs(base, frameSize = 100)
    val hist = media.as[Multimodal.MediaRow]
      .flatMap(r => Multimodal.bmpGrayLevels(r.media)
        .map(p => (r.doc_id, p._1, p._2)))
      .toDF("doc_id", "lv", "c")
    val n = hist.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_levels"))
    val need = hist.select(col("c").as("x"))
      .union(n.select(col("n").as("x")))
    val ltab = graft.Tables.stage(
      graft.operators.NaiveBayes.logTable(need), "graft-m31-ltab")
    val hs = hist
      .join(ltab.select(col("x").as("c"), col("l").as("__lc")),
        Seq("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("__lc")).as("__scl"))
    n.join(hs, Seq("doc_id"))
      .join(ltab.select(col("x").as("n"), col("l").as("__ln")),
        Seq("n"))
      .select(col("doc_id"), col("n").as("n_pixels"), col("n_levels"),
        (col("n") * col("__ln") - col("__scl")).as("h_num"),
        (col("n") * lit(65536L)).as("h_den"),
        ((col("n") * col("__ln") - col("__scl")).cast("double") /
          (col("n") * lit(65536L)).cast("double")).as("entropy_bits"),
        when((col("n") * col("__ln") - col("__scl")) * 10 <
          col("n") * lit(65536L), "flat").otherwise("ok").as("verdict"))
      .orderBy("doc_id")
  }

  val m31Sql: String = {
    val txt = "CASE WHEN doc_id % 30 = 0 THEN repeat('a', 40) " +
      "ELSE text END"
    val ob = s"octet_length(encode($txt))"
    def byte(c: Int) =
      s"('0x' || substr(p.hx, 2 * ((ty.y * p.src_row + tx.x * 3 + $c) " +
        s"% p.len) + 1, 2))::BIGINT"
    s"""WITH RECURSIVE e AS (SELECT doc_id, hex(encode($txt)) AS hx,
       |    $ob AS len, $ob % 31 + 1 AS src_w, doc_id % 7 + 1 AS src_h
       |  FROM documents WHERE doc_id % 3 = 0),
       |p AS (SELECT doc_id, hx, len, src_w, src_h,
       |    ((3 * src_w + 3) // 4) * 4 AS src_row FROM e),
       |lum AS (SELECT p.doc_id,
       |    (299 * ${byte(2)} + 587 * ${byte(1)} + 114 * ${byte(0)})
       |      // 1000 AS lv
       |  FROM p, range(0, 7) ty(y), range(0, 31) tx(x)
       |  WHERE ty.y < p.src_h AND tx.x < p.src_w),
       |hist AS (SELECT doc_id, lv, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lum GROUP BY 1, 2),
       |nn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS n_levels FROM hist GROUP BY 1),
       |need AS (SELECT DISTINCT x FROM (
       |  SELECT c AS x FROM hist UNION SELECT n FROM nn)),
       |lg(x, m, i, frac) AS (
       |  SELECT x, CASE WHEN length(bin(x)) - 1 <= 31
       |      THEN CAST(x AS BIGINT) << (31 - (length(bin(x)) - 1))
       |      ELSE CAST(x AS BIGINT) >> ((length(bin(x)) - 1) - 31) END,
       |    0, CAST(0 AS BIGINT)
       |  FROM need
       |  UNION ALL
       |  SELECT x,
       |    CAST(CASE WHEN m::HUGEINT * m >=
       |        9223372036854775807::HUGEINT + 1
       |      THEN (m::HUGEINT * m) // 4294967296
       |      ELSE (m::HUGEINT * m) // 2147483648 END AS BIGINT),
       |    i + 1,
       |    frac * 2 + CASE WHEN m::HUGEINT * m >=
       |      9223372036854775807::HUGEINT + 1 THEN 1 ELSE 0 END
       |  FROM lg WHERE i < 16),
       |ltab AS (SELECT x,
       |  CAST(length(bin(x)) - 1 AS BIGINT) * 65536 + frac AS l
       |  FROM lg WHERE i = 16),
       |hs AS (SELECT h.doc_id,
       |    CAST(SUM(h.c * lc.l) AS BIGINT) AS scl
       |  FROM hist h JOIN ltab lc ON lc.x = h.c GROUP BY 1)
       |SELECT nn.doc_id, nn.n AS n_pixels, nn.n_levels,
       |  CAST(nn.n * lt2.l - hs.scl AS BIGINT) AS h_num,
       |  CAST(nn.n * 65536 AS BIGINT) AS h_den,
       |  CAST(nn.n * lt2.l - hs.scl AS DOUBLE)
       |    / CAST(nn.n * 65536 AS DOUBLE) AS entropy_bits,
       |  CASE WHEN (nn.n * lt2.l - hs.scl) * 10 < nn.n * 65536
       |    THEN 'flat' ELSE 'ok' END AS verdict
       |FROM nn JOIN hs USING (doc_id) JOIN ltab lt2 ON lt2.x = nn.n
       |ORDER BY nn.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_text_tokens" -> (t1Tokens _),
    "t2_text_quality" -> (t2Quality _),
    "t3_text_langid" -> (t3LangId _),
    "t4_text_fingerprint" -> (t4Fingerprint _),
    "t5_approx_distinct" -> (t5ApproxDistinct _),
    "t6_text_scrub" -> (t6TextScrub _),
    "t7_hash_split" -> (t7HashSplit _),
    "t8_seq_pack" -> (t8SeqPack _),
    "t9_stratified_sample" -> (t9StratifiedSample _),
    "t10_quality_filter" -> (t10QualityFilter _),
    "t11_repetition" -> (t11Repetition _),
    "t12_hll_union" -> (t12HllUnion _),
    "q57_ivm_sketch" -> (q57IvmSketch _),
    "t13_bm25" -> (t13Bm25 _),
    "t14_vocab_encode" -> (t14VocabEncode _),
    "t15_bigram_lm" -> (t15BigramLm _),
    "t16_weighted_sample" -> (t16WeightedSample _),
    "t17_cms_heavy" -> (t17CmsHeavyHitters _),
    "z1_zorder" -> (z1Zorder _),
    "z2_hilbert" -> (z2Hilbert _),
    "z3_pruning_profile" -> (z3PruningProfile _),
    "t9b_stratified_threshold" -> (t9bStratifiedThreshold _),
    "d1_dedup_exact" -> (d1Exact _),
    "d2_minhash_sig" -> (d2MinhashSig _),
    "d3_minhash_pairs" -> (d3MinhashPairs _),
    "d4_simhash" -> (d4Simhash _),
    "d5_ngram_jaccard" -> (d5NgramJaccard _),
    "d6_embed_neardup" -> (d6EmbedNearDup _),
    "d7_simhash_pairs" -> (d7SimhashPairs _),
    "d8_embed_pairs" -> (d8EmbedPairs _),
    "d9_minhash_union" -> (d9MinhashUnion _),
    "d10_embed_quant" -> (d10EmbedQuant _),
    "d11_dedup_e2e" -> (d11DedupE2e _),
    "d12_dedup_clusters" -> (d12DedupClusters _),
    "d13_dedup_incremental" -> (d13DedupIncremental _),
    "d14_contamination" -> (d14Contamination _),
    "a1_ann_brute" -> (a1AnnBrute _),
    "a2_ann_lsh" -> (a2AnnLsh _),
    "a3_ann_ivf" -> (a3AnnIvf _),
    "a4_ann_ivf_kmeans" -> (a4AnnIvfKmeans _),
    "a5_ann_recall" -> (a5AnnRecall _),
    "a6_ann_query_table" -> (a6AnnQueryTable _),
    "a7_ann_ivf_query_table" -> (a7AnnIvfQueryTable _),
    "g1_pagerank" -> (g1Pagerank _),
    "g2_triangles" -> (g2Triangles _),
    "g3_components" -> (g3Components _),
    "g13_scc" -> (g13Scc _),
    "g14_weighted_distance" -> (g14WeightedDistance _),
    "g15_ktruss" -> (g15Ktruss _),
    "g16_assortativity" -> (g16Assortativity _),
    "m1_multimodal_decode" -> (m1Multimodal _),
    "m2_multimodal_resize" -> (m2MultimodalResize _),
    "m10_bmp_crop" -> (m10Crop _),
    "m11_frame_delta" -> (m11FrameDelta _),
    "m12_wav_zcr" -> (m12WavZcr _),
    "m13_bmp_flip" -> (m13FlipBmp _),
    "m14_gray_hist" -> (m14GrayHist _),
    "m15_shard_manifest" -> (m15ShardManifest _),
    "m16_image_near_dup" -> (m16ImageNearDup _),
    "m17_wav_decimate" -> (m17WavDecimate _),
    "m18_avi_drop_frames" -> (m18AviDropFrames _),
    "m19_bilinear_resize" -> (m19BilinearResize _),
    "m20_letterbox_resize" -> (m20LetterboxResize _),
    "m21_hist_equalize" -> (m21HistEqualize _),
    "m22_sobel_energy" -> (m22SobelEnergy _),
    "m23_wav_normalize" -> (m23WavNormalize _),
    "m3_frame_sample" -> (m3FrameSample _),
    "s1_stream_window" -> (s1StreamWindow _),
    "s2_sessionize" -> (s2Sessionize _),
    "s3_asof_join" -> (s3AsOf _),
    "s3b_asof_exec" -> (s3bAsOfExec _),
    "s3c_asof_dir_tol" -> (s3cAsOfDirTol _),
    "s44_stream_asof" -> (s44StreamAsOf _),
    "s4_stream_join" -> (s4StreamJoin _),
    "s5_stream_xml" -> (s5StreamXml _),
    "s6_stream_session" -> (s6StreamSession _),
    "s7_stream_enrich" -> (s7StreamEnrich _),
    "s8_checkpoint_recovery" -> (s8CheckpointRecovery _),
    "t18_bpe_train" -> (t18BpeTrain _),
    "t51_unigram_train" -> (t51UnigramTrain _),
    "t52_unigram_apply" -> (t52UnigramApply _),
    "t53_unigram_prune" -> (t53UnigramPrune _),
    "t54_blocklist" -> (t54Blocklist _),
    "t55_stupid_backoff" -> (t55StupidBackoff _),
    "t19_token_budget_mix" -> (t19TokenBudgetMix _),
    "s9_bounded_backfill" -> (s9BoundedBackfill _),
    "s10_stateful_counter" -> (s10StatefulCounter _),
    "s11_sliding_window" -> (s11SlidingWindow _),
    "s12_stream_outer_join" -> (s12StreamOuterJoin _),
    "s36_interval_join" -> (s36IntervalJoin _),
    "s13_stream_dedup" -> (s13StreamDedup _),
    "s14_stream_semi_join" -> (s14StreamSemiJoin _),
    "s15_stream_xml_sink" -> (s15StreamXmlSink _),
    "s16_stream_anti_join" -> (s16StreamAntiJoin _),
    "t20_lm_score" -> (t20LmScore _),
    "t21_domain_quota" -> (t21DomainQuota _),
    "t22_dup_spans" -> (t22DupSpans _),
    "t42_span_removal" -> (t42SpanRemoval _),
    "t43_heldout_score" -> (t43HeldoutScore _),
    "t44_assoc_mining" -> (t44AssocMining _),
    "t45_quantile_norm" -> (t45QuantileNorm _),
    "t46_oov_drift" -> (t46OovDrift _),
    "t47_gopher_rules" -> (t47GopherRules _),
    "t48_ngram_novelty" -> (t48NgramNovelty _),
    "t49_token_rank_fluency" -> (t49TokenRankFluency _),
    "t50_budget_apportion" -> (t50BudgetApportion _),
    "t23_phrase_search" -> (t23PhraseSearch _),
    "t24_lexical_stats" -> (t24LexicalStats _),
    "t25_bpe_apply" -> (t25BpeApply _),
    "d15_fuzzy_match" -> (d15FuzzyMatch _),
    "d16_semantic_dedup" -> (d16SemanticDedup _),
    "d17_entity_resolution" -> (d17EntityResolution _),
    "d18_prefix_join" -> (d18PrefixJoin _),
    "m4_wav_energy" -> (m4WavEnergy _),
    "m5_perceptual_hash" -> (m5PerceptualHash _),
    "d19_segment_dedup" -> (d19SegmentDedup _),
    "t26_chunk_overlap" -> (t26ChunkOverlap _),
    "g4_label_prop" -> (g4LabelProp _),
    "g5_seed_distance" -> (g5SeedDistance _),
    "a8_pq_topk" -> (a8PqTopK _),
    "a9_ivfpq_topk" -> (a9IvfPqTopK _),
    "a10_pq_recall" -> (a10PqRecall _),
    "a21_graph_recall" -> (a21GraphRecall _),
    "a22_residual_ivfpq" -> (a22ResidualIvfPq _),
    "a23_bq_hamming" -> (a23BqHamming _),
    "a24_knn_probe" -> (a24KnnProbe _),
    "a26_nprobe_curve" -> (a26NprobeCurve _),
    "a27_ivf_delete" -> (a27IvfDelete _),
    "a28_ivf_multi_assign" -> (a28IvfMultiAssign _),
    "a29_kcenter_seeds" -> (a29KcenterSeeds _),
    "a11_pq_trained_recall" -> (a11PqTrainedRecall _),
    "a12_ivf_incremental" -> (a12IvfIncremental _),
    "t27_hybrid_rrf" -> (t27HybridRrf _),
    "t28_keywords" -> (t28Keywords _),
    "g6_hits" -> (g6Hits _),
    "t29_epoch_shuffle" -> (t29EpochShuffle _),
    "d20_containment" -> (d20Containment _),
    "d21_quality_keeper" -> (d21QualityKeeper _),
    "d22_lsh_sweep" -> (d22LshSweep _),
    "d23_winnowing" -> (d23Winnowing _),
    "a13_random_projection" -> (a13RandomProjection _),
    "m6_audio_segments" -> (m6AudioSegments _),
    "p8_histogram" -> (p8Histogram _),
    "g7_kcore" -> (g7Kcore _),
    "t30_quality_funnel" -> (t30QualityFunnel _),
    "p9_ks_drift" -> (p9KsDrift _),
    "a14_quantized_recall" -> (a14QuantizedRecall _),
    "p9b_ks_binned" -> (p9bKsBinned _),
    "g8_trustrank" -> (g8TrustRank _),
    "t31_pmi_collocations" -> (t31PmiCollocations _),
    "t32_sentence_stats" -> (t32SentenceStats _),
    "a15_hamming_topk" -> (a15HammingTopK _),
    "m7_scene_cuts" -> (m7SceneCuts _),
    "g9_link_predict" -> (g9LinkPredict _),
    "g10_clustering_coeff" -> (g10ClusteringCoeff _),
    "g11_modularity" -> (g11Modularity _),
    "g12_degree_hist" -> (g12DegreeHist _),
    "s17_late_data" -> (s17LateData _),
    "t33_zipf_profile" -> (t33ZipfProfile _),
    "p12_gini" -> (p12Gini _),
    "a16_mips" -> (a16Mips _),
    "m8_channel_stats" -> (m8ChannelStats _),
    "s18_stream_full_outer" -> (s18StreamFullOuter _),
    "s19_stream_xml_bus" -> (s19StreamXmlBus _),
    "s20_stream_xml_tag" -> (s20StreamXmlTag _),
    "s21_stream_cms" -> (s21StreamCms _),
    "s22_transform_with_state" -> (s22TransformWithState _),
    "s23_tws_mapstate" -> (s23TwsMapState _),
    "s24_tws_session_timers" -> (s24TwsSessionTimers _),
    "s25_stream_curation" -> (s25StreamCuration _),
    "s26_tws_ttl" -> (s26TwsTtl _),
    "s27_tws_recent" -> (s27TwsRecent _),
    "s28_stream_scd2" -> (s28StreamScd2 _),
    "s29_token_bucket" -> (s29TokenBucket _),
    "s30_tws_warm_start" -> (s30TwsWarmStart _),
    "s31_cdc_apply" -> (s31CdcApply _),
    "s32_pt_timer_flush" -> (s32PtTimerFlush _),
    "s33_dual_sink" -> (s33DualSink _),
    "s34_ivf_stream_ingest" -> (s34IvfStreamIngest _),
    "s37_hll_stream_ingest" -> (s37HllStreamIngest _),
    "s38_cms_stream_ingest" -> (s38CmsStreamIngest _),
    "s39_interval_full_outer" -> (s39IntervalFullOuter _),
    "s35_dedup_within_watermark" -> (s35DedupWithinWatermark _),
    "q48_attribution" -> (q48Attribution _),
    "a17_mips_ivf" -> (a17MipsIvf _),
    "a18_filtered_ivf" -> (a18FilteredIvf _),
    "a19_mmr_rerank" -> (a19MmrRerank _),
    "a20_rag_pipeline" -> (a20RagPipeline _),
    "p13_chi_square" -> (p13ChiSquare _),
    "m9_wav_gain" -> (m9WavGain _),
    "t34_readability" -> (t34Readability _),
    "p14_cusum" -> (p14Cusum _),
    "t35_kwic" -> (t35Kwic _),
    "t36_tokenizer_fertility" -> (t36TokenizerFertility _),
    "t37_ffd_pack" -> (t37FfdPack _),
    "t38_html_strip" -> (t38HtmlStrip _),
    "t39_block_extract" -> (t39BlockExtract _),
    "t40_url_canonical" -> (t40UrlCanonical _),
    "t41_corpus_pipeline" -> (t41CorpusPipeline _),
    "p15_mad" -> (p15Mad _),
    "p16_embedding_drift" -> (p16EmbeddingDrift _),
    "p17_hist_drift" -> (p17HistDrift _),
    "p18_ewma_trend" -> (p18Ewma _),
    "p19_weighted_quantile" -> (p19WeightedQuantile _),
    "p20_skew_profile" -> (p20SkewProfile _),
    "p21_retention" -> (p21Retention _),
    "p22_transitions" -> (p22Transitions _),
    "p23_autocorr" -> (p23Autocorr _),
    "p24_benford" -> (p24Benford _),
    "p26_ab_test" -> (p26AbTest _),
    "p27_chi2_drift" -> (p27Chi2Drift _),
    "p28_mwu_drift" -> (p28MwuDrift _),
    "p29_kendall_tau" -> (p29KendallTau _),
    "p30_burstiness" -> (p30Burstiness _),
    "p31_theil_sen" -> (p31TheilSen _),
    "p32_runs_test" -> (p32RunsTest _),
    "p33_spearman" -> (p33Spearman _),
    "t56_good_turing" -> (t56GoodTuring _),
    "g17_topo_layers" -> (g17TopoLayers _),
    "t57_kneser_ney" -> (t57KneserNey _),
    "m24_rotate_bmp" -> (m24RotateBmp _),
    "m25_patch_stats" -> (m25PatchStats _),
    "m26_otsu_threshold" -> (m26OtsuThreshold _),
    "s40_dim_refresh" -> (s40DimRefresh _),
    "g18_neighbor_agg" -> (g18NeighborAgg _),
    "d24_sorted_neighborhood" -> (d24SortedNeighborhood _),
    "g19_louvain" -> (g19Louvain _),
    "t58_theta_intersect" -> (t58ThetaIntersect _),
    "g20_betweenness" -> (g20Betweenness _),
    "m27_goertzel" -> (m27Goertzel _),
    "t59_theta_algebra" -> (t59ThetaAlgebra _),
    "t62_weighted_theta" -> (t62WeightedTheta _),
    "t63_sketch_quantiles" -> (t63SketchQuantiles _),
    "s41_bottomk_stream_ingest" -> (s41BottomKStreamIngest _),
    "g21_louvain_weighted" -> (g21LouvainWeighted _),
    "g22_louvain_two_level" -> (g22LouvainTwoLevel _),
    "g24_louvain_multilevel" -> (g24LouvainMultiLevel _),
    "g25_deepwalk" -> (g25DeepWalks _),
    "g26_coreness" -> (g26Coreness _),
    "m32_spectral_flatness" -> (m32SpectralFlatness _),
    "p43_calibration" -> (p43Calibration _),
    "p35_auc_bias" -> (p35AucBias _),
    "t60_naive_bayes" -> (t60NaiveBayes _),
    "s42_stream_nb_scoring" -> (s42StreamNbScoring _),
    "p36_benford" -> (p36Benford _),
    "g23_harmonic" -> (g23Harmonic _),
    "p37_gini" -> (p37Gini _),
    "s43_observe_metrics" -> (s43ObserveMetrics _),
    "a30_sq8" -> (a30Sq8 _),
    "p38_psi" -> (p38Psi _),
    "t61_zipf" -> (t61Zipf _),
    "p39_kappa" -> (p39Kappa _),
    "p40_isotonic" -> (p40Isotonic _),
    "p41_rolling_actives" -> (p41RollingActives _),
    "p42_mutual_info" -> (p42MutualInfo _),
    "t64_sliding_hll" -> (t64SlidingHll _),
    "m31_image_entropy" -> (m31ImageEntropy _),
    "s45_stream_rolling_actives" -> (s45StreamRollingActives _),
    "a31_nn_descent" -> (a31NnDescent _),
    "a32_ivf_sq8" -> (a32IvfSq8 _),
    "m28_channel_stats" -> (m28ChannelStats _),
    "m29_dct_phash" -> (m29DctPhash _),
    "m30_dtmf_decode" -> (m30DtmfDecode _))

  val oracles: Map[String, String] = Map(
    "t1_text_tokens" -> t1Sql,
    "t2_text_quality" -> t2Sql,
    "t3_text_langid" -> t3Sql,
    "t4_text_fingerprint" -> t4Sql,
    "t5_approx_distinct" -> t5Sql,
    "t6_text_scrub" -> t6Sql,
    "t7_hash_split" -> t7Sql,
    "t8_seq_pack" -> t8Sql,
    "t9_stratified_sample" -> t9Sql,
    "t10_quality_filter" -> t10Sql,
    "t11_repetition" -> t11Sql,
    "t12_hll_union" -> t12Sql,
    "q57_ivm_sketch" -> q57Sql,
    "t13_bm25" -> t13Sql,
    "t14_vocab_encode" -> t14Sql,
    "t15_bigram_lm" -> t15Sql,
    "t16_weighted_sample" -> t16Sql,
    "t17_cms_heavy" -> t17Sql,
    "z1_zorder" -> z1Sql,
    "z2_hilbert" -> z2Sql,
    "z3_pruning_profile" -> z3Sql,
    "t9b_stratified_threshold" -> t9bSql,
    "d1_dedup_exact" -> d1Sql,
    "d2_minhash_sig" -> d2Sql,
    "d3_minhash_pairs" -> d3Sql,
    "d4_simhash" -> d4Sql,
    "d5_ngram_jaccard" -> d5Sql,
    "d6_embed_neardup" -> d6Sql,
    "d7_simhash_pairs" -> d7Sql,
    "d8_embed_pairs" -> d8Sql,
    "d9_minhash_union" -> d9Sql,
    "a1_ann_brute" -> a1Sql,
    "a2_ann_lsh" -> a2Sql,
    "a3_ann_ivf" -> a3Sql,
    "a4_ann_ivf_kmeans" -> a4Sql,
    "a5_ann_recall" -> a5Sql,
    "a6_ann_query_table" -> a6Sql,
    "a7_ann_ivf_query_table" -> a7Sql,
    "g1_pagerank" -> g1Sql,
    "g2_triangles" -> g2Sql,
    "g3_components" -> g3Sql,
    "g13_scc" -> g13Sql,
    "g14_weighted_distance" -> g14Sql,
    "g15_ktruss" -> g15Sql,
    "g16_assortativity" -> g16Sql,
    "m1_multimodal_decode" -> m1Sql,
    "m2_multimodal_resize" -> m2Sql,
    "m10_bmp_crop" -> m10Sql,
    "m11_frame_delta" -> m11Sql,
    "m12_wav_zcr" -> m12Sql,
    "m13_bmp_flip" -> m13Sql,
    "m14_gray_hist" -> m14Sql,
    "m15_shard_manifest" -> m15Sql,
    "m16_image_near_dup" -> m16Sql,
    "m17_wav_decimate" -> m17Sql,
    "m18_avi_drop_frames" -> m18Sql,
    "m19_bilinear_resize" -> m19Sql,
    "m20_letterbox_resize" -> m20Sql,
    "m21_hist_equalize" -> m21Sql,
    "m22_sobel_energy" -> m22Sql,
    "m23_wav_normalize" -> m23Sql,
    "m3_frame_sample" -> m3Sql,
    "s1_stream_window" -> s1Sql,
    "s2_sessionize" -> s2Sql,
    "s3_asof_join" -> s3Sql,
    "s3b_asof_exec" -> s3Sql,
    "s3c_asof_dir_tol" -> s3cSql,
    "s44_stream_asof" -> s44Sql,
    "s4_stream_join" -> s4Sql,
    "s5_stream_xml" -> s5Sql,
    "s6_stream_session" -> s6Sql,
    "s7_stream_enrich" -> s7Sql,
    "s8_checkpoint_recovery" -> s8Sql,
    "t18_bpe_train" -> t18Sql,
    "t51_unigram_train" -> t51Sql,
    "t52_unigram_apply" -> t52Sql,
    "t53_unigram_prune" -> t53Sql,
    "t54_blocklist" -> t54Sql,
    "t55_stupid_backoff" -> t55Sql,
    "t19_token_budget_mix" -> t19Sql,
    "s9_bounded_backfill" -> s9Sql,
    "s10_stateful_counter" -> s10Sql,
    "s11_sliding_window" -> s11Sql,
    "s12_stream_outer_join" -> s12Sql,
    "s36_interval_join" -> s36Sql,
    "s13_stream_dedup" -> s13Sql,
    "s14_stream_semi_join" -> s14Sql,
    "s15_stream_xml_sink" -> s15Sql,
    "s16_stream_anti_join" -> s16Sql,
    "t20_lm_score" -> t20Sql,
    "t21_domain_quota" -> t21Sql,
    "t22_dup_spans" -> t22Sql,
    "t42_span_removal" -> t42Sql,
    "t43_heldout_score" -> t43Sql,
    "t44_assoc_mining" -> t44Sql,
    "t45_quantile_norm" -> t45Sql,
    "t46_oov_drift" -> t46Sql,
    "t47_gopher_rules" -> t47Sql,
    "t48_ngram_novelty" -> t48Sql,
    "t49_token_rank_fluency" -> t49Sql,
    "t50_budget_apportion" -> t50Sql,
    "t23_phrase_search" -> t23Sql,
    "t24_lexical_stats" -> t24Sql,
    "t25_bpe_apply" -> t25Sql,
    "d15_fuzzy_match" -> d15Sql,
    "d16_semantic_dedup" -> d16Sql,
    "d17_entity_resolution" -> d17Sql,
    "d18_prefix_join" -> d18Sql,
    "m4_wav_energy" -> m4Sql,
    "m5_perceptual_hash" -> m5Sql,
    "d10_embed_quant" -> d10Sql,
    "d11_dedup_e2e" -> d11Sql,
    "d12_dedup_clusters" -> d12Sql,
    "d13_dedup_incremental" -> d13Sql,
    "d14_contamination" -> d14Sql,
    "d19_segment_dedup" -> d19Sql,
    "t26_chunk_overlap" -> t26Sql,
    "g4_label_prop" -> g4Sql,
    "g5_seed_distance" -> g5Sql,
    "a8_pq_topk" -> a8Sql,
    "a9_ivfpq_topk" -> a9Sql,
    "a10_pq_recall" -> a10Sql,
    "a21_graph_recall" -> a21Sql,
    "a22_residual_ivfpq" -> a22Sql,
    "a23_bq_hamming" -> a23Sql,
    "a24_knn_probe" -> a24Sql,
    "a26_nprobe_curve" -> a26Sql,
    "a27_ivf_delete" -> a27Sql,
    "a28_ivf_multi_assign" -> a28Sql,
    "a29_kcenter_seeds" -> a29Sql,
    "a11_pq_trained_recall" -> a11Sql,
    "a12_ivf_incremental" -> a12Sql,
    "t27_hybrid_rrf" -> t27Sql,
    "t28_keywords" -> t28Sql,
    "g6_hits" -> g6Sql,
    "t29_epoch_shuffle" -> t29Sql,
    "d20_containment" -> d20Sql,
    "d21_quality_keeper" -> d21Sql,
    "d22_lsh_sweep" -> d22Sql,
    "d23_winnowing" -> d23Sql,
    "a13_random_projection" -> a13Sql,
    "m6_audio_segments" -> m6Sql,
    "p8_histogram" -> p8Sql,
    "g7_kcore" -> g7Sql,
    "t30_quality_funnel" -> t30Sql,
    "p9_ks_drift" -> p9Sql,
    "a14_quantized_recall" -> a14Sql,
    "p9b_ks_binned" -> p9bSql,
    "g8_trustrank" -> g8Sql,
    "t31_pmi_collocations" -> t31Sql,
    "t32_sentence_stats" -> t32Sql,
    "a15_hamming_topk" -> a15Sql,
    "m7_scene_cuts" -> m7Sql,
    "g9_link_predict" -> g9Sql,
    "g10_clustering_coeff" -> g10Sql,
    "g11_modularity" -> g11Sql,
    "g12_degree_hist" -> g12Sql,
    "s17_late_data" -> s17Sql,
    "t33_zipf_profile" -> t33Sql,
    "p12_gini" -> p12Sql,
    "a16_mips" -> a16Sql,
    "m8_channel_stats" -> m8Sql,
    "s18_stream_full_outer" -> s18Sql,
    "s19_stream_xml_bus" -> s19Sql,
    "s20_stream_xml_tag" -> s20Sql,
    "s21_stream_cms" -> s21Sql,
    "s22_transform_with_state" -> s22Sql,
    "s23_tws_mapstate" -> s23Sql,
    "s24_tws_session_timers" -> s24Sql,
    "s25_stream_curation" -> s25Sql,
    "s26_tws_ttl" -> s26Sql,
    "s27_tws_recent" -> s27Sql,
    "s28_stream_scd2" -> s28Sql,
    "s29_token_bucket" -> s29Sql,
    "s30_tws_warm_start" -> s30Sql,
    "s31_cdc_apply" -> s31Sql,
    "s32_pt_timer_flush" -> s32Sql,
    "s33_dual_sink" -> s33Sql,
    "s34_ivf_stream_ingest" -> s34Sql,
    "s37_hll_stream_ingest" -> s37Sql,
    "s38_cms_stream_ingest" -> s38Sql,
    "s39_interval_full_outer" -> s39Sql,
    "s35_dedup_within_watermark" -> s35Sql,
    "q48_attribution" -> q48Sql,
    "a17_mips_ivf" -> a17Sql,
    "a18_filtered_ivf" -> a18Sql,
    "a19_mmr_rerank" -> a19Sql,
    "a20_rag_pipeline" -> a20Sql,
    "p13_chi_square" -> p13Sql,
    "m9_wav_gain" -> m9Sql,
    "t34_readability" -> t34Sql,
    "p14_cusum" -> p14Sql,
    "t35_kwic" -> t35Sql,
    "t36_tokenizer_fertility" -> t36Sql,
    "t37_ffd_pack" -> t37Sql,
    "t38_html_strip" -> t38Sql,
    "t39_block_extract" -> t39Sql,
    "t40_url_canonical" -> t40Sql,
    "t41_corpus_pipeline" -> t41Sql,
    "p15_mad" -> p15Sql,
    "p16_embedding_drift" -> p16Sql,
    "p17_hist_drift" -> p17Sql,
    "p18_ewma_trend" -> p18Sql,
    "p19_weighted_quantile" -> p19Sql,
    "p20_skew_profile" -> p20Sql,
    "p21_retention" -> p21Sql,
    "p22_transitions" -> p22Sql,
    "p23_autocorr" -> p23Sql,
    "p24_benford" -> p24Sql,
    "p26_ab_test" -> p26Sql,
    "p27_chi2_drift" -> p27Sql,
    "p28_mwu_drift" -> p28Sql,
    "p29_kendall_tau" -> p29Sql,
    "p30_burstiness" -> p30Sql,
    "p31_theil_sen" -> p31Sql,
    "p32_runs_test" -> p32Sql,
    "p33_spearman" -> p33Sql,
    "t56_good_turing" -> t56Sql,
    "g17_topo_layers" -> g17Sql,
    "t57_kneser_ney" -> t57Sql,
    "m24_rotate_bmp" -> m24Sql,
    "m25_patch_stats" -> m25Sql,
    "m26_otsu_threshold" -> m26Sql,
    "s40_dim_refresh" -> s40Sql,
    "g18_neighbor_agg" -> g18Sql,
    "d24_sorted_neighborhood" -> d24Sql,
    "g19_louvain" -> g19Sql,
    "t58_theta_intersect" -> t58Sql,
    "g20_betweenness" -> g20Sql,
    "m27_goertzel" -> m27Sql,
    "t59_theta_algebra" -> t59Sql,
    "t62_weighted_theta" -> t62Sql,
    "t63_sketch_quantiles" -> t63Sql,
    "s41_bottomk_stream_ingest" -> s41Sql,
    "g21_louvain_weighted" -> g21Sql,
    "g22_louvain_two_level" -> g22Sql,
    "g24_louvain_multilevel" -> g24Sql,
    "g25_deepwalk" -> g25Sql,
    "g26_coreness" -> g26Sql,
    "m32_spectral_flatness" -> m32Sql,
    "p43_calibration" -> p43Sql,
    "p35_auc_bias" -> p35Sql,
    "t60_naive_bayes" -> t60Sql,
    "s42_stream_nb_scoring" -> s42Sql,
    "p36_benford" -> p36Sql,
    "g23_harmonic" -> g23Sql,
    "p37_gini" -> p37Sql,
    "s43_observe_metrics" -> s43Sql,
    "a30_sq8" -> a30Sql,
    "p38_psi" -> p38Sql,
    "t61_zipf" -> t61Sql,
    "p39_kappa" -> p39Sql,
    "p40_isotonic" -> p40Sql,
    "p41_rolling_actives" -> p41Sql,
    "p42_mutual_info" -> p42Sql,
    "t64_sliding_hll" -> t64Sql,
    "m31_image_entropy" -> m31Sql,
    "s45_stream_rolling_actives" -> s45Sql,
    "a31_nn_descent" -> a31Sql,
    "a32_ivf_sq8" -> a32Sql,
    "m28_channel_stats" -> m28Sql,
    "m29_dct_phash" -> m29Sql,
    "m30_dtmf_decode" -> m30Sql)
}
