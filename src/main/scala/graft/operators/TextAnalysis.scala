package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.functions.Parity._
import graft.functions.TextFns._

/** Text-analysis operators over the `documents` table: token stats,
  * quality scoring, language-ID heuristics, fingerprinting.
  *
  * These are the driver-mandated training-data-pipeline extensions
  * (BASELINE.json north star "text analysis"); the reference's own text
  * surface is only sanitize/format (SURVEY.md §2 F2/M6), generalized in
  * [[graft.operators.Pipeline]].
  *
  * Scale posture: every query is a narrow projection + per-row scalar
  * expressions (all codegen'd built-ins — no UDFs) followed by one
  * partial-aggregable groupBy. Nothing here shuffles the document text
  * itself except q33's per-doc output (a scan-shaped result).
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q30
  /** Per-language token statistics. */
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  private val q30Sql =
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  min(n_tokens) AS min_tokens,
       |  max(n_tokens) AS max_tokens,
       |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM (SELECT lang, n_chars,
       |        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |      FROM documents)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Per-document quality scoring: lexical-diversity and stopword
    * ratios + length features, bucketed into a quality grade. */
  private def q31(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_unique", size(array_distinct(t)).cast("long"))
      .withColumn("n_stop",
        size(filter(t, w => w === "the" || w === "a")).cast("long"))
      .withColumn("uniq_ratio",
        col("n_unique").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("avg_token_len",
        (col("n_chars") - col("n_tokens") + lit(1L)).cast(DoubleType) /
          col("n_tokens").cast(DoubleType))
      .withColumn("quality",
        when(col("n_tokens") >= 30L && col("uniq_ratio") >= 0.4 &&
          col("stop_ratio") <= 0.2, "high")
          .when(col("n_tokens") >= 15L, "medium")
          .otherwise("low"))
      .select(col("doc_id"), col("n_tokens"), col("n_unique"), col("n_stop"),
        col("uniq_ratio"), col("stop_ratio"), col("avg_token_len"), col("quality"))
      .orderBy(col("doc_id"))
  }

  private val q31Sql = {
    val t = tokensSql("text")
    s"""SELECT doc_id, n_tokens, n_unique, n_stop,
       |  CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS uniq_ratio,
       |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       |  CASE WHEN n_tokens >= 30
       |         AND CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.4
       |         AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2
       |       THEN 'high'
       |       WHEN n_tokens >= 15 THEN 'medium'
       |       ELSE 'low' END AS quality
       |FROM (SELECT doc_id, n_chars,
       |        CAST(len($t) AS BIGINT) AS n_tokens,
       |        CAST(len(list_distinct($t)) AS BIGINT) AS n_unique,
       |        CAST(len(list_filter($t, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q32
  /** Language-ID heuristic (char n-gram + vowel-ratio features) and its
    * confusion matrix against the labelled `lang` column. */
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val guessed = Tables.documents(spark, dir)
      .withColumn("n_th", regexp_count(col("text"), lit("th")).cast("long"))
      .withColumn("n_vow", regexp_count(col("text"), lit("[aeiou]")).cast("long"))
      .withColumn("r_th",
        col("n_th").cast(DoubleType) * 100.0 / col("n_chars").cast(DoubleType))
      .withColumn("r_vow",
        col("n_vow").cast(DoubleType) / col("n_chars").cast(DoubleType))
      .withColumn("guess",
        when(col("r_th") >= 2.0, "en")
          .when(col("r_vow") >= 0.34, "es")
          .when(col("r_vow") >= 0.32, "fr")
          .when(col("r_vow") >= 0.30, "de")
          .otherwise("zh"))
    guessed.groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("guess"))
  }

  private val q32Sql =
    """SELECT lang, guess, count(*) AS n_docs
      |FROM (
      |  SELECT lang,
      |    CASE WHEN CAST(len(regexp_extract_all(text, 'th')) AS DOUBLE) * 100.0
      |              / CAST(n_chars AS DOUBLE) >= 2.0 THEN 'en'
      |         WHEN CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
      |              / CAST(n_chars AS DOUBLE) >= 0.34 THEN 'es'
      |         WHEN CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
      |              / CAST(n_chars AS DOUBLE) >= 0.32 THEN 'fr'
      |         WHEN CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
      |              / CAST(n_chars AS DOUBLE) >= 0.30 THEN 'de'
      |         ELSE 'zh' END AS guess
      |  FROM documents)
      |GROUP BY lang, guess
      |ORDER BY lang, guess""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Document fingerprinting: full md5, a 32-bit bucket hash, and a
    * normalized (sorted-unique-token) content fingerprint. */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_exact"),
        (md5u32(col("text")) % 64L).as("bucket"),
        contentFp(col("text")).as("fp_content"))
      .orderBy(col("doc_id"))
  }

  private val q33Sql = {
    s"""SELECT doc_id,
       |  md5(text) AS fp_exact,
       |  ${md5u32Sql("text")} % 64 AS bucket,
       |  ${contentFpSql("text")} AS fp_content
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q46
  /** Token counting two ways: whitespace words vs a BPE-ish regex
    * segmentation (alpha runs / digit runs / single non-alnum marks —
    * the shape of a byte-pair pre-tokenizer). The ratio estimates
    * LLM-token cost per document; aggregated per language. */
  private def q46(spark: SparkSession, dir: String): DataFrame = {
    val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    Tables.documents(spark, dir)
      .withColumn("n_ws", size(tokens(col("text"))).cast("long"))
      .withColumn("n_bpe", regexp_count(col("text"), lit(bpePattern)).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_bpe")).as("bpe_tokens"),
        (sum(col("n_bpe")).cast(DoubleType) /
          sum(col("n_ws")).cast(DoubleType)).as("bpe_per_word"))
      .orderBy(col("lang"))
  }

  private val q46Sql = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_ws) AS DOUBLE) AS bpe_per_word
       |FROM (SELECT lang,
       |        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_ws,
       |        CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe
       |      FROM documents)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q50
  /** Exact vocabulary statistics per language: distinct tokens, total
    * tokens, type-token ratio. One explode + one partial-aggregable
    * distinct agg (Spark plans count(distinct) as a two-phase expand). */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("w")).as("vocab"),
        count(lit(1)).as("total_tokens"),
        (countDistinct(col("w")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("type_token_ratio"))
      .orderBy(col("lang"))
  }

  private val q50Sql =
    s"""SELECT lang,
       |  count(DISTINCT w) AS vocab,
       |  count(*) AS total_tokens,
       |  CAST(count(DISTINCT w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS type_token_ratio
       |FROM (SELECT lang, unnest(${tokensSql("text")}) AS w FROM documents)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Relative-error bound asserted of the HLL estimate: default rsd is
    * 0.05, so 0.15 = 3σ — comfortably satisfied on any real input, tight
    * enough that a broken sketch (or a broken rewrite of this query)
    * fails loudly. */
  val ApproxVocabBound = 0.15

  /** Sketch-based vocabulary: `approx_count_distinct` (HyperLogLog++).
    * The scale path for q50 — constant memory per group instead of an
    * exact distinct expand.
    *
    * Oracle strategy: the raw HLL estimate is engine-specific, so the
    * DuckDB twin cannot replay it. Instead the query asserts the
    * estimate in-engine — `approx_ok` = relative error vs the exact
    * count within [[ApproxVocabBound]] — and outputs the exact count
    * beside it; the oracle computes the exact count and `TRUE`. Spark's
    * HLL is deterministic for a fixed dataset, so the row is fully
    * hash-checkable (round-1's one `no_oracle` gap, closed). The paired
    * exact aggregate exists to make the sketch verifiable; the
    * production path at 100 TB is the approx branch alone. */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("w")).as("vocab_exact"),
        approx_count_distinct(col("w")).as("vocab_approx"),
        count(lit(1)).as("total_tokens"))
      .select(col("lang"), col("vocab_exact"), col("total_tokens"),
        (abs(col("vocab_approx") - col("vocab_exact")).cast(DoubleType) /
          col("vocab_exact").cast(DoubleType) <= ApproxVocabBound)
          .as("approx_ok"))
      .orderBy(col("lang"))
  }

  private val q51Sql =
    s"""SELECT lang,
       |  count(DISTINCT w) AS vocab_exact,
       |  count(*) AS total_tokens,
       |  TRUE AS approx_ok
       |FROM (SELECT lang, unnest(${tokensSql("text")}) AS w FROM documents)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q57
  /** TF-IDF top-10 terms per language — the "what characterizes this
    * slice of the corpus" report every training-data curation loop runs.
    *
    * Determinism across engines: the only transcendental step is one
    * `ln((N+1)/(df+1))` per distinct document frequency; its argument is
    * an exactly-representable ratio of small ints in both engines, and
    * the per-(doc,term) score is immediately floored to integer
    * micro-units, so a 1-ulp `ln` divergence only matters if the product
    * sits within ~1e-10 of an integer boundary (probability ≈ 0 at any
    * corpus size — and the oracle hash would catch it loudly, not
    * silently). All aggregation on top is exact int64.
    *
    * Scale posture: one partial-aggregable groupBy over (lang, doc,
    * term) for tf, one distinct+groupBy for df (at 100 TB the df side is
    * where you'd swap in a CountMinSketch — exact df needs the distinct
    * shuffle), broadcast N, then a per-lang top-k window over the
    * lang-keyed aggregate (small). */
  private def q57(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = toks.groupBy(col("lang"), col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dft = toks.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, "w").crossJoin(broadcast(n))
      .withColumn("score_u",
        floor(lit(1000000.0) * col("tf").cast(DoubleType) *
          log((col("n_docs") + 1L).cast(DoubleType) /
            (col("df") + 1L).cast(DoubleType))).cast("long"))
    val perLang = scored.groupBy(col("lang"), col("w").as("term"))
      .agg(max(col("df")).as("doc_freq"), sum(col("score_u")).as("tfidf_u"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("tfidf_u").desc, col("term"))
    perLang.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 10)
      .orderBy(col("lang"), col("rank"))
  }

  private val q57Sql =
    s"""WITH toks AS (
       |  SELECT lang, doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
       |tf AS (SELECT lang, doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |dft AS (SELECT w, count(*) AS df
       |        FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT lang, t.w, df,
       |    CAST(floor(1000000.0 * CAST(tf AS DOUBLE) *
       |      ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))) AS BIGINT) AS score_u
       |  FROM tf t JOIN dft USING (w) CROSS JOIN n),
       |agg AS (
       |  SELECT lang, w AS term, max(df) AS doc_freq,
       |    CAST(sum(score_u) AS BIGINT) AS tfidf_u
       |  FROM scored GROUP BY 1, 2)
       |SELECT lang, term, doc_freq, tfidf_u, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY tfidf_u DESC, term) AS rank
       |  FROM agg)
       |WHERE rank <= 10
       |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Document-length distribution profile per language: exact
    * interpolated quantiles (p25/p50/p75/p95) of `n_chars`, plus min and
    * max — the length-cutoff calibration report a corpus-filtering pass
    * starts from. Quantiles are floored to milli-units: Spark
    * `percentile` and DuckDB `quantile_cont` interpolate with
    * algebraically-equal but differently-associated formulas, so raw
    * doubles can differ in the last ulp; the floor removes that.
    *
    * Scale posture: exact percentile sorts within each group — fine for
    * bounded groups (languages); at 100 TB per-group cardinality you'd
    * swap `percentile_approx` (t-digest, partial-aggregable) and assert
    * it against this exact anchor, as q51 does for HLL. */
  private def q61(spark: SparkSession, dir: String): DataFrame = {
    def pm(p: Double, name: String) =
      floor(expr(s"percentile(n_chars, $p)") * 1000.0).cast("long").as(name)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        pm(0.25, "p25_mil"), pm(0.5, "p50_mil"), pm(0.75, "p75_mil"),
        pm(0.95, "p95_mil"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))
  }

  private val q61Sql = {
    def pm(p: Double, name: String) =
      s"CAST(floor(quantile_cont(n_chars, $p) * 1000.0) AS BIGINT) AS $name"
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  min(n_chars) AS min_chars,
       |  ${pm(0.25, "p25_mil")},
       |  ${pm(0.5, "p50_mil")},
       |  ${pm(0.75, "p75_mil")},
       |  ${pm(0.95, "p95_mil")},
       |  max(n_chars) AS max_chars
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q90
  /** SKETCH QUANTILES — q61's documented 100 TB path made real: the
    * same per-language length profile computed with `percentile_approx`
    * (Spark's partial-aggregable quantile sketch — bounded memory per
    * group at ANY cardinality, where q61's exact `percentile` buffers
    * every value), ASSERTED in-engine against the exact anchor the way
    * q51 asserts HLL against exact distinct: `approx_ok_*` = the sketch
    * estimate within [[ApproxQuantileRelTol]] of the exact interpolated
    * quantile. The oracle hash-checks the exact milli-floored anchors
    * AND the assertion booleans (DuckDB cannot replay Spark's sketch,
    * so TRUE is the pinned expectation — a sketch drifting out of
    * tolerance fails the row hash loudly).
    *
    * Scale posture: this is the query you actually run at 100 TB —
    * ObjectHashAggregate with map-side combine, sketch size bounded by
    * the accuracy parameter (~accuracy buckets), no per-group
    * full-value buffer; the exact anchor columns exist here to keep the
    * sketch honest and would be dropped at scale. */
  val ApproxQuantileAccuracy = 10000
  val ApproxQuantileRelTol = 0.05

  private def q90(spark: SparkSession, dir: String): DataFrame = {
    def pm(p: Double, name: String) =
      floor(expr(s"percentile(n_chars, $p)") * 1000.0).cast("long").as(name)
    def within(approxMil: Column, exactMil: Column): Column =
      abs(approxMil - exactMil.cast(DoubleType)) <=
        lit(ApproxQuantileRelTol) * exactMil.cast(DoubleType)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        pm(0.5, "p50_mil"), pm(0.95, "p95_mil"),
        (expr(s"percentile_approx(n_chars, 0.5, $ApproxQuantileAccuracy)")
          .cast(DoubleType) * 1000.0).as("a50_mil"),
        (expr(s"percentile_approx(n_chars, 0.95, $ApproxQuantileAccuracy)")
          .cast(DoubleType) * 1000.0).as("a95_mil"))
      .withColumn("approx_ok_p50", within(col("a50_mil"), col("p50_mil")))
      .withColumn("approx_ok_p95", within(col("a95_mil"), col("p95_mil")))
      .select(col("lang"), col("n_docs"), col("p50_mil"), col("p95_mil"),
        col("approx_ok_p50"), col("approx_ok_p95"))
      .orderBy(col("lang"))
  }

  private val q90Sql =
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(floor(quantile_cont(n_chars, 0.5) * 1000.0) AS BIGINT) AS p50_mil,
       |  CAST(floor(quantile_cont(n_chars, 0.95) * 1000.0) AS BIGINT) AS p95_mil,
       |  TRUE AS approx_ok_p50,
       |  TRUE AS approx_ok_p95
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q91
  /** PMI COLLOCATIONS top-20 — document-level pointwise mutual
    * information over distinct word pairs: PMI(a,b) = ln(N·c_ab /
    * (c_a·c_b)) in micro-nats, support-filtered (c_ab ≥
    * [[PmiMinSupport]]). The collocation-mining pass tokenizer/vocab
    * design runs: pairs that co-occur far above chance are merge/phrase
    * candidates, and a source whose top PMI pairs are navigation chrome
    * is a template farm (the statistical complement of q81's verbatim
    * boilerplate detector).
    *
    * Determinism: q57's recipe — one `ln` per surviving pair, exact
    * small-int ratio argument (all products < 2⁵³), immediate
    * micro-floor, tie-broken total order.
    *
    * Scale posture: the pair generator is a doc_id-keyed equi-self-join
    * over per-doc DISTINCT words (never a Cartesian) with per-doc
    * fan-out = distinct-vocab² — bounded here by the tiny vocabulary;
    * at corpus scale the standard cap is top-K words per doc by tf
    * before pairing (collocation windows), which this plan absorbs as
    * one extra filter on `dw`. The (w1, w2) pair aggregate is
    * partial-aggregable with the support filter pruning the long tail;
    * unigram counts join vocabulary-sized lookups; N broadcasts. */
  val PmiMinSupport = 5L

  private def q91(spark: SparkSession, dir: String): DataFrame = {
    val dw = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("w"))
    val n = dw.agg(countDistinct(col("doc_id")).as("n_docs"))
    val cw = dw.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = dw.as("a").join(dw.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinSupport)
    pairs
      .join(cw.toDF("w1", "c_a"), "w1")
      .join(cw.toDF("w2", "c_b"), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi_u",
        floor(lit(1000000.0) * log(col("n_docs").cast(DoubleType) *
          col("c_ab").cast(DoubleType) /
          (col("c_a").cast(DoubleType) * col("c_b").cast(DoubleType))))
          .cast("long"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        col("pmi_u"))
      .orderBy(col("pmi_u").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val q91Sql =
    s"""WITH dw AS (
       |  SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS w
       |  FROM documents),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dw),
       |cw AS (SELECT w, count(*) AS c FROM dw GROUP BY 1),
       |pairs AS (
       |  SELECT a.w AS w1, b.w AS w2, count(*) AS c_ab
       |  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $PmiMinSupport)
       |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       |  CAST(ca.c AS BIGINT) AS c_a, CAST(cb.c AS BIGINT) AS c_b,
       |  CAST(floor(1000000.0 * ln(CAST(n_docs AS DOUBLE) *
       |    CAST(c_ab AS DOUBLE) /
       |    (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))) AS BIGINT) AS pmi_u
       |FROM pairs JOIN cw ca ON ca.w = w1 JOIN cw cb ON cb.w = w2 CROSS JOIN n
       |ORDER BY pmi_u DESC, w1, w2
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Text normalization — the cleaning transform every corpus pass runs
    * before fingerprinting/dedup: lowercase, strip non-alphanumerics to
    * spaces, collapse whitespace runs, trim. Reported as the normalized
    * fingerprint plus length-reduction stats per source (how much
    * boilerplate the cleaner removes — the knob-tuning signal).
    * Pure codegen'd `regexp_replace`/`lower`/`trim` chain: scan-shaped,
    * no shuffle before the per-source aggregate. */
  private def q67(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
      " +", " "))
    Tables.documents(spark, dir)
      .withColumn("norm_len", length(norm).cast("long"))
      .withColumn("fp_norm", md5(norm))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("raw_chars"),
        sum(col("norm_len")).as("norm_chars"),
        (lit(1.0) - sum(col("norm_len")).cast(DoubleType) /
          sum(col("n_chars")).cast(DoubleType)).as("reduction"),
        countDistinct(col("fp_norm")).as("distinct_norm_fp"))
      .orderBy(col("source"))
  }

  private val q67Sql = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS raw_chars,
       |  CAST(sum(len($norm)) AS BIGINT) AS norm_chars,
       |  1.0 - CAST(sum(len($norm)) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)
       |    AS reduction,
       |  count(DISTINCT md5($norm)) AS distinct_norm_fp
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q68
  /** Sensitive-content scan: per-source counts of documents containing
    * email-shaped tokens, URL-shaped tokens, and long digit runs
    * (phone/ID-shaped) — the redaction-triage report a corpus release
    * runs first. Pure codegen'd `regexp_count` per row, one
    * partial-aggregable groupBy; at 100 TB this is exactly as expensive
    * as one narrow scan of the text column. */
  private def q68(spark: SparkSession, dir: String): DataFrame = {
    def hits(pat: String) = (regexp_count(col("text"), lit(pat)) > 0)
    val email = "[a-z0-9._-]+@[a-z0-9.-]+"
    val url = "https?://[^ ]+"
    val digits = "[0-9]{6,}"
    Tables.documents(spark, dir)
      .select(col("source"),
        when(hits(email), 1L).otherwise(0L).as("has_email"),
        when(hits(url), 1L).otherwise(0L).as("has_url"),
        when(hits(digits), 1L).otherwise(0L).as("has_digit_run"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_email")).as("n_email"),
        sum(col("has_url")).as("n_url"),
        sum(col("has_digit_run")).as("n_digit_run"))
      .orderBy(col("source"))
  }

  private val q68Sql = {
    def hits(pat: String) = s"len(regexp_extract_all(text, '$pat')) > 0"
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ${hits("[a-z0-9._-]+@[a-z0-9.-]+")} THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
       |  CAST(sum(CASE WHEN ${hits("https?://[^ ]+")} THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
       |  CAST(sum(CASE WHEN ${hits("[0-9]{6,}")} THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_run
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q74
  /** REDACTION transform — q68 is the triage report; this is the act:
    * rewrite every document with denylist terms replaced by
    * `<REDACTED>` and log, per affected doc, the match count (against
    * the original text), the redacted text's fingerprint, and its
    * length. The fingerprint is what a release pipeline stores: it
    * proves which exact redacted bytes shipped without re-reading raw
    * text. The denylist here is two corpus terms standing in for a
    * sensitive-term dictionary; the PII regexes q68 scans for (email /
    * URL / digit-run) drop into the same `regexp_replace` chain
    * unchanged — this synthetic corpus just never contains them.
    *
    * Pure codegen'd `regexp_replace`/`regexp_count` per row — one
    * narrow scan, no shuffle before the per-doc log's sort. (Oracle
    * twin needs DuckDB's 'g' flag: Spark replaces all matches by
    * default, DuckDB only the first.) */
  private def q74(spark: SparkSession, dir: String): DataFrame = {
    val deny = "\\b(customer|supplier)\\b"
    val red = regexp_replace(col("text"), deny, "<REDACTED>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(deny)).cast("long").as("n_hits"),
        md5(red).as("redacted_fp"),
        length(red).cast("long").as("n_chars_redacted"))
      .filter(col("n_hits") > 0L)
      .orderBy(col("doc_id"))
  }

  private val q74Sql = {
    val deny = "\\b(customer|supplier)\\b"
    val red = s"regexp_replace(text, '$deny', '<REDACTED>', 'g')"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$deny')) AS BIGINT) AS n_hits,
       |  md5($red) AS redacted_fp,
       |  CAST(length($red) AS BIGINT) AS n_chars_redacted
       |FROM documents
       |WHERE len(regexp_extract_all(text, '$deny')) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q62
  /** Per-column data-quality profile of the corpus table — row counts,
    * null counts, distinct cardinality, min/max — the ingest-time
    * assertion set (schema drift, null explosions, truncated loads) a
    * training-data pipeline runs before anything else touches the data.
    *
    * One single-row aggregate per profiled column, unioned: each is
    * partial-aggregable and scans the one column it profiles (column
    * pruning keeps the text column out of the numeric profiles). At
    * 100 TB the `n_distinct` side swaps to `approx_count_distinct`
    * anchored by this exact form (the q51 pattern). */
  private def q62(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // count-distinct SPLIT from the min/max(string) fold: combined,
    // Spark's two-phase distinct rewrite groups phase 1 by the
    // column's VALUES, and the string min/max buffers demote that
    // corpus-keyed aggregate to SortAggregate — the whole-surface
    // census caught q62 sorting the corpus by doc_id. Split, the
    // distinct phase stays HashAggregate and the min/max fold is a
    // grouping-free (sort-free) single pass; the 1×1 join is a
    // broadcast of one row.
    def prof(c: String): DataFrame = {
      val basic = docs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
      val nd = docs.agg(countDistinct(col(c)).as("n_distinct"))
      basic.crossJoin(broadcast(nd))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }
    Seq("doc_id", "lang", "source", "n_chars")
      .map(prof).reduce(_ union _)
      .orderBy(col("col_name"))
  }

  private val q62Sql = {
    def prof(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_val,
         |  CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(prof)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---------------------------------------------------------------- q55
  /** Deterministic stratified sampling: ~10% of documents per language,
    * selected by content hash (`md5u32(doc_id:text) % 100 < 10`) — not
    * RNG. Hash-based selection is reproducible across runs, engines, and
    * cluster sizes (the property training-data splits need; `TABLESAMPLE`
    * gives none of it), and the per-stratum report quantifies the
    * realized rate. */
  private def q55(spark: SparkSession, dir: String): DataFrame = {
    val inSample =
      md5u32(concat(col("doc_id").cast("string"), lit(":"), col("text"))) % 100L < 10L
    Tables.documents(spark, dir)
      .withColumn("sampled", when(inSample, 1L).otherwise(0L))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("sampled")).as("n_sampled"),
        (sum(col("sampled")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("rate"),
        min(when(col("sampled") === 1L, col("doc_id"))).as("first_sampled_doc"))
      .orderBy(col("lang"))
  }

  private val q55Sql = {
    val h = md5u32Sql("(CAST(doc_id AS VARCHAR) || ':' || text)")
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN $h % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(sum(CASE WHEN $h % 100 < 10 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS rate,
       |  min(CASE WHEN $h % 100 < 10 THEN doc_id END) AS first_sampled_doc
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q75
  /** Weighted SOURCE MIXING — the data-mixing step of corpus assembly:
    * each source gets a sampling weight (its share of the training
    * mix), and documents are admitted by deterministic content hash
    * against that weight — reproducible across runs, engines, and
    * cluster sizes, unlike RNG sampling (q55's property, extended from
    * uniform strata to a weighted mixing config). Weights here derive
    * from the source name (`1 + md5u32(source) % 4` quarter-steps);
    * production swaps in a real config table — same broadcast join.
    *
    * The report is per source: configured weight, doc counts, realized
    * admit rate, and the admitted TOKEN mass — the quantity a mixing
    * recipe actually budgets. One scan + one partial-aggregable
    * groupBy; the weights side is a broadcast of |sources| rows. */
  /** The mixing config + admit rule, ONE definition each — q75 reports
    * on them and q78's funnel re-applies them; a fork here would make
    * the funnel's `4_mixed` row silently stop matching the stage it
    * summarizes. Weight: quarter-steps 250/500/750/1000 milli from the
    * source name; admit: content-hash of `doc_id#source` under the
    * weight. */
  private[operators] def mixWMilli: Column =
    (lit(1L) + md5u32(col("source")) % 4L) * 250L
  private[operators] def mixAdmit(wMilli: Column): Column =
    md5u32(concat(col("doc_id").cast("string"), lit("#"), col("source"))) %
      1000L < wMilli
  private[operators] def mixWMilliSql(src: String): String =
    s"(1 + ${md5u32Sql(src)} % 4) * 250"
  private[operators] def mixAdmitSql(docId: String, src: String): String =
    s"${md5u32Sql(s"(CAST($docId AS VARCHAR) || '#' || $src)")} % 1000 " +
      s"< ${mixWMilliSql(src)}"

  private def q75(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("w_milli", mixWMilli)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("admitted", when(mixAdmit(col("w_milli")), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(
        max(col("w_milli")).as("w_milli"), // constant per source
        count(lit(1)).as("n_docs"),
        sum(col("admitted")).as("n_admitted"),
        (sum(col("admitted")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("admit_rate"),
        sum(col("admitted") * col("n_tokens")).as("admitted_tokens"))
      .orderBy(col("source"))
  }

  private val q75Sql =
    s"""SELECT source,
       |  CAST(max(w_milli) AS BIGINT) AS w_milli,
       |  count(*) AS n_docs,
       |  CAST(sum(admitted) AS BIGINT) AS n_admitted,
       |  CAST(sum(admitted) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS admit_rate,
       |  CAST(sum(admitted * n_tokens) AS BIGINT) AS admitted_tokens
       |FROM (SELECT source, ${mixWMilliSql("source")} AS w_milli,
       |        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |        CASE WHEN ${mixAdmitSql("doc_id", "source")} THEN 1 ELSE 0 END AS admitted
       |      FROM documents)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q94
  /** TEMPERATURE-RESAMPLED SOURCE MIXING — the multilingual-LM α-scaled
    * sampling rule (p_s^α renormalized, α = [[MixAlpha]]) that q75's
    * fixed config weights can't express: α < 1 flattens the source
    * distribution, up-weighting small sources and down-weighting
    * dominant ones, with the total budget pinned to half the corpus.
    * Per source: the empirical share, the α-scaled target rate, and the
    * realized admission (deterministic content-hash thresholding, q75's
    * rule — reproducible across runs/engines/cluster sizes where RNG
    * sampling is not).
    *
    * Determinism: `pow` is the only transcendental; the per-source rate
    * is floored to micro-units before it becomes the hash threshold
    * (q57's argument — a 1-ulp `pow` divergence flips the rate only
    * within ~1e-9 of an integer boundary), and every count above is
    * exact int64.
    *
    * Scale posture: two tiny aggregates over source cardinality (the
    * counts, then the normalizer) broadcast back onto a single
    * stateless per-row admission scan — no shuffle of documents. */
  val MixAlpha = 0.3
  val MixBudgetShare = 0.5

  private def q94(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    // pow is floored to micro-units BEFORE the normalizer sum: a raw
    // sum(double) is accumulation-order-dependent, exact int64 isn't.
    val powed = perSrc.withColumn("pw_u",
      floor(lit(1000000.0) *
        pow(col("n_docs").cast(DoubleType), lit(MixAlpha))).cast("long"))
    val tot = powed.agg(sum(col("n_docs")).as("n_total"),
      sum(col("pw_u")).as("z_u"))
    // rate_s = min(1, budget * w_s / n_s), w_s = pw_u_s / z_u
    val rates = powed.crossJoin(broadcast(tot))
      .withColumn("share_u",
        floor(lit(1000000.0) * col("n_docs").cast(DoubleType) /
          col("n_total").cast(DoubleType)).cast("long"))
      .withColumn("rate_u",
        least(lit(1000000L),
          floor(lit(1000000.0) * lit(MixBudgetShare) *
            col("n_total").cast(DoubleType) *
            (col("pw_u").cast(DoubleType) / col("z_u").cast(DoubleType)) /
            col("n_docs").cast(DoubleType)).cast("long")))
      .select(col("source"), col("n_docs"), col("share_u"), col("rate_u"))
    docs
      .join(broadcast(rates), "source")
      .withColumn("admitted",
        when(md5u32(concat_ws(":", col("doc_id"), col("source"), lit("temp")))
          % 1000000L < col("rate_u"), 1L).otherwise(0L))
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("share_u")).as("share_u"),
        max(col("rate_u")).as("rate_u"),
        sum(col("admitted")).as("n_admitted"),
        sum(col("admitted") * col("n_tokens")).as("admitted_tokens"))
      .orderBy(col("source"))
  }

  private val q94Sql = {
    val h = md5u32Sql("(CAST(doc_id AS VARCHAR) || ':' || source || ':temp')")
    s"""WITH per_src AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |powed AS (
       |  SELECT source, n_docs,
       |    CAST(floor(1000000.0 * pow(CAST(n_docs AS DOUBLE), $MixAlpha))
       |      AS BIGINT) AS pw_u
       |  FROM per_src),
       |tot AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |    CAST(sum(pw_u) AS BIGINT) AS z_u
       |  FROM powed),
       |rates AS (
       |  SELECT source, n_docs,
       |    CAST(floor(1000000.0 * CAST(n_docs AS DOUBLE) /
       |      CAST(n_total AS DOUBLE)) AS BIGINT) AS share_u,
       |    least(1000000,
       |      CAST(floor(1000000.0 * $MixBudgetShare *
       |        CAST(n_total AS DOUBLE) *
       |        (CAST(pw_u AS DOUBLE) / CAST(z_u AS DOUBLE)) /
       |        CAST(n_docs AS DOUBLE)) AS BIGINT)) AS rate_u
       |  FROM powed CROSS JOIN tot)
       |SELECT source,
       |  CAST(max(n_docs) AS BIGINT) AS n_docs,
       |  CAST(max(share_u) AS BIGINT) AS share_u,
       |  CAST(max(rate_u) AS BIGINT) AS rate_u,
       |  CAST(sum(admitted) AS BIGINT) AS n_admitted,
       |  CAST(sum(admitted * n_tokens) AS BIGINT) AS admitted_tokens
       |FROM (
       |  SELECT d.source, r.n_docs, r.share_u, r.rate_u,
       |    CASE WHEN $h % 1000000 < r.rate_u THEN 1 ELSE 0 END AS admitted,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN rates r USING (source))
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q95
  /** PER-SOURCE QUALITY REPORT — q89's gate decisions grouped by feed:
    * admit rate plus the reject-reason breakdown (length / repetition /
    * LM-surprisal counts) per source. The triage dashboard behind the
    * gate: a source rejecting on repetition is template spam, one
    * rejecting on LM surprisal is off-distribution (wrong language,
    * junk encoding), one rejecting on length is a truncating scraper.
    *
    * Scale posture: one partial-aggregable groupBy over the decision
    * frame (which rides the memoized [[lmTable]]); ≤ source-count rows
    * out. */
  private def q95(spark: SparkSession, dir: String): DataFrame = {
    def cntReason(r: String) =
      sum(when(col("reason") === r, 1L).otherwise(0L))
    corpusQualityDecisions(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        cntReason("admit").as("n_admit"),
        cntReason("length").as("n_length"),
        cntReason("repetition").as("n_repetition"),
        cntReason("lm_quality").as("n_lm_quality"))
      .withColumn("admit_rate_u",
        floor(lit(1000000.0) * col("n_admit").cast(DoubleType) /
          col("n_docs").cast(DoubleType)).cast("long"))
      .orderBy(col("source"))
  }

  // lazy, and must stay lazy: forcing qualityDecisionCtes from HERE
  // (earlier in declaration order than the q89 threshold constants it
  // interpolates) would bake ZEROS into every gate threshold. Deferred,
  // it is first forced by the `oracles` map — the object's last val.
  private lazy val q95Sql = {
    def cnt(r: String) =
      s"CAST(sum(CASE WHEN reason = '$r' THEN 1 ELSE 0 END) AS BIGINT)"
    s"""WITH $qualityDecisionCtes
       |SELECT source, count(*) AS n_docs,
       |  ${cnt("admit")} AS n_admit,
       |  ${cnt("length")} AS n_length,
       |  ${cnt("repetition")} AS n_repetition,
       |  ${cnt("lm_quality")} AS n_lm_quality,
       |  CAST(floor(1000000.0 *
       |    CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS admit_rate_u
       |FROM dec
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q76
  /** CONTEXT-WINDOW PACKING — assign documents to fixed-token-budget
    * training sequences (concat-then-chunk, the GPT-style packing where
    * documents may straddle a boundary): per source, documents in
    * doc_id order accumulate token counts; `bin_id` = exclusive prefix
    * sum ÷ budget, `bin_offset` = prefix mod budget. Deterministic and
    * engine-exact (integer floor division via the `(a - a%b)/b` long
    * pattern).
    *
    * Scale posture: the cumulative sum is the TWO-PHASE parallel
    * prefix sum ([[Features.shardedPrefixSum]]) — per-shard token
    * totals, a bounded cumsum over the |sources|×|shards| aggregated
    * frame broadcast back, then per-(source, shard) windows — so no
    * sort task ever exceeds one [[Features.PrefixShardSize]] shard at
    * any corpus size, and the prefix values are bit-identical to the
    * per-source global window they replace. Budget 512 tokens. */
  /** The shared exclusive token-prefix stage under q76 and q102. */
  private def packingPrefix(spark: SparkSession, dir: String): DataFrame =
    Features.shardedPrefixSum(
      Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
      Seq("source"), expr(s"doc_id div ${Features.prefixShardSize(spark)}"),
      Seq(col("doc_id")), col("n_tokens"), "prefix")

  private def q76(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    packingPrefix(spark, dir)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        ((col("prefix") - col("prefix") % budget) / budget).cast("long").as("bin_id"),
        (col("prefix") % budget).as("bin_offset"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val q76Sql =
    s"""SELECT source, doc_id, n_tokens,
       |  CAST(prefix // 512 AS BIGINT) AS bin_id,
       |  CAST(prefix % 512 AS BIGINT) AS bin_offset
       |FROM (
       |  SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS prefix
       |  FROM (SELECT source, doc_id,
       |          CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |        FROM documents))
       |ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** INTRA-DOCUMENT REPETITION — the duplicate-n-gram quality filter
    * (the Gopher/MassiveText repetition gate): per document, the
    * fraction of word-3-gram occurrences that are repeats of an
    * earlier 3-gram in the SAME document. Templated spam, stuttering
    * generation loops, and boilerplate score high; natural prose scores
    * near zero. Complements q31 (unigram lexical diversity) — a
    * document can have healthy token variety yet loop the same phrase.
    *
    * Counts shingle OCCURRENCES ([[TextFns.shingleOccurrences]]),
    * repeats included — NOT the deduplicated [[Features.hashedShingles]]
    * feature table the MinHash/SimHash/decontamination stack reads.
    * Over that distinct-per-doc table, `n_grams - n_distinct` is zero
    * for every document by construction (only a 32-bit hash collision
    * could separate them), which silently turns the gate off; the
    * repeats ARE the signal here. Hashing to md5u32 longs before the
    * distinct keeps the aggregate narrow; a collision would undercount
    * identically in both engines, so the report stays oracle-exact.
    *
    * Scale posture: grouping key is doc_id (uniform), Spark plans the
    * distinct as a two-phase partial aggregate on (doc_id, h) — no
    * skew, no wide rows; flag threshold is one scalar compare. */
  private val RepetitionMax = 0.05

  private def q80(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(shingleOccurrences(col("text"))).as("w"))
      .select(col("doc_id"), md5u32(col("w")).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("h")).as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_grams") - col("n_distinct")).cast(DoubleType) /
          col("n_grams").cast(DoubleType))
      .withColumn("repetitive", col("dup_frac") > RepetitionMax)
      .orderBy(col("doc_id"))
  }

  private val q80Sql =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(ss) AS w FROM (
       |    SELECT doc_id, ${shingleOccurrencesSql("text")} AS ss
       |    FROM documents)),
       |hashed AS (SELECT doc_id, ${md5u32Sql("w")} AS h FROM words),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    count(DISTINCT h) AS n_distinct
       |  FROM hashed GROUP BY 1)
       |SELECT doc_id, n_grams, n_distinct,
       |  CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    AS dup_frac,
       |  CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    > $RepetitionMax AS repetitive
       |FROM per_doc
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q81
  /** CORPUS BOILERPLATE DETECTOR — the top word-3-grams by document
    * frequency, with corpus coverage. Navigation chrome, license
    * headers, and template footers repeat VERBATIM across thousands of
    * pages; the grams that cover an anomalous fraction of documents are
    * the removal candidates (the corpus-level complement of q80's
    * per-document repetition gate, and the precursor to a targeted
    * q74-style redaction pass).
    *
    * Reads the session-cached distinct-per-doc shingle arrays
    * ([[Features.shingleSets]]) — distinct-per-doc is exactly document
    * frequency, so `count(*)` per gram IS df with no per-group distinct.
    *
    * Scale posture: one partial-aggregable groupBy on the gram string
    * (map-side combine collapses each partition's repeats before the
    * shuffle), then top-k via orderBy+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition heaps of k rows, never a
    * global sort. The doc-count denominator is a broadcast single-row
    * frame. */
  private val BoilerplateTopK = 20

  private def q81(spark: SparkSession, dir: String): DataFrame = {
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    Features.shingleSets(spark, dir)
      .select(explode(col("ss")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("gram"), col("df"),
        floor(lit(1000000.0) * col("df").cast(DoubleType) /
          col("n_docs").cast(DoubleType)).cast("long").as("coverage_u"))
      .orderBy(col("df").desc, col("gram"))
      .limit(BoilerplateTopK)
  }

  private val q81Sql =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(ss) AS w FROM (
       |    SELECT doc_id, ${shinglesSql("text")} AS ss FROM documents)),
       |total AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (SELECT w, count(*) AS df FROM words GROUP BY 1)
       |SELECT w AS gram, CAST(df AS BIGINT) AS df,
       |  CAST(floor(1000000.0 * CAST(df AS DOUBLE) /
       |    CAST(n_docs AS DOUBLE)) AS BIGINT) AS coverage_u
       |FROM df, total
       |ORDER BY df DESC, gram
       |LIMIT $BoilerplateTopK""".stripMargin

  // ---------------------------------------------------------------- q83
  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT — the assignment report every
    * training run needs frozen before it starts: hash the CONTENT
    * fingerprint (not the doc_id) into 10 buckets → 80/10/10, so the
    * split is content-stable (a re-crawled or re-sharded corpus keeps
    * every surviving document in its original split — no eval→train
    * leakage from id churn) and exact duplicates land in the SAME split
    * by construction. Reported per source × split: doc count and token
    * mass, for checking the strata stayed balanced.
    *
    * Scale posture: a stateless per-row hash (no shuffle to ASSIGN) and
    * one partial-aggregable groupBy over ≤ 3·n_sources cells to REPORT;
    * the assignment expression itself can be stamped into the write
    * path as a partition column at zero extra cost. */
  /** Content-stable split assignment over a `text` column — ONE
    * definition shared by q83's report and `graft.Curate`'s write path
    * (where it becomes the partition column), so the shipped layout can
    * never drift from the report describing it. */
  private[graft] def splitAssign: Column = {
    val bucket = md5u32(contentFp(col("text"))) % 10L
    when(bucket <= 7L, "train").when(bucket === 8L, "val").otherwise("test")
  }

  private def q83(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"),
        splitAssign.as("split"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  private val q83Sql =
    s"""WITH d AS (
       |  SELECT source,
       |    ${md5u32Sql(contentFpSql("text"))} % 10 AS bucket,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT source,
       |  CASE WHEN bucket <= 7 THEN 'train'
       |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM d GROUP BY 1, 2
       |ORDER BY source, split""".stripMargin

  // ---------------------------------------------------------------- q86
  /** BM25 KEYWORD RETRIEVAL top-10 — the serving-path text search every
    * corpus tool grows: score documents against a fixed query-term set
    * with Okapi BM25 (k1 = 1.2, b = 0.75) and return the ten best. The
    * query mixes a rare term ("dup") with common ones, so the idf spread
    * does real ranking work. Complements q66 (embedding retrieval): this
    * is its lexical twin.
    *
    * Determinism: the only transcendental is one `ln` per distinct
    * (term, df); its argument and every other factor are ratios of small
    * exact values, the per-(doc, term) score is floored to int64
    * micro-units immediately (q57's recipe — a 1-ulp `ln` divergence
    * only matters within ~1e-9 of an integer boundary), and all
    * aggregation above is exact int64.
    *
    * Scale posture: the term filter lands at the scan (only query-term
    * postings survive the explode), so the tf groupBy is bounded by
    * docs × |query|; df and the corpus stats are 1-row/3-row broadcast
    * frames; the final top-k is a TakeOrderedAndProject, and only the
    * ten winners join back for their source column. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("dup", "join", "vector")

  private def q86(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_dl"))
    val dls = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    // Inline tokenize-filter-aggregate, NOT the shared docTokenCounts
    // frame (r17, measured 0.37 -> 0.69 s with the cache): the isin
    // filter runs BELOW the aggregate here, so only query-term tokens
    // ever shuffle — strictly less work than scanning materialized
    // full postings.
    val tfq = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tfq.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tfq
      .join(broadcast(dfq), "w")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf",
        log((col("n_docs").cast(DoubleType) - col("df").cast(DoubleType)
          + 0.5) / (col("df").cast(DoubleType) + 0.5) + 1.0))
      .withColumn("norm",
        col("tf").cast(DoubleType) + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * col("dl").cast(DoubleType) / col("avgdl")))
      .withColumn("score_u",
        floor(lit(1000000.0) * col("idf") *
          (col("tf").cast(DoubleType) * lit(Bm25K1 + 1.0)) / col("norm"))
          .cast("long"))
    val top = scored.groupBy(col("doc_id"))
      .agg(sum(col("score_u")).as("score_u"),
        count(lit(1)).as("n_hit"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(10)
    broadcast(top)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_hit"), col("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"))
  }

  private val q86Sql = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH stats AS (
       |  SELECT count(*) AS n_docs,
       |    sum(CAST(len(${tokensSql("text")}) AS BIGINT)) AS sum_dl
       |  FROM documents),
       |dls AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS dl
       |        FROM documents),
       |tfq AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents)
       |  WHERE w IN ($terms)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT w, count(*) AS df FROM tfq GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(floor(1000000.0 *
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |         (CAST(df AS DOUBLE) + 0.5) + 1.0) *
       |      (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0}) /
       |      (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} +
       |        $Bm25B * CAST(dl AS DOUBLE) /
       |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS BIGINT)
       |      AS score_u
       |  FROM tfq JOIN dfq USING (w) JOIN dls USING (doc_id) CROSS JOIN stats),
       |top AS (
       |  SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u,
       |    count(*) AS n_hit
       |  FROM scored GROUP BY 1
       |  ORDER BY score_u DESC, doc_id
       |  LIMIT 10)
       |SELECT doc_id, source, n_hit, score_u
       |FROM top JOIN documents USING (doc_id)
       |ORDER BY score_u DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q87
  /** UNIGRAM-LM QUALITY SCORE, worst-15 — the CCNet-style perplexity
    * filter with the corpus as its own language model: per language,
    * P(w) = cnt(w) / total_tokens(lang), and each document scores its
    * mean token surprisal −mean ln P(w) (nats, micro-units). Documents
    * stuffed with tokens rare FOR THEIR LANGUAGE score high — the
    * junk/off-distribution removal candidates. (CCNet proper uses a
    * pretrained KenLM; the estimator swap leaves the pipeline shape
    * identical, and the corpus-trained form is what bootstrapping a new
    * language gives you.)
    *
    * Determinism: q57's recipe — one `ln` per distinct (lang, term)
    * count pair with an exact small-int ratio argument, per-(doc, term)
    * floor to micro-units, exact int64 sums above; the final mean is one
    * double division of two exact int64s, floored.
    *
    * Scale posture: two partial-aggregable groupBys build the LM
    * (per-lang totals: a few rows, broadcast; per-(lang, term) counts:
    * vocabulary-sized, the probe side of one shuffle join keyed by the
    * term — AQE's input-size skew split sees a hot term's postings
    * directly); the per-doc aggregate is keyed by uniform doc_id, and
    * the worst-k is a TakeOrderedAndProject. */
  private def q87(spark: SparkSession, dir: String): DataFrame = {
    // ONE token explode: tf is the finest aggregate; wc and the per-lang
    // totals re-aggregate it (sum(tf) ≡ direct counts — each coarser
    // frame derives from the finer one instead of re-scanning the
    // corpus, the move that matters when the scan is 100 TB).
    val tf = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val wc = tf.groupBy(col("lang"), col("w"))
      .agg(sum(col("tf")).as("cnt"))
    val langTot = wc.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("total_l"))
    tf.join(wc, Seq("lang", "w"))
      .join(broadcast(langTot), "lang")
      .withColumn("contrib_u",
        floor(lit(1000000.0) * col("tf").cast(DoubleType) *
          log(col("total_l").cast(DoubleType) / col("cnt").cast(DoubleType)))
          .cast("long"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("contrib_u")).as("sum_u"),
        sum(col("tf")).as("n_tokens"))
      .withColumn("xent_u",
        floor(col("sum_u").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast("long"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("xent_u"))
      .orderBy(col("xent_u").desc, col("lang"), col("doc_id"))
      .limit(15)
  }

  private val q87Sql =
    s"""WITH toks AS (
       |  SELECT lang, doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
       |lang_tot AS (SELECT lang, count(*) AS total_l FROM toks GROUP BY 1),
       |wc AS (SELECT lang, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |tf AS (SELECT lang, doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |contrib AS (
       |  SELECT lang, doc_id,
       |    CAST(floor(1000000.0 * CAST(tf AS DOUBLE) *
       |      ln(CAST(total_l AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT)
       |      AS contrib_u,
       |    tf
       |  FROM tf JOIN wc USING (lang, w) JOIN lang_tot USING (lang)),
       |per_doc AS (
       |  SELECT lang, doc_id,
       |    CAST(sum(contrib_u) AS BIGINT) AS sum_u,
       |    CAST(sum(tf) AS BIGINT) AS n_tokens
       |  FROM contrib GROUP BY 1, 2)
       |SELECT lang, doc_id, n_tokens,
       |  CAST(floor(CAST(sum_u AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS BIGINT)
       |    AS xent_u
       |FROM per_doc
       |ORDER BY xent_u DESC, lang, doc_id
       |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q141
  /** BIGRAM SURPRISAL — the phrase-level LM score q87's unigram model
    * is structurally blind to: a word-salad document (every unigram
    * common, every ADJACENCY rare) scores exactly like natural prose
    * under q87, because unigram cross-entropy is invariant under token
    * shuffling. The bigram model scores the transitions:
    * S(w₂|w₁) = c(w₁w₂)/ctx(w₁) with ctx(w₁) = Σ_w c(w₁w) (the
    * context-occurrence normalizer, so S is a proper conditional), and
    * a document's score is its mean −ln S over bigram occurrences —
    * q87's exact micro-nat recipe one order up. Worst 15 surface, the
    * triage view. Serving new documents against this table as a FROZEN
    * artifact uses Stupid Backoff (Brants et al. 2007: α·c(w)/N for
    * unseen bigrams — inside the corpus every bigram is its own
    * evidence, so the backoff branch fires only on out-of-corpus
    * text, i.e. the streaming side; spec-pinned in
    * `BigramLmSpec`).
    *
    * Scale posture: ONE bigram explode is the finest aggregate; corpus
    * counts and context counts both re-aggregate it (never a second
    * corpus scan). All joins are (lang, bigram)/(lang, w1)-keyed
    * uniform-hash shuffles against vocabulary-sized count frames —
    * nothing broadcasts that grows with the corpus, and the final
    * per-doc frame is partial-aggregable into TakeOrderedAndProject. */
  private def q141(spark: SparkSession, dir: String): DataFrame = {
    // LM-scoring form swap (the q89 discipline, one n-gram order up —
    // round-15 verdict task 4: the join form measured ×9.85 at the
    // 100×-doc sweep, 18.0 s at 500k docs): the default `broadcast`
    // mode freezes the corpus bigram LM (bigram counts + w1 contexts,
    // both vocabulary-sized) into a serialized artifact and scores
    // every document MAP-SIDE via graft_lm_xent2 — one doc scan into
    // TakeOrderedAndProject, no explode, no corpus-bigram shuffle, no
    // joins. Bit-identical to the join form (LmScoringModeSpec); the
    // shared artifact-size cap falls back to the join plan for an
    // oversized bigram vocabulary.
    val docs = Tables.documents(spark, dir)
    // One memoized decision+artifact per (dir, conf state): the size guard and
    // the collect share one derivation of the count tables (None =
    // oversized ⇒ join plan). Guard counts the BIGRAM vocabulary — the
    // artifact's dominant table.
    val artifact: Option[Array[Byte]] =
      if (Features.lmScoringJoin(spark)) None
      else {
        val cap = Features.lmMaxBroadcastTerms(spark)
        Features.cachedValue(spark, Some(dir), "bigramLmArtifact") {
          val (bc, ctx, _, _) = bigramLmTables(spark, dir)
          // Size guard COUNTS before it collects — the count job
          // collapses distributed (never drivers an oversized
          // vocabulary); only an under-cap table is brought back.
          // Count exactly what would SHIP: null-lang rows are filtered
          // out of the artifact below, so they must not trip the cap.
          val bcShip = bc.filter(col("lang").isNotNull)
          if (bcShip.count() > cap) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft q141: bigram LM exceeds " +
                s"${Features.LmMaxBroadcastTermsConf}=$cap terms; keeping " +
                "the join-form plan (bit-identical results)")
            None
          } else {
            // Inner-join semantics: null-lang rows can never be looked
            // up (null keys join nothing) — they simply don't ship.
            val bcRows = bcShip
              .select(col("lang"), col("bg"), col("cnt")).collect()
            val ctxRows = ctx.filter(col("lang").isNotNull)
              .select(col("lang"), col("w1"), col("ctx")).collect()
            Some(graft.functions.LmXent.serialize2(
              bcRows.toSeq.map(r =>
                (r.getString(0), r.getString(1), r.getLong(2))),
              ctxRows.toSeq.map(r =>
                (r.getString(0), r.getString(1), r.getLong(2)))))
          }
        }
      }
    if (artifact.isDefined) {
      graft.functions.VectorExprs.ensureRegistered(spark)
      val bytes = artifact.get
      docs.select(col("lang"), col("doc_id"),
          graft.functions.LmXent.xent2(
            col("lang"), tokens(col("text")), bytes).as("s"))
        .filter(col("s").isNotNull)
        .select(col("lang"), col("doc_id"),
          col("s.n_bigrams").as("n_bigrams"),
          col("s.xent2_u").as("xent2_u"))
        .orderBy(col("xent2_u").desc, col("lang"), col("doc_id"))
        .limit(15)
    } else {
      val bgs = docs
        .select(col("lang"), col("doc_id"),
          explode(ngramOccurrences(col("text"), 2)).as("bg"))
      val btf = bgs.groupBy(col("lang"), col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("tf"))
      val bc = btf.groupBy(col("lang"), col("bg"))
        .agg(sum(col("tf")).as("cnt"))
      val ctx = bc
        .groupBy(col("lang"), element_at(split(col("bg"), " "), 1).as("w1"))
        .agg(sum(col("cnt")).as("ctx"))
      btf.join(bc, Seq("lang", "bg"))
        .withColumn("w1", element_at(split(col("bg"), " "), 1))
        .join(ctx, Seq("lang", "w1"))
        .withColumn("contrib_u",
          floor(lit(1000000.0) * col("tf").cast(DoubleType) *
            log(col("ctx").cast(DoubleType) / col("cnt").cast(DoubleType)))
            .cast("long"))
        .groupBy(col("lang"), col("doc_id"))
        .agg(sum(col("contrib_u")).as("sum_u"), sum(col("tf")).as("n_bigrams"))
        .withColumn("xent2_u",
          floor(col("sum_u").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .cast("long"))
        .select(col("lang"), col("doc_id"), col("n_bigrams"), col("xent2_u"))
        .orderBy(col("xent2_u").desc, col("lang"), col("doc_id"))
        .limit(15)
    }
  }

  private lazy val q141Sql =
    s"""WITH bgs AS (
       |  SELECT lang, doc_id, unnest(${ngramOccurrencesSql("text", 2)}) AS bg
       |  FROM documents),
       |btf AS (SELECT lang, doc_id, bg, count(*) AS tf FROM bgs GROUP BY 1, 2, 3),
       |bc AS (SELECT lang, bg, CAST(sum(tf) AS BIGINT) AS cnt
       |       FROM btf GROUP BY 1, 2),
       |ctx AS (SELECT lang, string_split(bg, ' ')[1] AS w1,
       |          CAST(sum(cnt) AS BIGINT) AS ctx
       |        FROM bc GROUP BY 1, 2),
       |contrib AS (
       |  SELECT b.lang, b.doc_id,
       |    CAST(floor(1000000.0 * CAST(b.tf AS DOUBLE) *
       |      ln(CAST(x.ctx AS DOUBLE) / CAST(c.cnt AS DOUBLE))) AS BIGINT)
       |      AS contrib_u,
       |    b.tf
       |  FROM btf b
       |  JOIN bc c ON b.lang = c.lang AND b.bg = c.bg
       |  JOIN ctx x ON b.lang = x.lang AND string_split(b.bg, ' ')[1] = x.w1),
       |per_doc AS (
       |  SELECT lang, doc_id,
       |    CAST(sum(contrib_u) AS BIGINT) AS sum_u,
       |    CAST(sum(tf) AS BIGINT) AS n_bigrams
       |  FROM contrib GROUP BY 1, 2)
       |SELECT lang, doc_id, n_bigrams,
       |  CAST(floor(CAST(sum_u AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
       |    AS BIGINT) AS xent2_u
       |FROM per_doc
       |ORDER BY xent2_u DESC, lang, doc_id
       |LIMIT 15""".stripMargin

  /** The frozen bigram-LM artifact for serving-side scoring:
    * (bigram counts, context counts, unigram counts, per-lang totals)
    * — the four tables q141's in-corpus score derives implicitly,
    * materialized once from the blessed corpus and shipped like the
    * quality gate's LM or the DSIR log-ratio table. */
  private[graft] def bigramLmTables(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val uni = docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("ucnt"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("ucnt")).as("total_l"))
    val bc = docs
      .select(col("lang"), explode(ngramOccurrences(col("text"), 2)).as("bg"))
      .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("cnt"))
    val ctx = bc
      .groupBy(col("lang"), element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cnt")).as("ctx"))
    (bc, ctx, uni, tot)
  }

  /** Stupid-Backoff bigram scoring of an ARBITRARY batch against a
    * frozen LM (Brants et al. 2007): seen bigram → −ln S =
    * ln(ctx(w₁)/c(w₁w₂)); unseen bigram → the α = 0.4 backoff to the
    * unigram, −ln(0.4·c(w₂)/N) = ln(2.5·N/c(w₂)), with an OOV floor
    * of one pseudo-occurrence for words the LM has never seen. Inside
    * the training corpus the backoff branch never fires and this
    * reproduces q141 row-for-row (spec-pinned) — the branch exists
    * for the ingest side, where new text routinely contains novel
    * adjacencies. Emits per doc: n_bigrams, n_backoff (the novelty
    * diagnostic), xent2_u.
    *
    * Scale posture: same uniform-key joins as q141 plus one broadcast
    * lang-totals join; LM tables are frozen artifacts (read-side
    * scans, never rebuilt per batch). */
  private[graft] def bigramScoreOver(batch: DataFrame, bc: DataFrame,
      ctx: DataFrame, uni: DataFrame, tot: DataFrame): DataFrame = {
    val btf = batch
      .select(col("lang"), col("doc_id"),
        explode(ngramOccurrences(col("text"), 2)).as("bg"))
      .groupBy(col("lang"), col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    btf
      .join(bc, Seq("lang", "bg"), "left")
      .join(ctx, Seq("lang", "w1"), "left")
      .join(uni.select(col("lang"), col("w").as("w2"), col("ucnt")),
        Seq("lang", "w2"), "left")
      .join(broadcast(tot), Seq("lang"), "left")
      .withColumn("nl",
        when(col("cnt").isNotNull,
          log(col("ctx").cast(DoubleType) / col("cnt").cast(DoubleType)))
          .otherwise(log(lit(2.5) *
            coalesce(col("total_l"), lit(1L)).cast(DoubleType) /
            coalesce(col("ucnt"), lit(1L)).cast(DoubleType))))
      .withColumn("contrib_u",
        floor(lit(1000000.0) * col("tf").cast(DoubleType) * col("nl"))
          .cast("long"))
      .withColumn("backoff_tf",
        when(col("cnt").isNull, col("tf")).otherwise(lit(0L)))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("contrib_u")).as("sum_u"), sum(col("tf")).as("n_bigrams"),
        sum(col("backoff_tf")).as("n_backoff"))
      .withColumn("xent2_u",
        floor(col("sum_u").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
          .cast("long"))
      .select(col("lang"), col("doc_id"), col("n_bigrams"),
        col("n_backoff"), col("xent2_u"))
  }

  // ---------------------------------------------------------------- q89
  /** COMPOSITE QUALITY GATE — the per-document ADMIT/REJECT decision
    * table of a streaming-ingest curation pipeline, composing three
    * gates in fixed precedence:
    *   1. `length`     — fewer than [[QualityMinTokens]] tokens;
    *   2. `repetition` — q80's duplicate-3-gram fraction above q80's
    *      5% cut (here computed PER ROW with array expressions — no
    *      explode, no groupBy — so the gate is stateless and runs
    *      unchanged on a streaming micro-batch);
    *   3. `lm_quality` — q87's mean token surprisal above
    *      [[LmXentMaxU]] micro-nats (an absolute threshold: the
    *      corpus vocabulary is fixed, so ln(total/cnt) is
    *      scale-invariant and the same cut works at any SF).
    * Every doc gets `admit` + the FIRST failing gate as `reason` — the
    * attribution a funnel report (q78) wants.
    *
    * The LM is passed IN as a table ([[lmTable]]) rather than derived
    * inline: production ships a frozen LM to the scorer (CCNet ships
    * KenLM files; the reference ships checkpoint.pth via
    * DistributedCache — same side-input shape), and the streaming twin
    * ([[graft.streaming.QualityStreams]]) joins each micro-batch
    * against exactly this static table.
    *
    * Scale posture: repetition + length are per-row expressions at scan
    * position (zero shuffle); the LM join is keyed by term (AQE-visible
    * input skew) with per-lang totals broadcast; the per-doc aggregate
    * keys on uniform doc_id; the decision join is 1:1 on doc_id. */
  val QualityMinTokens = 5L
  val RepFracMaxU: Long = 50000L  // q80's RepetitionMax in micro-units
  val LmXentMaxU: Long = 3500000L

  /** The per-language unigram LM: (lang, w, cnt, total_l). Static side
    * input for [[qualityDecisions]] — batch q89 derives it from the
    * corpus itself; a streaming deployment freezes one and ships it. */
  private[graft] def lmTable(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "lmTable") {
      // ONE token explode; the per-lang totals re-aggregate the
      // vocab-sized counts frame instead of re-scanning the corpus
      // (sum(cnt) ≡ the direct token count). Memoized per (session,
      // dir): this IS the frozen side-input model — q89, the quality
      // rejects (q92/Curate), and the streaming gate all read the same
      // vocabulary-sized table, so deriving it once is the posture a
      // production deployment has anyway (the LM ships as an artifact).
      val wc = Tables.documents(spark, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      val langTot = wc.groupBy(col("lang")).agg(sum(col("cnt")).as("total_l"))
      wc.join(broadcast(langTot), "lang")
    }

  /** Decision table for a batch of documents against a FROZEN LM — the
    * shared scorer of batch q89 and the streaming gate (identical code
    * path, so stream decisions are batch decisions by construction). */
  /** [[qualityDecisions]] over the session corpus against the memoized
    * frozen LM, memoized per (session, dir). Seven batch consumers
    * (q89/q95/q112/q157/q167/q218/q227 and the funnel's reject stage)
    * each re-derived the same decision table — re-tokenizing the
    * corpus and re-running the LM + repetition gates per query (the
    * most expensive repeated stage the r17 MetricsProbe found outside
    * the vector family). In production the decision ledger is a
    * materialized artifact (Curate ships it); queries READ decisions,
    * they don't re-adjudicate. The streaming gate keeps calling
    * [[qualityDecisions]] per micro-batch — its input is transient. */
  private[graft] def corpusQualityDecisions(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "qualityDecisions") {
      qualityDecisions(Tables.documents(spark, dir), lmTable(spark, dir))
    }

  private[graft] def qualityDecisions(docs: DataFrame, lm: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // LM-scoring form (Features.LmScoringConf): the default `broadcast`
    // mode scores surprisal MAP-SIDE via the graft_lm_xent expression
    // holding the serialized frozen LM — the artifact is collected once
    // per (session, LM identity) off the memoized vocabulary-sized
    // table (the ship-the-model posture; q72's Bloom sketches ride the
    // same lifecycle) and each document scores in one pass over its own
    // tokens: no explode, no corpus-token shuffle, no vocabulary join.
    // Bit-identical to the `join` form (LmScoringModeSpec), so both run
    // under the same oracles.
    // Artifact-size guard (round-15 verdict task 8): the map-side form
    // collects the vocabulary to the driver and ships it inside the
    // expression tree — sane for a vocabulary head, catastrophic for an
    // unbounded LM. Past the conf'd term cap the gate REFUSES to build
    // the artifact and runs the bit-identical join form instead (same
    // rows under the same oracles — only the plan degrades, to a
    // shuffle). Decision memoized per (LM identity, conf state).
    val lmHash = lm.queryExecution.analyzed.semanticHash()
    val joinMode = Features.lmScoringJoin(spark) || {
      val cap = Features.lmMaxBroadcastTerms(spark)
      val oversized = Features.cachedValue(spark, None,
        s"lmOversized#$lmHash") {
        java.lang.Boolean.valueOf(lm.count() > cap)
      }.booleanValue()
      if (oversized)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft quality gate: LM exceeds ${Features.LmMaxBroadcastTermsConf}" +
            s"=$cap terms; falling back to the join-form scoring plan " +
            "(bit-identical results, shuffle-bearing plan)")
      oversized
    }
    val xentInline: Option[org.apache.spark.sql.Column] =
      if (joinMode) None
      else {
        // self-register against the session actually running this query
        // (bare newSession()s start with an empty custom registry)
        graft.functions.VectorExprs.ensureRegistered(spark)
        val bytes = Features.cachedValue(spark, None, s"lmArtifact#$lmHash") {
          val rows = lm.select(col("lang"), col("w"), col("cnt"),
            col("total_l")).collect()
          // A null-lang LM row (a corpus with untagged documents feeds
          // the self-derived LM a null-lang vocabulary) can never be
          // LOOKED UP (null keys join nothing), but its total still
          // participates in the join form's max(total_l) fallback — so
          // its term rows are dropped and its total ships under the NUL
          // sentinel, which [[graft.functions.LmXent.deserialize]]
          // folds into fallbackTot only.
          graft.functions.LmXent.serialize(
            rows.toSeq.filter(_.getString(0) != null)
              .map(r => (r.getString(0), r.getString(1), r.getLong(2))),
            rows.toSeq.map(r =>
              (Option(r.getString(0)).getOrElse("\u0000"), r.getLong(3)))
              .distinct)
        }
        // coalesce: ONLY the null-tokens (null text) case — the join
        // form's explode emits no row there and na.fill(0) applies; a
        // null LANG scores inside the expression (fallback total, every
        // token OOV), exactly like the join form's unmatched null keys.
        Some(coalesce(
          graft.functions.LmXent.xent(col("lang"), tokens(col("text")), bytes),
          lit(0L)).as("xent_u"))
      }
    val baseCols = Seq(col("doc_id"), col("lang"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      shingleOccurrences(col("text")).as("gs")) ++ xentInline
    val base = docs.select(baseCols: _*)
      .withColumn("n_grams", size(col("gs")).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(transform(col("gs"), g => md5u32(g)))).cast("long"))
      .withColumn("rep_frac_u",
        when(col("n_grams") > 0L,
          floor(lit(1000000.0) *
            (col("n_grams") - col("n_distinct")).cast(DoubleType) /
            col("n_grams").cast(DoubleType)).cast("long"))
          .otherwise(lit(0L)))
      .drop("gs")
    // OOV policy (round-6 advice fix; BOTH scoring forms implement it —
    // graft_lm_xent replicates cnt_s/tot_s exactly): the LM join is
    // LEFT, and absent
    // tokens score at add-one surprisal ln(total_l / 1) — the MAXIMUM
    // for their language — instead of silently dropping. An inner join
    // here meant a streamed document fully outside the frozen LM's
    // vocabulary produced zero xent rows, na.fill'd to xent_u=0, and
    // was ADMITTED — the extreme off-distribution case this gate
    // exists to reject. Batch q89 is numerically unchanged (the
    // self-derived LM covers every token, so no row takes the
    // coalesce), keeping the oracle hash green. For a language absent
    // from the LM entirely, total_l falls back to the LM's largest
    // language total (a one-row broadcast aggregate, no collect) —
    // the most conservative (highest-surprisal) denominator available.
    // Optional FOURTH leg (conf-gated, default off so q89's oracle
    // pins the 3-gate table): the deflate-ratio gate, joined 1:1 on
    // doc_id and attributed LAST in the first-failing chain — the
    // cheap rule gates keep their attribution, and compression only
    // names documents the other three admit. Streaming runs this same
    // code path, so the conf extends stream and batch together.
    val compressed =
      if (!Features.compressionGateOn(docs.sparkSession)) None
      else Some(compressionGate(docs).toDF()
        .select(col("doc_id"), col("flag").as("comp_flag")))
    val scored =
      if (!joinMode) base // xent_u computed inline at scan position
      else {
        val langTot = lm.select(col("lang"), col("total_l")).distinct()
        val fallbackTot = lm.agg(max(col("total_l")).as("fallback_tot"))
        val xent = docs
          .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy(col("lang"), col("doc_id"), col("w"))
          .agg(count(lit(1)).as("tf"))
          .join(lm.select(col("lang"), col("w"), col("cnt")), Seq("lang", "w"), "left")
          .join(broadcast(langTot), Seq("lang"), "left")
          .crossJoin(broadcast(fallbackTot))
          .withColumn("cnt_s", coalesce(col("cnt"), lit(1L)))
          .withColumn("tot_s",
            coalesce(col("total_l"), col("fallback_tot"), lit(1L)))
          .withColumn("contrib_u",
            floor(lit(1000000.0) * col("tf").cast(DoubleType) *
              log(col("tot_s").cast(DoubleType) / col("cnt_s").cast(DoubleType)))
              .cast("long"))
          .groupBy(col("doc_id"))
          .agg((sum(col("contrib_u")).cast(DoubleType) /
            sum(col("tf")).cast(DoubleType)).as("xent_raw"))
          .withColumn("xent_u", floor(col("xent_raw")).cast("long"))
          .select(col("doc_id"), col("xent_u"))
        base.join(xent, Seq("doc_id"), "left")
          .na.fill(0L, Seq("xent_u"))
      }
    val withComp = compressed.fold(scored)(c =>
      scored.join(c, Seq("doc_id"), "left"))
    val firstFailing = {
      val rules = when(col("n_tokens") < QualityMinTokens, lit("length"))
        .when(col("rep_frac_u") > RepFracMaxU, lit("repetition"))
        .when(col("xent_u") > LmXentMaxU, lit("lm_quality"))
      if (compressed.isEmpty) rules.otherwise(lit("admit"))
      else rules
        .when(col("comp_flag") =!= "ok", lit("compression"))
        .otherwise(lit("admit"))
    }
    withComp
      .withColumn("reason", firstFailing)
      .withColumn("admit", col("reason") === "admit")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("rep_frac_u"), col("xent_u"), col("admit"), col("reason"))
  }

  private def q89(spark: SparkSession, dir: String): DataFrame =
    corpusQualityDecisions(spark, dir)
      .orderBy(col("doc_id"))

  /** q89's decision CTE chain ending in `dec(doc_id, …, reason)` — also
    * composed into the extended funnel's SQL twin (q92). Names are
    * disjoint from [[Dedup]]'s funnel CTEs by construction. */
  // lazy: referenced by q95Sql, which initializes EARLIER in this file
  // (object vals run in declaration order — a plain val would be null).
  private[graft] lazy val qualityDecisionCtes: String = {
    val h = "('0x' || substr(md5(g), 1, 8))::BIGINT"
    s"""base AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |    ${shingleOccurrencesSql("text")} AS gs
       |  FROM documents),
       |rep AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CAST(len(gs) AS BIGINT) AS n_grams,
       |    CAST(len(list_distinct(list_transform(gs, g -> $h))) AS BIGINT)
       |      AS n_distinct
       |  FROM base),
       |rep2 AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CASE WHEN n_grams > 0 THEN
       |      CAST(floor(1000000.0 * CAST(n_grams - n_distinct AS DOUBLE) /
       |        CAST(n_grams AS DOUBLE)) AS BIGINT)
       |    ELSE 0 END AS rep_frac_u
       |  FROM rep),
       |toks AS (
       |  SELECT lang, doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
       |lang_tot AS (SELECT lang, count(*) AS total_l FROM toks GROUP BY 1),
       |wc AS (SELECT lang, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |tf AS (SELECT lang, doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |xent AS (
       |  -- LEFT joins + add-one coalesce mirror qualityDecisions' OOV
       |  -- policy; with the self-derived LM every token is covered, so
       |  -- no row takes the fallback and the hash is unchanged.
       |  SELECT doc_id,
       |    CAST(floor(
       |      CAST(sum(CAST(floor(1000000.0 * CAST(tf AS DOUBLE) *
       |        ln(CAST(coalesce(total_l, (SELECT max(total_l) FROM lang_tot), 1)
       |             AS DOUBLE) /
       |           CAST(coalesce(cnt, 1) AS DOUBLE))) AS BIGINT))
       |        AS DOUBLE) /
       |      CAST(sum(tf) AS DOUBLE)) AS BIGINT) AS xent_u
       |  FROM tf LEFT JOIN wc USING (lang, w) LEFT JOIN lang_tot USING (lang)
       |  GROUP BY 1),
       |dec AS (
       |  SELECT r.doc_id, r.lang, r.source, r.n_tokens, r.rep_frac_u,
       |    coalesce(x.xent_u, 0) AS xent_u,
       |    CASE
       |      WHEN r.n_tokens < $QualityMinTokens THEN 'length'
       |      WHEN r.rep_frac_u > $RepFracMaxU THEN 'repetition'
       |      WHEN coalesce(x.xent_u, 0) > $LmXentMaxU THEN 'lm_quality'
       |      ELSE 'admit' END AS reason
       |  FROM rep2 r LEFT JOIN xent x USING (doc_id))""".stripMargin
  }

  private val q89Sql =
    s"""WITH $qualityDecisionCtes
       |SELECT doc_id, lang, source, n_tokens, rep_frac_u, xent_u,
       |  reason = 'admit' AS admit, reason
       |FROM dec
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** PER-SOURCE HEAVY HITTERS at bounded memory — the frequency member
    * of the sketch-audit family (q51 HLL distinct counts, q90 quantile
    * sketch, q96/q98 similarity sketches): which tokens dominate each
    * feed. Over crawl data the item domain is unbounded (URLs, hosts,
    * n-grams), so "count everything exactly, keep the top" is a
    * vocabulary-sized shuffle per source; the production shape is the
    * TWO-PASS exact heavy hitter — pass 1 a Misra–Gries summary
    * ([[graft.functions.HeavyHitters]], custom
    * `TypedImperativeAggregate` under ObjectHashAggregate, ≤ k−1
    * counters per group crossing the shuffle), pass 2 an exact count
    * of the ≤ k−1 candidates only (the token scan is pruned by a
    * BROADCAST candidate join at scan position before its aggregate).
    *
    * Determinism: Misra–Gries candidate SETS are stream-order-dependent
    * at the margin, but any item with true frequency > n/k is
    * guaranteed captured (k = [[HeavyHitterK]] = 28, error ≤ n/28),
    * so after the exact pass filters to frequency > n/[[HeavyHitterPhiDen]]
    * (= n/20 > n/28), the output IS the exact φ-heavy set regardless
    * of partitioning or merge order — which is why this query can be
    * DuckDB-oracled at all (the oracle computes the φ-set exactly).
    * The synthetic corpus's per-source vocabulary (~31 words) is flat
    * at sf0.1 (max share 3.7% < 5%), so the φ-set is legitimately
    * empty there; the gated SFs have 1–3 hitters per sweep, and the
    * planted-Zipf spec (vocab ≫ k) exercises the lossy regime the
    * testdata can't. */
  val HeavyHitterK = 28
  val HeavyHitterPhiDen = 20L

  private def q99(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val cand = toks.groupBy(col("source"))
      .agg(graft.functions.HeavyHitters.heavyHitters(col("w"), HeavyHitterK)
          .as("cand"),
        count(lit(1)).as("n_tokens"))
      .select(col("source"), col("n_tokens"), explode(col("cand")).as("w"))
    toks.join(broadcast(cand), Seq("source", "w")) // scan-position prune
      .groupBy(col("source"), col("w"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyHitterPhiDen > col("n_tokens"))
      .select(col("source"), col("w"), col("cnt"), col("n_tokens"))
      .orderBy(col("source"), col("cnt").desc, col("w"))
  }

  private val q99Sql =
    s"""WITH toks AS (
       |  SELECT source, unnest(${tokensSql("text")}) AS w FROM documents),
       |tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY 1),
       |cnts AS (SELECT source, w, count(*) AS cnt FROM toks GROUP BY 1, 2)
       |SELECT c.source, c.w, c.cnt, t.n_tokens
       |FROM cnts c JOIN tot t USING (source)
       |WHERE c.cnt * $HeavyHitterPhiDen > t.n_tokens
       |ORDER BY source, cnt DESC, w""".stripMargin

  // ---------------------------------------------------------------- q101
  /** PER-SOURCE TOKEN-DISTRIBUTION KL DIVERGENCE — the text twin of
    * q100's embedding-drift monitor: which feed's unigram distribution
    * diverges from the corpus mixture. KL(P_s ‖ P_corpus) =
    * Σ_w (c_sw/N_s)·ln(c_sw·M / (N_s·m_w)) in micro-nats — a crawl
    * source that switched domain, language mix, or template (or a
    * boilerplate-injecting mirror) jumps here while per-document
    * quality gates (q87/q89) stay quiet, because every individual
    * document still looks in-distribution FOR ITS SOURCE. Always ≥ 0;
    * ordered worst-first, it is the triage list for "which feed
    * changed under us".
    *
    * Determinism: q87's recipe — one `ln` per (source, term) with an
    * argument built from exact int64 counts by correctly-rounded
    * double multiply/divide, per-term floor to micro-units, exact
    * int64 sums above, one final floored mean division.
    *
    * Scale posture: per-(source, term) counts are the finest aggregate
    * (partial-aggregable; one shuffle keyed by (source, term)); the
    * corpus marginal re-aggregates THAT frame keyed by term (the join
    * back is vocabulary-sized both sides, never corpus-sized; a hot
    * term's postings are visible to AQE's skew split); per-source
    * totals (≤ sources rows) and the grand total (1 row) broadcast. */
  private def q101(spark: SparkSession, dir: String): DataFrame = {
    val sc = Features.sourceTokenCounts(spark, dir)
      .select(col("source"), col("w"), col("cnt").as("c"))
    val stot = sc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val mc = sc.groupBy(col("w")).agg(sum(col("c")).as("m"))
    val mtot = mc.agg(sum(col("m")).as("mt"))
    sc.join(broadcast(stot), "source")
      .join(mc, "w")
      .crossJoin(broadcast(mtot))
      .withColumn("contrib_u",
        floor(lit(1000000.0) * col("c").cast(DoubleType) *
          log((col("c").cast(DoubleType) * col("mt").cast(DoubleType)) /
            (col("n_s").cast(DoubleType) * col("m").cast(DoubleType))))
          .cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("contrib_u")).as("sum_u"))
      .select(col("source"), col("n_tokens"),
        floor(col("sum_u").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast("long").as("kl_u"))
      .orderBy(col("kl_u").desc, col("source"))
  }

  private val q101Sql =
    s"""WITH toks AS (
       |  SELECT source, unnest(${tokensSql("text")}) AS w FROM documents),
       |sc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sc GROUP BY 1),
       |mc AS (SELECT w, CAST(sum(c) AS BIGINT) AS m FROM sc GROUP BY 1),
       |mtot AS (SELECT CAST(sum(m) AS BIGINT) AS mt FROM mc),
       |contrib AS (
       |  SELECT source,
       |    CAST(floor(1000000.0 * CAST(c AS DOUBLE) *
       |      ln((CAST(c AS DOUBLE) * CAST(mt AS DOUBLE)) /
       |         (CAST(n_s AS DOUBLE) * CAST(m AS DOUBLE)))) AS BIGINT)
       |      AS contrib_u,
       |    c
       |  FROM sc JOIN stot USING (source) JOIN mc USING (w), mtot)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(floor(CAST(sum(contrib_u) AS DOUBLE) /
       |    CAST(sum(c) AS DOUBLE)) AS BIGINT) AS kl_u
       |FROM contrib GROUP BY source
       |ORDER BY kl_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q102
  /** PACKING-EFFICIENCY AUDIT — the accounting report over q76's
    * context-window packing that a training-infra team actually reads:
    * per source, how many 512-token sequences the packed stream needs,
    * how many pad tokens the final partial bin wastes, the fill ratio,
    * and how many documents straddle a bin boundary (straddled docs
    * get their attention context split — the packing-quality metric
    * that drives "shuffle docs before packing" decisions). Everything
    * is exact integer arithmetic over the same per-source prefix sums
    * q76 computes, so the report is engine-exact with no float-parity
    * machinery at all.
    *
    * Scale posture: q76's per-source window (shard-local at 100 TB)
    * followed by one partial-aggregable groupBy; output is
    * sources-sized. */
  private def q102(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    def fdiv(a: Column): Column = ((a - a % budget) / budget).cast("long")
    packingPrefix(spark, dir)
      .withColumn("straddle",
        when(col("n_tokens") > 0 &&
          fdiv(col("prefix") + col("n_tokens") - 1) > fdiv(col("prefix")), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("straddle")).as("n_straddle"))
      .withColumn("n_bins", fdiv(col("total_tokens") + (budget - 1L)))
      .withColumn("waste_tokens",
        col("n_bins") * budget - col("total_tokens"))
      .withColumn("fill_ratio_u",
        when(col("n_bins") === 0L, lit(1000000L))
          .otherwise(floor(lit(1000000.0) *
            col("total_tokens").cast(DoubleType) /
            (col("n_bins") * budget).cast(DoubleType)).cast("long")))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_bins"), col("waste_tokens"), col("fill_ratio_u"),
        col("n_straddle"))
      .orderBy(col("source"))
  }

  private val q102Sql = {
    def fdiv(a: String) = s"CAST((($a) - (($a) % 512)) / 512 AS BIGINT)"
    s"""WITH base AS (
       |  SELECT source, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |pref AS (
       |  SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS prefix
       |  FROM base),
       |agg AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN n_tokens > 0 AND
       |        ${fdiv("prefix + n_tokens - 1")} > ${fdiv("prefix")}
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
       |  FROM pref GROUP BY source),
       |bins AS (
       |  SELECT source, n_docs, total_tokens, n_straddle,
       |    ${fdiv("total_tokens + 511")} AS n_bins
       |  FROM agg)
       |SELECT source, n_docs, total_tokens, n_bins,
       |  n_bins * 512 - total_tokens AS waste_tokens,
       |  CASE WHEN n_bins = 0 THEN 1000000
       |    ELSE CAST(floor(1000000.0 * CAST(total_tokens AS DOUBLE) /
       |      CAST(n_bins * 512 AS DOUBLE)) AS BIGINT) END AS fill_ratio_u,
       |  n_straddle
       |FROM bins
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q103
  /** TOKEN-BUDGET EPOCH ALLOCATOR — the planning step between a mixing
    * recipe and a training run: given the q75 mixing weights and each
    * source's AVAILABLE token mass, split a total training budget
    * (here 2× the corpus — a "2-epoch-equivalent" run) into per-source
    * target tokens, and report how many epochs of its unique data each
    * source must contribute. epochs > 1 means the source repeats
    * (upsampling — fine in moderation); epochs > 4 crosses the
    * repeated-data degradation cliff (Muennighoff et al., "Scaling
    * Data-Constrained Language Models") and flags the recipe itself as
    * infeasible without new data for that source. Completes the mixing
    * family: q75 reports realized admission, q94 temperature-flattened
    * shares, q103 whether the recipe is trainable at a given budget.
    *
    * Determinism: targets are exact int64 floor division of
    * `2·M·w / Σw` (the `(a − a%b)/b` pattern; operands stay ≪ 2⁶³ —
    * at 10¹³ corpus tokens, 2·M·w ≈ 2·10¹⁹/1000 — because w is milli);
    * the epochs ratio is one correctly-rounded double division of two
    * exact int64s, floored to micro-units (int64 `1e6·target` WOULD
    * overflow at planetary scale; the double form never does).
    *
    * Scale posture: one scan → per-source partial-aggregable token
    * sums (sources-sized), a single-row total broadcast back — the
    * allocator itself is free at any corpus size. */
  /** q103's allocation frame (source, w_milli, avail_tokens,
    * target_tokens, epochs_u) — factored so the repetition-exposure
    * audit (q138) reads the SAME allocator the epoch plan publishes. */
  private[operators] def epochAlloc(spark: SparkSession, dir: String): DataFrame = {
    val avail = Tables.documents(spark, dir)
      .withColumn("w_milli", mixWMilli)
      .groupBy(col("source"), col("w_milli"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("avail_tokens"))
    val tot = avail.agg(sum(col("avail_tokens")).as("m"),
      sum(col("w_milli")).as("wsum"))
    val raw = col("m") * 2L * col("w_milli")
    val target = ((raw - raw % col("wsum")) / col("wsum")).cast("long")
    avail.crossJoin(broadcast(tot))
      .withColumn("target_tokens", target)
      .withColumn("epochs_u",
        floor(lit(1000000.0) * col("target_tokens").cast(DoubleType) /
          col("avail_tokens").cast(DoubleType)).cast("long"))
      .select(col("source"), col("w_milli"), col("avail_tokens"),
        col("target_tokens"), col("epochs_u"))
  }

  /** SQL twin of [[epochAlloc]]: CTE chain ending in `ealloc`. */
  private[operators] val epochAllocSqlCtes =
    s"""avail AS (
       |  SELECT source, ${mixWMilliSql("source")} AS w_milli,
       |    CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS m,
       |               CAST(sum(w_milli) AS BIGINT) AS wsum FROM avail),
       |alloc AS (
       |  SELECT source, w_milli, avail_tokens,
       |    CAST(((2 * m * w_milli) - ((2 * m * w_milli) % wsum)) / wsum
       |      AS BIGINT) AS target_tokens
       |  FROM avail, tot),
       |ealloc AS (
       |  SELECT source, w_milli, avail_tokens, target_tokens,
       |    CAST(floor(1000000.0 * CAST(target_tokens AS DOUBLE) /
       |      CAST(avail_tokens AS DOUBLE)) AS BIGINT) AS epochs_u
       |  FROM alloc)""".stripMargin

  private def q103(spark: SparkSession, dir: String): DataFrame =
    epochAlloc(spark, dir)
      .select(col("source"), col("w_milli"), col("avail_tokens"),
        col("target_tokens"), col("epochs_u"),
        (col("epochs_u") > 1000000L).as("needs_upsample"),
        (col("epochs_u") > 4000000L).as("over_repeat"))
      .orderBy(col("source"))

  private val q103Sql =
    s"""WITH $epochAllocSqlCtes
       |SELECT source, w_milli, avail_tokens, target_tokens, epochs_u,
       |  epochs_u > 1000000 AS needs_upsample,
       |  epochs_u > 4000000 AS over_repeat
       |FROM ealloc
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q104
  /** SLIDING-WINDOW CHUNKING — the retrieval/embedding-side sibling of
    * q76's training-side packing: split each document into
    * fixed-budget token windows with overlap (chunk 32, stride 24 —
    * overlap preserves context across cuts, the standard RAG/embedding
    * prep), emitting the chunk table a vector pipeline embeds row by
    * row: (doc_id, chunk_id, token span, content hash). The md5 over
    * the extracted chunk text IS the operator's proof that chunk
    * CONTENT extraction (not just arithmetic) is engine-exact — and
    * doubles as the chunk-level dedup key downstream (boilerplate
    * chunks collide across documents exactly as q85's spans do).
    *
    * Determinism: chunk counts are exact int64 ceil-division (the
    * `(a − a%b)/b` pattern); spans are integer arithmetic; the hash is
    * md5 over an identical space-joined string in both engines.
    *
    * Scale posture: one scan, a per-row `sequence`/`explode` whose
    * fan-out is n_tokens/stride (bounded by doc length, uniform — no
    * skew), no shuffle at all until a downstream groupBy; the chunk
    * table never materializes the text twice (slices reference the
    * one tokens array). */
  /** The chunker over an arbitrary documents batch — the shared body
    * of batch q104 and the streaming ingest chunker
    * ([[graft.streaming.ChunkStreams]]): stateless per row, so stream
    * chunks are batch chunks by construction. */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    val C = 32L; val S = 24L
    val adj = S - 1 - C // n - C + (S-1) = n - 9 with these constants
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    val m = col("n") + adj
    base
      .withColumn("n_chunks",
        when(col("n") <= C, 1L)
          .otherwise(((m - m % S) / S).cast("long") + 1L))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1L)))
      .withColumn("start_tok", col("chunk_id") * S)
      .withColumn("end_tok", least(col("start_tok") + C, col("n")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("end_tok"), (col("end_tok") - col("start_tok")).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("toks"),
          (col("start_tok") + 1L).cast("int"),
          (col("end_tok") - col("start_tok")).cast("int")))).as("chunk_md5"))
  }

  private def q104(spark: SparkSession, dir: String): DataFrame =
    chunksOf(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q104Sql =
    s"""WITH base AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n
       |  FROM documents),
       |nc AS (SELECT doc_id, toks, n,
       |  CASE WHEN n <= 32 THEN 1
       |    ELSE CAST(((n - 9) - ((n - 9) % 24)) / 24 AS BIGINT) + 1 END
       |    AS n_chunks
       |  FROM base),
       |chunks AS (
       |  SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id
       |  FROM nc)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * 24 AS BIGINT) AS start_tok,
       |  CAST(least(chunk_id * 24 + 32, n) AS BIGINT) AS end_tok,
       |  CAST(least(chunk_id * 24 + 32, n) - chunk_id * 24 AS BIGINT)
       |    AS n_chunk_tokens,
       |  md5(array_to_string(toks[CAST(chunk_id * 24 + 1 AS BIGINT):
       |    CAST(least(chunk_id * 24 + 32, n) AS BIGINT)], ' '))
       |    AS chunk_md5
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q109
  /** SURPRISAL-QUINTILE MIXING — perplexity-bucketed sampling, the
    * DCLM/quality-curriculum recipe that sits between a hard quality
    * gate (q89: keep/drop) and uniform mixing (q75: per-source rates):
    * score every document with q87's mean token surprisal, split the
    * corpus into surprisal quintiles, and admit each quintile at its
    * own rate (90/70/50/30/10% — low-surprisal in-distribution text is
    * mostly kept, the junk tail mostly dropped but NOT zeroed: hard
    * xent cutoffs throw away all hard-but-real text, while graded
    * rates preserve distributional coverage). Admission is the
    * deterministic content-hash coin of q75/q94, so the sample is
    * reproducible across engines and cluster sizes.
    *
    * Determinism: per-doc xent is exactly q87's recipe (one `ln` per
    * (lang, term) with exact int ratios, micro-unit floors); quintile
    * assignment is SQL NTILE over (xent_u, doc_id) — a total order, so
    * both engines cut identically; the report carries each bucket's
    * xent range, making the implied thresholds auditable.
    *
    * Scale posture: the xent side is q87's (vocab-keyed LM join, then
    * a doc_id-keyed partial aggregate); NTILE is ONE global window
    * over the doc-count frame (rows = documents, not tokens) — the
    * same exact-rank-vs-scale trade as q106, and production swaps it
    * for approx-quantile thresholds broadcast back (the graded rates
    * are insensitive to boundary jitter in the non-boundary mass);
    * the exact NTILE is kept because it is what the oracle can pin.
    * The final report is one partial-aggregable 5-cell groupBy. */
  private val SurpriseRates = Seq(90L, 70L, 50L, 30L, 10L)

  private def q109(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val wc = tf.groupBy(col("lang"), col("w")).agg(sum(col("tf")).as("cnt"))
    val langTot = wc.groupBy(col("lang")).agg(sum(col("cnt")).as("total_l"))
    val perDoc = tf.join(wc, Seq("lang", "w"))
      .join(broadcast(langTot), "lang")
      .withColumn("contrib_u",
        floor(lit(1000000.0) * col("tf").cast(DoubleType) *
          log(col("total_l").cast(DoubleType) / col("cnt").cast(DoubleType)))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_u")).as("sum_u"), sum(col("tf")).as("n_tokens"))
      .withColumn("xent_u",
        floor(col("sum_u").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast("long"))
    val rate = SurpriseRates.zipWithIndex
      .foldLeft(lit(SurpriseRates.last)) { case (acc, (r, i)) =>
        when(col("bucket") === (i + 1).toLong, lit(r)).otherwise(acc)
      }
    val bucketed =
      if (!Features.approxQuantiles(spark))
        perDoc.withColumn("bucket", ntile(5)
          .over(Window.orderBy(col("xent_u"), col("doc_id"))).cast("long"))
      else {
        // The documented 100 TB swap (scaladoc above): one
        // approx-percentile aggregate over the doc-count frame gives
        // the four quintile thresholds as a single broadcast row — no
        // global window, no single-partition rank. Boundary ties land
        // in the lower bucket; the graded rates are insensitive to
        // that jitter (QuantileModeSpec pins the agreement).
        val thr = perDoc.agg(percentile_approx(col("xent_u"),
          array(lit(0.2), lit(0.4), lit(0.6), lit(0.8)),
          lit(10000)).as("t"))
        perDoc.crossJoin(broadcast(thr))
          .withColumn("bucket",
            when(col("xent_u") <= element_at(col("t"), 1), 1L)
              .when(col("xent_u") <= element_at(col("t"), 2), 2L)
              .when(col("xent_u") <= element_at(col("t"), 3), 3L)
              .when(col("xent_u") <= element_at(col("t"), 4), 4L)
              .otherwise(5L))
          .drop("t")
      }
    bucketed
      .withColumn("rate", rate)
      .withColumn("h",
        md5u32(concat(col("doc_id").cast("string"), lit(":surq"))) % 100L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("h") < col("rate"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("h") < col("rate"), col("n_tokens")).otherwise(0L))
          .as("admitted_tokens"),
        min(col("xent_u")).as("min_xent_u"),
        max(col("xent_u")).as("max_xent_u"))
      .orderBy(col("bucket"))
  }

  private lazy val q109Sql = {
    val rateCase = "CASE bucket WHEN 1 THEN 90 WHEN 2 THEN 70 " +
      "WHEN 3 THEN 50 WHEN 4 THEN 30 ELSE 10 END"
    s"""WITH toks AS (
       |  SELECT lang, doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
       |lang_tot AS (SELECT lang, count(*) AS total_l FROM toks GROUP BY 1),
       |wc AS (SELECT lang, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |tf AS (SELECT lang, doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |contrib AS (
       |  SELECT lang, doc_id,
       |    CAST(floor(1000000.0 * CAST(tf AS DOUBLE) *
       |      ln(CAST(total_l AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT)
       |      AS contrib_u,
       |    tf
       |  FROM tf JOIN wc USING (lang, w) JOIN lang_tot USING (lang)),
       |per_doc AS (
       |  SELECT doc_id,
       |    CAST(sum(contrib_u) AS BIGINT) AS sum_u,
       |    CAST(sum(tf) AS BIGINT) AS n_tokens
       |  FROM contrib GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(floor(CAST(sum_u AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      AS BIGINT) AS xent_u
       |  FROM per_doc),
       |bucketed AS (
       |  SELECT *, CAST(ntile(5) OVER (ORDER BY xent_u, doc_id) AS BIGINT)
       |    AS bucket
       |  FROM scored),
       |adm AS (
       |  SELECT *, $rateCase AS rate,
       |    ${md5u32Sql("(CAST(doc_id AS VARCHAR) || ':surq')")} % 100 AS h
       |  FROM bucketed)
       |SELECT bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  CAST(sum(CASE WHEN h < rate THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS admitted_tokens,
       |  min(xent_u) AS min_xent_u, max(xent_u) AS max_xent_u
       |FROM adm GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q112
  /** QUALITY METHOD-AGREEMENT AUDIT — q108's cross-method confusion
    * table, for the QUALITY family: every document cross-tabulated by
    * its q31 heuristic verdict (high/medium/low rule quality), its q89
    * composite-gate decision (admit/reject), and its q109 surprisal
    * half (quintiles 1–3 vs 4–5). The disagreement cells are the
    * calibration triage a curation team reads before trusting any one
    * scorer: rules-high but gate-rejected rows are repetition/LM
    * failures the cheap heuristic cannot see; rules-low but
    * gate-admitted rows are short-doc false alarms; gate-admitted
    * high-surprisal rows are the off-distribution tail the graded
    * q109 mixing throttles even though the hard gate passes it.
    *
    * Every leg is the production scorer, not a re-derivation: q31's
    * rule CASE, [[qualityDecisions]] against the memoized [[lmTable]],
    * and the NTILE cut over the decision table's own xent_u (the same
    * micro-nat recipe q109 buckets) — so the audit measures exactly
    * the verdicts that ship.
    *
    * Scale posture: the rules leg is per-row expressions at scan
    * position; the gate leg is q89's plan; the bucket is the q109/q106
    * exact-rank-vs-scale trade — exact mode (oracle-pinned) runs ONE
    * doc-count window, production ([[Features.QuantileModeConf]]
    * =approx) swaps it for a broadcast p60 threshold so the census
    * sees zero global windows; the cross-tab is one partial-
    * aggregable groupBy over ≤ 3·2·2 cells. */
  private def q112(spark: SparkSession, dir: String): DataFrame = {
    val dec = corpusQualityDecisions(spark, dir)
      .select(col("doc_id"), col("xent_u"), col("admit"))
    val rules = q31(spark, dir)
      .select(col("doc_id").as("r_id"), col("quality").as("rules_quality"))
    // The q109 exact-rank-vs-scale trade, realized (not just cited):
    // exact mode keeps the oracle-pinned global ntile; production
    // (`spark.graft.quantiles.mode=approx`) swaps the ONE global rank
    // window for a single approx-p60 threshold broadcast back — the
    // quintile cut only feeds a ≤3-vs-top-2 split, so one threshold
    // replaces the whole rank. Boundary ties land on the low side
    // (QuantileModeSpec-class jitter).
    val bucketed =
      if (!Features.approxQuantiles(spark))
        dec.withColumn("low5",
          when(ntile(5).over(
            Window.orderBy(col("xent_u"), col("doc_id"))) <= 3, 1L)
            .otherwise(0L))
      else {
        val thr = dec.agg(percentile_approx(col("xent_u"), lit(0.6),
          lit(10000)).as("t60"))
        dec.crossJoin(broadcast(thr))
          .withColumn("low5",
            when(col("xent_u") <= col("t60"), 1L).otherwise(0L))
          .drop("t60")
      }
    bucketed
      .join(rules, col("doc_id") === col("r_id"))
      .select(col("rules_quality"),
        when(col("admit"), 1L).otherwise(0L).as("gate_admit"),
        col("low5").as("low_surprisal"))
      .groupBy(col("rules_quality"), col("gate_admit"), col("low_surprisal"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("rules_quality"), col("gate_admit").desc,
        col("low_surprisal").desc)
  }

  private lazy val q112Sql = {
    val t = tokensSql("text")
    s"""WITH $qualityDecisionCtes,
       |rules AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens >= 30
       |           AND CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.4
       |           AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2
       |         THEN 'high'
       |         WHEN n_tokens >= 15 THEN 'medium'
       |         ELSE 'low' END AS rules_quality
       |  FROM (SELECT doc_id,
       |          CAST(len($t) AS BIGINT) AS n_tokens,
       |          CAST(len(list_distinct($t)) AS BIGINT) AS n_unique,
       |          CAST(len(list_filter($t, w -> w = 'the' OR w = 'a'))
       |            AS BIGINT) AS n_stop
       |        FROM documents)),
       |bucketed AS (
       |  SELECT doc_id,
       |    CASE WHEN reason = 'admit' THEN 1 ELSE 0 END AS gate_admit,
       |    ntile(5) OVER (ORDER BY xent_u, doc_id) AS bucket
       |  FROM dec)
       |SELECT r.rules_quality,
       |  CAST(b.gate_admit AS BIGINT) AS gate_admit,
       |  CAST(CASE WHEN b.bucket <= 3 THEN 1 ELSE 0 END AS BIGINT)
       |    AS low_surprisal,
       |  count(*) AS n_docs
       |FROM bucketed b JOIN rules r USING (doc_id)
       |GROUP BY 1, 2, 3
       |ORDER BY rules_quality, gate_admit DESC, low_surprisal DESC""".stripMargin
  }

  // ---------------------------------------------------------------- q111
  /** EPOCH-SHUFFLE SHARD PLAN — the data-loader ordering step between
    * q103's epoch allocation and an actual training run: each epoch
    * needs its OWN global permutation of the corpus (repeating one
    * order across epochs measurably hurts convergence), and at 100 TB
    * a "global shuffle" is realized as a deterministic (shard,
    * intra-shard order) assignment, never an actual sort. Each
    * document's shard for epoch e is a content-free hash of
    * (doc_id, e) — reproducible across engines, cluster sizes, and
    * reruns (the property that makes a training run auditable), while
    * different epochs decorrelate because the hash input changes. The
    * report is the plan a loader consumes: per (epoch, shard) document
    * count and token mass, and its flatness IS the load-balance
    * check — a skewed shard is a straggler every epoch.
    *
    * Scale posture: stateless per-row hash (the epoch fan-out is a
    * 4-element explode at scan position) + ONE partial-aggregable
    * groupBy over epochs×shards cells; the assignment expression
    * stamps into the write path as a partition column exactly like
    * q83's split. No sort, no window, no join at any size. */
  private[graft] val ShuffleEpochs = 4L
  private[graft] val ShuffleShards = 32L

  /** q111's per-(doc, epoch) shard assignment — ONE definition shared
    * by the plan report below and [[graft.ShardWriter]], which stamps
    * it into the actual partitioned write: the executed layout and the
    * reported plan cannot drift apart. */
  private[graft] def shardAssign(docId: Column, epoch: Column,
      shards: Long = ShuffleShards): Column =
    md5u32(concat(docId.cast("string"), lit("#ep"),
      epoch.cast("string"))) % shards

  /** q111's epoch fan-out: one output row per (doc, epoch). */
  private[graft] def epochFan(epochs: Long = ShuffleEpochs): Column =
    explode(sequence(lit(0L), lit(epochs - 1)))

  private def q111(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        epochFan().as("epoch"))
      .withColumn("shard", shardAssign(col("doc_id"), col("epoch")))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("epoch"), col("shard"))
  }

  private lazy val q111Sql =
    s"""WITH fan AS (
       |  SELECT doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |    unnest(range(0, $ShuffleEpochs)) AS epoch
       |  FROM documents),
       |assigned AS (
       |  SELECT epoch, n_tokens,
       |    ${md5u32Sql(
      "(CAST(doc_id AS VARCHAR) || '#ep' || CAST(epoch AS VARCHAR))")}
       |      % $ShuffleShards AS shard
       |  FROM fan)
       |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM assigned GROUP BY 1, 2
       |ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------------------- q107
  /** DSIR-STYLE IMPORTANCE WEIGHTS — targeted data selection via hashed
    * n-gram importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): fit bag-of-
    * hashed-bigram unigram models on a TARGET corpus (the curated
    * exemplar feed — here source `src0`; production passes the target
    * as a side input) and on the RAW corpus, then score every raw
    * document by its log-likelihood ratio Σ_g ln(p_target(g)/p_raw(g))
    * — positive means "distributionally closer to the target than to
    * the average crawl page". This is the principled replacement for
    * a binary quality classifier when what you want is "more like
    * THIS" rather than "less like spam": the q101 KL machinery turned
    * from a monitor into a per-document selection score.
    *
    * Determinism: hashed features are [[md5u32]] mod [[DsirBuckets]]
    * (portable), counts are exact int64, and each bucket's log-ratio
    * is q101's recipe — ONE `ln` whose argument is built from exact
    * int64 products by correctly-rounded double division, floored to
    * micro-nats. Per-doc weights are exact int64 sums of those
    * per-bucket literals, so equal-content docs always score equal.
    *
    * Smoothing is Jelinek-Mercer (λ=½ uniform mix), NOT add-one:
    * add-one over corpora of different sizes gives every unseen-in-
    * both feature lr = ln((R+B)/(T+B)) > 0 — pure out-of-vocabulary
    * junk scores TARGET-LIKE merely because the target corpus is the
    * smaller one (the same OOV admission class the q89 gate fixed).
    * Under the uniform mix, unseen-in-both is exactly lr = 0 (no
    * evidence), and the scorer's lr join is a LEFT join with
    * coalesce-to-0 so streamed documents hitting buckets absent from
    * the trained table score 0 there, not nothing. Selection then
    * demands POSITIVE evidence: per-gram mean (floor division) above
    * [[DsirSelectMinU]] micro-nats — mean-not-sum so length cannot
    * substitute for affinity, margin-not-zero so "no evidence" is a
    * rejection rather than a coin flip. (The int64 products `t·R·B`
    * stay under 2⁶³ through ~10¹⁴ corpus bigrams; past that the
    * factors pre-scale, q103's caveat.)
    *
    * Scale posture: pass 1 (training) is explode → groupBy over a
    * FIXED bucket domain (≤ [[DsirBuckets]] cells, partial-aggregable
    * — the vocabulary never crosses the shuffle); the resulting
    * log-ratio table is buckets-sized and broadcast. Pass 2 (scoring)
    * is explode → broadcast join → per-doc partial-aggregable sum: the
    * corpus shuffles only on doc_id. At 100 TB the target is small by
    * nature and pass 1 runs over a sample once, shipping lr as a
    * frozen artifact — the scoring pass is then a single map-side
    * join, embarrassingly parallel. */
  private val DsirBuckets = 256L
  private[graft] val DsirTargetSource = "src0"
  private[graft] val DsirSelectMinU = 25000L

  /** Hashed-bigram features of a document batch: (doc_id, source, f). */
  private def dsirFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(ngramOccurrences(col("text"), 2)).as("g"))
      .withColumn("f", md5u32(col("g")) % DsirBuckets)
      .select(col("doc_id"), col("source"), col("f"))

  /** The TRAINED DSIR artifact: per-bucket micro-nat log-ratio
    * ln(p_target/p_raw) with Jelinek–Mercer (uniform-mix, λ=½)
    * smoothing — q107's doc explains why add-one is rejected (its
    * different-corpus-size bias scores OOV junk "target-like"); this
    * is the buckets-sized
    * table a production deployment trains once (over a sample) and
    * ships frozen to every scorer, exactly like [[lmTable]]. Memoized
    * per (session, dir); batch q107 and the streaming scorer
    * ([[graft.streaming.DsirStreams]]) read the same table. */
  private[graft] def dsirLrTable(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "dsirLr") {
      val feat = dsirFeatures(Tables.documents(spark, dir))
      val tcnt = feat.filter(col("source") === DsirTargetSource)
        .groupBy(col("f")).agg(count(lit(1)).as("t"))
      val rcnt = feat.groupBy(col("f")).agg(count(lit(1)).as("r"))
      val tot = feat.agg(
        sum(when(col("source") === DsirTargetSource, 1L).otherwise(0L))
          .as("tt"),
        count(lit(1)).as("rt"))
      rcnt.join(tcnt, Seq("f"), "left")
        .crossJoin(broadcast(tot))
        .select(col("f"),
          floor(lit(1000000.0) *
            log((coalesce(col("t"), lit(0L)) * col("rt") * lit(DsirBuckets) +
              col("tt") * col("rt")).cast(DoubleType) /
              (col("r") * col("tt") * lit(DsirBuckets) +
                col("tt") * col("rt")).cast(DoubleType)))
            .cast("long").as("lr_u"))
    }

  /** DSIR scores for a batch of documents against a FROZEN log-ratio
    * table — the shared scorer of batch q107 and the streaming
    * selection gate (identical code path, so stream decisions are
    * batch decisions by construction). Stateless per-row given `lr`:
    * one explode, one broadcast join, one doc_id-keyed aggregate. */
  private[graft] def dsirScores(docs: DataFrame, lr: DataFrame): DataFrame = {
    // LEFT join + coalesce 0: a bucket absent from the trained table is
    // unseen-in-both ⇒ lr = 0 under the uniform-mix smoothing — the
    // gram still counts toward the mean instead of silently vanishing
    val docw = dsirFeatures(docs).join(broadcast(lr), Seq("f"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("lr_u"), lit(0L))).as("weight_u"))
    val avgU = floor(col("weight_u").cast(DoubleType) /
      col("n_grams").cast(DoubleType)).cast("long")
    docs.select(col("doc_id"), col("source"))
      .join(docw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight_u"), lit(0L)).as("weight_u"),
        when(coalesce(col("n_grams"), lit(0L)) > 0L, avgU)
          .otherwise(lit(0L)).as("avg_u"),
        when(coalesce(col("n_grams"), lit(0L)) > 0L &&
          avgU > DsirSelectMinU, "selected").otherwise("rejected")
          .as("decision"))
  }

  private def q107(spark: SparkSession, dir: String): DataFrame =
    dsirScores(Tables.documents(spark, dir), dsirLrTable(spark, dir))
      .orderBy(col("doc_id"))

  private lazy val q107Sql =
    s"""WITH grams AS (
       |  SELECT doc_id, source, unnest(${ngramOccurrencesSql("text", 2)}) AS g
       |  FROM documents),
       |feat AS (SELECT doc_id, source, ${md5u32Sql("g")} % $DsirBuckets AS f
       |         FROM grams),
       |tcnt AS (SELECT f, CAST(count(*) AS BIGINT) AS t FROM feat
       |         WHERE source = '$DsirTargetSource' GROUP BY 1),
       |rcnt AS (SELECT f, CAST(count(*) AS BIGINT) AS r FROM feat GROUP BY 1),
       |tot AS (SELECT
       |  CAST((SELECT count(*) FROM feat WHERE source = '$DsirTargetSource')
       |    AS BIGINT) AS tt,
       |  CAST((SELECT count(*) FROM feat) AS BIGINT) AS rt),
       |lr AS (
       |  SELECT r.f,
       |    CAST(floor(1000000.0 * ln(
       |      CAST(coalesce(t.t, 0) * tot.rt * $DsirBuckets + tot.tt * tot.rt
       |        AS DOUBLE) /
       |      CAST(r.r * tot.tt * $DsirBuckets + tot.tt * tot.rt
       |        AS DOUBLE))) AS BIGINT) AS lr_u
       |  FROM rcnt r LEFT JOIN tcnt t USING (f), tot),
       |docw AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(coalesce(lr_u, 0)) AS BIGINT) AS weight_u
       |  FROM feat LEFT JOIN lr USING (f) GROUP BY doc_id)
       |SELECT d.doc_id, d.source,
       |  coalesce(w.n_grams, 0) AS n_grams,
       |  coalesce(w.weight_u, 0) AS weight_u,
       |  CASE WHEN coalesce(w.n_grams, 0) > 0
       |    THEN CAST(floor(CAST(w.weight_u AS DOUBLE) /
       |      CAST(w.n_grams AS DOUBLE)) AS BIGINT)
       |    ELSE 0 END AS avg_u,
       |  CASE WHEN coalesce(w.n_grams, 0) > 0
       |         AND CAST(floor(CAST(w.weight_u AS DOUBLE) /
       |           CAST(w.n_grams AS DOUBLE)) AS BIGINT) > $DsirSelectMinU
       |       THEN 'selected' ELSE 'rejected' END AS decision
       |FROM documents d LEFT JOIN docw w USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q115
  /** GOPHER-STYLE RULE FILTERS — the published heuristic filter set
    * (Rae et al., "Scaling Language Models: Methods, Analysis &
    * Insights from Training Gopher", 2021, §A1.1.1) that every major
    * corpus pipeline runs before any learned scorer, restricted to the
    * rules this corpus' feature space exercises:
    *
    *  - `r_wordcount`: 50 ≤ words ≤ 100,000 (too-short docs carry no
    *    training signal; absurdly long ones are concatenation junk);
    *  - `r_wordlen`: mean word length in [3, 10] chars (outside =
    *    symbol soup or unsegmented text);
    *  - `r_stop`: ≥ 2 distinct common stop words present (Gopher's
    *    "contains at least 2 of the, be, to, of, and, that, have,
    *    with" — the cheap English-fluency proxy);
    *  - `r_rep`: most-frequent token ≤ 12.5% of the document (the
    *    intra-doc repetition screen, Gopher's duplicate-line family
    *    collapsed to the token level this corpus exercises).
    *
    * Complements q31 (lexical-diversity grade) and q89 (learned-LM
    * gate): these are the PUBLISHED floor rules a team applies first
    * and audits against the other two (q112's agreement machinery).
    *
    * Determinism: every feature is exact int64 counting (the
    * most-frequent-token fraction floors to micro-units); `mean_wl`
    * is one correctly-rounded double division of exact int64s (the
    * single-space tokenization identity q31 also uses).
    *
    * Scale posture: per-row expressions at scan position plus ONE
    * partial-aggregable (doc_id, token) count for the repetition
    * feature — the same shape as q80; no joins beyond the doc-keyed
    * merge of that aggregate, output is corpus-rows. */
  private val GopherStops = Seq("the", "a", "and", "of", "to")
  private val GopherRepMaxU = 125000L

  private def q115(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOver(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** q115's rule scorer over an ARBITRARY documents frame (doc_id,
    * text, n_chars) — shared verbatim by batch q115 and the streaming
    * ingest gate ([[graft.streaming.QualityStreams]].gopherGate), so
    * stream/batch parity is structural. The rules are constants — no
    * trained artifact to ship, which is why this is the cheapest gate
    * to run FIRST at ingest. */
  private[graft] def gopherRulesOver(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("ts"))
      .withColumn("n_words", size(col("ts")).cast("long"))
    val top = base.select(col("doc_id"), explode(col("ts")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    base.join(top, "doc_id")
      .withColumn("mean_wl",
        (col("n_chars") - col("n_words") + 1L).cast(DoubleType) /
          col("n_words").cast(DoubleType))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(col("ts")),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("top_frac_u",
        floor(lit(1000000.0) * col("top_c").cast(DoubleType) /
          col("n_words").cast(DoubleType)).cast("long"))
      .withColumn("r_wordcount",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("r_wordlen",
        col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0)
      .withColumn("r_stop", col("n_stop_kinds") >= 2L)
      .withColumn("r_rep", col("top_frac_u") <= GopherRepMaxU)
      .withColumn("admit",
        col("r_wordcount") && col("r_wordlen") && col("r_stop") && col("r_rep"))
      .select(col("doc_id"), col("n_words"), col("mean_wl"),
        col("n_stop_kinds"), col("top_frac_u"), col("r_wordcount"),
        col("r_wordlen"), col("r_stop"), col("r_rep"), col("admit"))
  }

  private lazy val q115Sql = {
    val t = tokensSql("text")
    val stops = GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, n_chars, $t AS ts,
       |    CAST(len($t) AS BIGINT) AS n_words
       |  FROM documents),
       |top AS (
       |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(ts) AS w FROM base)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |f AS (
       |  SELECT base.doc_id, n_words,
       |    CAST(n_chars - n_words + 1 AS DOUBLE) /
       |      CAST(n_words AS DOUBLE) AS mean_wl,
       |    CAST(len(list_intersect(list_distinct(ts), $stops)) AS BIGINT)
       |      AS n_stop_kinds,
       |    CAST(floor(1000000.0 * CAST(top_c AS DOUBLE) /
       |      CAST(n_words AS DOUBLE)) AS BIGINT) AS top_frac_u
       |  FROM base JOIN top ON base.doc_id = top.doc_id)
       |SELECT doc_id, n_words, mean_wl, n_stop_kinds, top_frac_u,
       |  (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
       |  (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_wordlen,
       |  (n_stop_kinds >= 2) AS r_stop,
       |  (top_frac_u <= $GopherRepMaxU) AS r_rep,
       |  ((n_words >= 50 AND n_words <= 100000)
       |    AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
       |    AND (n_stop_kinds >= 2)
       |    AND (top_frac_u <= $GopherRepMaxU)) AS admit
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q117
  /** PER-SOURCE LENGTH-DISTRIBUTION PSI — the Population Stability
    * Index, the feature-store standard for "did this feed's
    * DISTRIBUTION move", applied to document length per source against
    * the corpus mixture: PSI = Σ_b (p_s(b) − p_c(b))·ln(p_s(b)/p_c(b))
    * over 8 fixed length buckets (64-char strides, open-topped). The
    * numeric-feature sibling of q101 (token-distribution KL) and q100
    * (embedding drift): a source that starts shipping truncated or
    * concatenated documents moves HERE first, before its vocabulary or
    * embeddings shift — and length is the cheapest drift signal a
    * monitor can compute. Standard triage bands: < 0.1 stable,
    * 0.1–0.25 watch, > 0.25 investigate.
    *
    * Arithmetic, determinism and scale posture: [[Divergence.psi]] over
    * the FIXED 8-bucket domain (Laplace +1 on both sides, so empty
    * buckets are defined and symmetric — the q107 add-one hazard
    * doesn't apply because both sides smooth over the SAME domain). */
  private[graft] val PsiBuckets = 8L
  private[graft] val PsiStride = 64L

  // Memoized per (session, dir): the q174 drift panel composes this
  // sources-sized frame with q126/q100 — caching the PARENT output
  // (not just its leaf stages) makes the panel a join of cached
  // frames instead of a re-run of the whole aggregation pyramid.
  private def q117(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q117SourcePsi") {
    val bucket = least(lit(PsiBuckets - 1L),
      floor(col("n_chars").cast(DoubleType) / lit(PsiStride.toDouble))
        .cast("long"))
    val cells = Tables.documents(spark, dir)
      .select(col("source"), bucket.as("b"))
    Divergence.psi(cells, "source", "b", PsiBuckets)
      .select(col("source"), col("n").as("n_docs"), col("psi_u"))
      .orderBy(col("psi_u").desc, col("source"))
  }

  private lazy val q117Sql =
    s"""WITH d AS (
       |  SELECT source,
       |    least(${PsiBuckets - 1},
       |      CAST(floor(CAST(n_chars AS DOUBLE) / $PsiStride.0) AS BIGINT))
       |      AS b
       |  FROM documents),
       |cells AS (SELECT source, b, count(*) AS cnt FROM d GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s
       |         FROM cells GROUP BY 1),
       |corp AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS ccnt
       |         FROM cells GROUP BY 1),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS n_c FROM corp),
       |dom AS (
       |  SELECT source, n_s, unnest(range(0, $PsiBuckets)) AS b FROM stot),
       |probs AS (
       |  SELECT dom.source, dom.n_s,
       |    CAST(coalesce(cells.cnt, 0) + 1 AS DOUBLE) /
       |      CAST(dom.n_s + $PsiBuckets AS DOUBLE) AS ps,
       |    CAST(coalesce(corp.ccnt, 0) + 1 AS DOUBLE) /
       |      CAST(ctot.n_c + $PsiBuckets AS DOUBLE) AS pc
       |  FROM dom
       |  LEFT JOIN cells ON dom.source = cells.source AND dom.b = cells.b
       |  LEFT JOIN corp ON dom.b = corp.b, ctot)
       |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
       |  CAST(sum(CAST(floor(1000000.0 * (ps - pc) * ln(ps / pc))
       |    AS BIGINT)) AS BIGINT) AS psi_u
       |FROM probs GROUP BY source
       |ORDER BY psi_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q121
  /** CHUNK-DEDUP RATE PER SOURCE — the index-cost estimate over q104's
    * chunk table: how many of each source's chunks carry a chunk_md5
    * that also appears in at least one OTHER document. That is exactly
    * the fraction of embed/index work a RAG pipeline skips when it
    * keys its vector store by chunk hash (q104's scaladoc claim,
    * quantified): boilerplate chunks — headers, navigation, license
    * blocks — collide across documents, and a feed with a high
    * cross-doc chunk-dup rate is mostly template. The chunk-level
    * sibling of q85's span report: q85 counts duplicated 8-word
    * windows (detection granularity), this counts duplicated
    * embedding-unit chunks (cost granularity).
    *
    * Scale posture: rides [[chunksOf]] (stateless fan-out, no
    * shuffle), then one partial-aggregable groupBy on the uniform
    * chunk_md5 to find cross-doc hashes, a semi join back on the same
    * key, and ONE sources-sized groupBy — the q85 shape with md5 keys
    * carrying 16 bytes instead of window hashes. */
  private def q121(spark: SparkSession, dir: String): DataFrame = {
    // One consumption of the chunk fan-out (r17; the groupBy+semi-join
    // +perDoc form planned chunksOf THREE times — the q85 disease):
    // per-(chunk, doc) occurrence counts first, then the cross-doc
    // test is a count over the chunk_md5 partition (perPair has one
    // row per (chunk_md5, doc_id), so the window count IS the
    // distinct-doc count), and both per-doc totals fold into one
    // aggregate — n_dup counts occurrences of cross-doc chunks,
    // exactly the semi-join's rows.
    val chunks = chunksOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("chunk_md5"))
    val perPair = chunks.groupBy(col("chunk_md5"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    val wMd5 = Window.partitionBy(col("chunk_md5"))
    val perDoc = perPair
      .withColumn("nd", count(lit(1)).over(wMd5))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).as("n_chunks"),
        sum(when(col("nd") >= 2L, col("n_occ")).otherwise(0L)).as("n_dup"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("n_dup")).as("n_dup_chunks"))
      .withColumn("dup_rate_u",
        floor(lit(1000000.0) * col("n_dup_chunks").cast(DoubleType) /
          col("n_chunks").cast(DoubleType)).cast("long"))
      .orderBy(col("source"))
  }

  private lazy val q121Sql =
    s"""WITH base AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n
       |  FROM documents),
       |nc AS (SELECT doc_id, toks, n,
       |  CASE WHEN n <= 32 THEN 1
       |    ELSE CAST(((n - 9) - ((n - 9) % 24)) / 24 AS BIGINT) + 1 END
       |    AS n_chunks
       |  FROM base),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(toks[CAST(chunk_id * 24 + 1 AS BIGINT):
       |      CAST(least(chunk_id * 24 + 32, n) AS BIGINT)], ' '))
       |      AS chunk_md5
       |  FROM (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id
       |        FROM nc)),
       |cross_doc AS (
       |  SELECT chunk_md5 FROM ch GROUP BY chunk_md5
       |  HAVING count(DISTINCT doc_id) >= 2),
       |dup_per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup FROM ch
       |  WHERE chunk_md5 IN (SELECT chunk_md5 FROM cross_doc)
       |  GROUP BY doc_id),
       |per_doc AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(p.n_chunks) AS BIGINT) AS n_chunks,
       |  CAST(sum(coalesce(dp.n_dup, 0)) AS BIGINT) AS n_dup_chunks,
       |  CAST(floor(1000000.0 * CAST(sum(coalesce(dp.n_dup, 0)) AS DOUBLE) /
       |    CAST(sum(p.n_chunks) AS DOUBLE)) AS BIGINT) AS dup_rate_u
       |FROM documents d
       |JOIN per_doc p ON d.doc_id = p.doc_id
       |LEFT JOIN dup_per_doc dp ON d.doc_id = dp.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------- q125
  /** ZIPF-SLOPE AUDIT PER SOURCE — fit the rank–frequency power law on
    * each feed's top [[ZipfRanks]] tokens and report the OLS slope of
    * ln(freq) vs ln(rank) in micro-units. Natural language sits near
    * slope −1 (Zipf's law); a feed whose slope collapses toward 0 has a
    * near-uniform head (machine-generated ID dumps, log spew, shuffled
    * vocabularies), and a slope far below −1 is a few tokens dominating
    * everything (template spam) — q80 catches the latter per DOCUMENT,
    * this catches both regimes per FEED even when each individual
    * document passes the per-doc gates. The statistical-shape sibling
    * of q101 (which needs a reference mixture to compare against; the
    * Zipf fit is reference-free).
    *
    * Determinism: ranks are a row_number total order (cnt desc, token
    * asc); x = floor(10⁶·ln rank), y = floor(10⁶·ln cnt) are micro-nat
    * literals identical in both engines (one `ln` per value, exact
    * integer argument — q57's recipe); the OLS sums Σx, Σy, Σxy, Σx²
    * are exact int64 (|x|,|y| ≤ 2.8·10⁷ at any corpus size ⇒ products
    * ≤ 8·10¹⁴, sums over ≤ 32 terms ≤ 2.6·10¹⁶, and the n·Σxy − Σx·Σy
    * numerator ≤ 8·10¹⁷ < 2⁶³); the final slope is ONE double division
    * of two exact int64s, floored to micro-units.
    *
    * Scale posture: the per-(source, token) count is the only
    * corpus-sized aggregate (partial-aggregable, uniform keys); the
    * rank window partitions by SOURCE but runs over the
    * vocabulary-sized count frame, never the corpus — and only the
    * top-32 rows per source survive into the 4-sum OLS aggregate, so
    * the fit itself is sources-sized. At 100 TB the count frame is the
    * materialized vocabulary table every text query here shares. */
  private[graft] val ZipfRanks = 32L

  private def q125(spark: SparkSession, dir: String): DataFrame = {
    val cnts = Features.sourceTokenCounts(spark, dir)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("w"))
    cnts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= ZipfRanks)
      .withColumn("x", floor(lit(1000000.0) * log(col("rnk").cast(DoubleType))).cast("long"))
      .withColumn("y", floor(lit(1000000.0) * log(col("cnt").cast(DoubleType))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_ranks"),
        max(when(col("rnk") === 1L, col("cnt"))).as("top_cnt"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_ranks") >= 2L)
      .withColumn("slope_u",
        floor(lit(1000000.0) *
          (col("n_ranks") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n_ranks") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .cast("long"))
      .select(col("source"), col("n_ranks"), col("top_cnt"), col("slope_u"))
      .orderBy(col("slope_u"), col("source"))
  }

  private lazy val q125Sql =
    s"""WITH cnts AS (
       |  SELECT source, w, count(*) AS cnt
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT source, cnt,
       |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rnk
       |  FROM cnts),
       |pts AS (
       |  SELECT source, rnk, cnt,
       |    CAST(floor(1000000.0 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
       |    CAST(floor(1000000.0 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
       |  FROM ranked WHERE rnk <= $ZipfRanks),
       |sums AS (
       |  SELECT source, count(*) AS n_ranks,
       |    max(CASE WHEN rnk = 1 THEN cnt END) AS top_cnt,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY 1)
       |SELECT source, n_ranks, top_cnt,
       |  CAST(floor(1000000.0 *
       |    CAST(n_ranks * sxy - sx * sy AS DOUBLE) /
       |    CAST(n_ranks * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope_u
       |FROM sums WHERE n_ranks >= 2
       |ORDER BY slope_u, source""".stripMargin

  // ---------------------------------------------------------------- q127
  /** STRATIFIED EVAL ROSTER — the held-out-set builder: exactly
    * min([[EvalQuota]], |source|) documents per source, chosen by
    * content-hash rank. q55 samples at a RATE per stratum (realized
    * count varies with stratum size); an eval set needs a fixed QUOTA
    * per stratum — small feeds must not vanish from evaluation and big
    * feeds must not dominate it — so this ranks each source's docs by
    * the q55 content hash and keeps the first [[EvalQuota]]. Hash-rank
    * selection keeps the roster reproducible across runs, engines, and
    * cluster sizes (RNG `TABLESAMPLE` gives none of that), and because
    * the hash covers doc_id AND text, a re-crawl that changes a
    * document's content rotates it out deterministically rather than
    * silently keeping a stale exemplar.
    *
    * Scale posture: one row_number window partitioned by source over a
    * narrow (source, hash, id) projection — each partition is one
    * feed's rows, and only quota rows per source survive, so the
    * roster is sources×quota-sized. At extreme per-source cardinality
    * the window swaps for a per-source approx hash-threshold
    * (`Features.QuantileModeConf`'s documented trade); the exact rank
    * is kept here because the oracle pins it. */
  private[graft] val EvalQuota = 5L

  private def q127(spark: SparkSession, dir: String): DataFrame = {
    val h = md5u32(concat(col("doc_id").cast("string"), lit(":"), col("text")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= EvalQuota)
      .select(col("source"), col("rnk"), col("doc_id"), col("h"))
      .orderBy(col("source"), col("rnk"))
  }

  private lazy val q127Sql = {
    val h = md5u32Sql("(CAST(doc_id AS VARCHAR) || ':' || text)")
    s"""WITH ranked AS (
       |  SELECT source, doc_id, $h AS h,
       |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rnk
       |  FROM documents)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, h
       |FROM ranked WHERE rnk <= $EvalQuota
       |ORDER BY source, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q143
  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT — the third member of the
    * sampling family (q55 samples at a RATE, q127 takes fixed QUOTAS;
    * this draws k documents with probability proportional to WEIGHT,
    * here token mass): Efraimidis–Spirakis exponential keys
    * (IPL 2006) made deterministic — u = (h+1)/2³², h the content-id
    * hash, key = ln(u)/w, keep the k LARGEST keys. ln(u)/w is the
    * standard monotone substitute for u^(1/w) (log of it, and pow is
    * the one libm call whose cross-engine rounding is not trusted —
    * ln and division are); heavier documents divide their negative
    * ln(u) by a larger w, pulling the key toward 0. One pass, no
    * coordination — at 100 TB the top-k is TakeOrderedAndProject
    * (per-partition heaps, k rows to the driver), which is exactly
    * how a distributed weighted sampler must run; the same keys are
    * also the streaming reservoir's fold ([[graft.streaming
    * .SampleStreams]]), so batch draw and stream draw agree on any
    * prefix by construction.
    *
    * Determinism: the engine-portable md5 hash replaces the RNG (the
    * q55/q75 admission-coin posture), so the "sample" is reproducible
    * across engines, runs, and partitionings; ties break on doc_id. */
  val SampleK = 20
  private[graft] def sampleKey: Column = {
    val u = (md5u32(concat(col("doc_id").cast("string"), lit("#wsample")))
      + lit(1L)).cast(DoubleType) / lit(4294967296.0)
    log(u) / size(tokens(col("text"))).cast(DoubleType)
  }

  private def q143(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        sampleKey.as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(lit(1000000.0) * col("skey")).cast("long").as("key_u"))
      .orderBy(col("key_u").desc, col("doc_id"))

  private lazy val q143Sql = {
    val h = md5u32Sql("(CAST(doc_id AS VARCHAR) || '#wsample')")
    s"""WITH keyed AS (
       |  SELECT doc_id, source,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |    ln(CAST($h + 1 AS DOUBLE) / 4294967296.0) /
       |      CAST(len(${tokensSql("text")}) AS DOUBLE) AS skey
       |  FROM documents),
       |top AS (
       |  SELECT doc_id, source, n_tokens, skey
       |  FROM keyed ORDER BY skey DESC, doc_id LIMIT $SampleK)
       |SELECT doc_id, source, n_tokens,
       |  CAST(floor(1000000.0 * skey) AS BIGINT) AS key_u
       |FROM top
       |ORDER BY key_u DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q128
  /** PER-SOURCE UNIGRAM ENTROPY — the absolute complement of q101's
    * relative KL: each feed's Shannon entropy H = ln N − (Σ c·ln c)/N
    * over its own token distribution, in micro-nats, with vocabulary
    * and normalized entropy H/ln V. q101 asks "does this feed's
    * distribution match the corpus"; this asks "how much information
    * does the feed carry AT ALL" — a template farm or log-spew feed
    * scores low even when it happens to match the corpus mixture, and
    * normalized entropy near 1 with a tiny vocabulary is the ID-dump
    * signature (every token distinct but meaningless). The per-feed
    * aggregate of what q31's per-doc lexical diversity approximates.
    *
    * Determinism: one `ln` per distinct per-(source, token) count —
    * exact integer arguments, micro-nat floors (q57's recipe); the
    * Σ c·flln(c) cell products and their sum are exact int64 (cells
    * ≤ c·2.8·10⁷; the sum is ≤ N·flln(c_max) — at 10¹³ corpus tokens
    * this nears 2⁶³ and the documented swap is per-source `div`-based
    * partial means, same answer); the normalization is the house
    * floor-division spelling `(s − pmod(s, N))/N` on an exact
    * multiple, then one double division for H/ln V.
    *
    * Scale posture: per-(source, token) counts are the single
    * corpus-sized aggregate (partial-aggregable, uniform keys —
    * q101's frame, shareable); everything above it is vocabulary- then
    * sources-sized. */
  private def q128(spark: SparkSession, dir: String): DataFrame = {
    Features.sourceTokenCounts(spark, dir)
      .withColumn("cell_u",
        col("cnt") *
          floor(lit(1000000.0) * log(col("cnt").cast(DoubleType))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("cell_u")).as("s_u"))
      .withColumn("mean_clnc_u",
        ((col("s_u") - pmod(col("s_u"), col("n_tokens"))) / col("n_tokens"))
          .cast("long"))
      .withColumn("entropy_u",
        floor(lit(1000000.0) * log(col("n_tokens").cast(DoubleType))).cast("long") -
          col("mean_clnc_u"))
      .withColumn("norm_entropy_u",
        when(col("vocab") >= 2L,
          floor(lit(1000000.0) * col("entropy_u").cast(DoubleType) /
            floor(lit(1000000.0) * log(col("vocab").cast(DoubleType))))
            .cast("long"))
          .otherwise(lit(0L)))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("entropy_u"), col("norm_entropy_u"))
      .orderBy(col("entropy_u"), col("source"))
  }

  private lazy val q128Sql =
    s"""WITH cnts AS (
       |  SELECT source, w, count(*) AS cnt
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |sums AS (
       |  SELECT source,
       |    CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |    count(*) AS vocab,
       |    CAST(sum(cnt * CAST(floor(1000000.0 * ln(CAST(cnt AS DOUBLE)))
       |      AS BIGINT)) AS BIGINT) AS s_u
       |  FROM cnts GROUP BY 1),
       |ent AS (
       |  SELECT source, n_tokens, vocab,
       |    CAST(floor(1000000.0 * ln(CAST(n_tokens AS DOUBLE))) AS BIGINT) -
       |      CAST((s_u - (s_u % n_tokens)) / n_tokens AS BIGINT) AS entropy_u
       |  FROM sums)
       |SELECT source, n_tokens, vocab, entropy_u,
       |  CASE WHEN vocab >= 2 THEN
       |    CAST(floor(1000000.0 * CAST(entropy_u AS DOUBLE) /
       |      CAST(floor(1000000.0 * ln(CAST(vocab AS DOUBLE))) AS DOUBLE))
       |      AS BIGINT)
       |  ELSE 0 END AS norm_entropy_u
       |FROM ent
       |ORDER BY entropy_u, source""".stripMargin

  // ---------------------------------------------------------------- q131
  /** TOKENIZER VOCABULARY-COVERAGE AUDIT — what a tokenizer (or a
    * tokenizer swap) costs each feed: against a frozen
    * [[VocabTopK]]-entry vocabulary (here the corpus' own top tokens
    * by frequency — production ships the real tokenizer vocab, same
    * broadcast shape), each source's token mass splits into in-vocab
    * and OOV, with the OOV MASS rate (occurrence-weighted — the
    * quantity that becomes byte-fallback fragments and inflates
    * sequence length) and the distinct OOV type count (the quantity
    * that decides whether the vocab needs extending). The budgeting
    * sibling of q46's fertility ratio: q46 estimates tokens-per-word
    * globally, this attributes the coverage gap per feed — a code or
    * non-Latin feed surfaces here before its padded-out sequences show
    * up in the training bill.
    *
    * Scale posture: per-(source, token) counts are the shared
    * corpus-sized aggregate (q101/q128's frame); the corpus marginal
    * and its top-K rank window run over the vocabulary-sized frame
    * only, and the K-row vocab broadcasts into a vocab-vs-vocab join —
    * at 100 TB the vocab is a frozen artifact (the LM/DSIR
    * ship-the-model posture) and pass 1 disappears entirely. */
  private[graft] val VocabTopK = 512L

  private def q131(spark: SparkSession, dir: String): DataFrame = {
    val counts = Features.sourceTokenCounts(spark, dir)
    // Vocabulary source is conf-selected: the default top-K head keeps
    // the oracle pin; `spark.graft.vocab.source=bpe` audits coverage of
    // the vocabulary [[Bpe]] TRAINS on this same corpus — a word is
    // in-vocab when some merge assembles it whole (it exists as one
    // trained symbol) or it is a single-codepoint seed. The trained
    // table memoizes like every frozen artifact (train once, audit
    // per feed). BpeSpec pins this leg against an independent
    // driver-side replay of the trained merge list.
    val vocab =
      if (Features.bpeVocabOn(spark))
        Features.cachedFrame(spark, dir, "bpeVocab") {
          Bpe.mergeTable(Tables.documents(spark, dir),
              Features.bpeMerges(spark))
            .select(col("merged").as("w")).distinct()
            .select(col("w"), lit(1L).as("in_vocab"))
        }
      else {
        val corpus = counts.groupBy(col("w")).agg(sum(col("cnt")).as("ccnt"))
        val wRank = Window.orderBy(col("ccnt").desc, col("w"))
        corpus
          .withColumn("rnk", row_number().over(wRank).cast("long"))
          .filter(col("rnk") <= VocabTopK)
          .select(col("w"), lit(1L).as("in_vocab"))
      }
    val seedCovered =
      if (Features.bpeVocabOn(spark)) length(col("w")) === 1 else lit(false)
    counts.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("in_vocab",
        when(col("in_vocab").isNotNull || seedCovered, lit(1L)))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, col("cnt")).otherwise(0L))
          .as("in_vocab_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_types"))
      .withColumn("oov_mass_u",
        floor(lit(1000000.0) *
          (col("n_tokens") - col("in_vocab_tokens")).cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).cast("long"))
      .select(col("source"), col("n_tokens"), col("in_vocab_tokens"),
        col("oov_types"), col("oov_mass_u"))
      .orderBy(col("oov_mass_u").desc, col("source"))
  }

  private lazy val q131Sql =
    s"""WITH counts AS (
       |  SELECT source, w, count(*) AS cnt
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |corpus AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS ccnt
       |           FROM counts GROUP BY 1),
       |vocab AS (
       |  SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY ccnt DESC, w) AS rnk
       |    FROM corpus)
       |  WHERE rnk <= $VocabTopK),
       |flagged AS (
       |  SELECT c.source, c.cnt,
       |    CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END AS iv
       |  FROM counts c LEFT JOIN vocab v ON c.w = v.w)
       |SELECT source,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN iv = 1 THEN cnt ELSE 0 END) AS BIGINT)
       |    AS in_vocab_tokens,
       |  CAST(sum(1 - iv) AS BIGINT) AS oov_types,
       |  CAST(floor(1000000.0 *
       |    CAST(sum(cnt) - sum(CASE WHEN iv = 1 THEN cnt ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS oov_mass_u
       |FROM flagged GROUP BY source
       |ORDER BY oov_mass_u DESC, source""".stripMargin

  // --------------------------------------------------------------- q151
  /** Corpus version manifest — the per-source dataset fingerprint a
    * training run records so "did source X change since the last
    * snapshot?" is a manifest diff, not a 100 TB comparison. The
    * incremental layers (q69's index compaction, q148's SCD2 merge,
    * the streaming monitors' frozen artifacts) all need exactly this
    * cheap change detector to decide when to rebuild.
    *
    * Per source: row count, distinct languages, total characters,
    * doc_id range, and an order-independent content checksum —
    * `bit_xor` over TWO independent 32-bit md5 lanes of
    * (doc_id ':' text), carried as separate BIGINT columns. XOR is
    * commutative and carry-free, so the checksum is partition- and
    * overflow-proof at any row count; hashing the (id, text) PAIR
    * keeps byte-identical duplicate documents from cancelling each
    * other out of the XOR. Two lanes put the false-"unchanged"
    * probability at ~2^-64 per source (one 32-bit lane's ~2^-32 is
    * thin for THE rebuild-decision input at 100 TB); each lane stays
    * signed-BIGINT-representable in DuckDB, which a single unsigned
    * 64-bit parse would not.
    *
    * Scale posture: one scan, every aggregate partial-aggregable
    * (count / countDistinct-on-tiny-domain / sum / min / max / xor),
    * one shuffle on `source`, output = |sources| rows. This is the
    * cheapest whole-corpus query in the suite by design — it has to
    * be, because it runs before every pipeline decision. */
  /** The full q151 manifest shape over any documents-shaped frame —
    * shared by the q151 query and [[graft.ManifestWriter]], which
    * ships it as the stored artifact q153's production diff reads. */
  private[graft] def corpusManifest(docs: DataFrame): DataFrame = {
    val key = concat(col("doc_id").cast("string"), lit(":"), col("text"))
    docs
      .withColumn("h", md5u32(key))
      .withColumn("hb", md5u32b(key))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(h)").as("checksum"),
        expr("bit_xor(hb)").as("checksum_b"))
  }

  private def q151(spark: SparkSession, dir: String): DataFrame =
    corpusManifest(Tables.documents(spark, dir)).orderBy(col("source"))

  private val q151Sql =
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS min_doc_id,
       |  max(doc_id) AS max_doc_id,
       |  bit_xor(${md5u32Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
       |    AS checksum,
       |  bit_xor(${md5u32bSql("CAST(doc_id AS VARCHAR) || ':' || text")})
       |    AS checksum_b
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q153
  /** Manifest diff — the CONSUMER of q151's artifact: given the
    * current corpus manifest and a stored snapshot, classify every
    * source as unchanged / changed / new / removed and quantify the
    * delta (docs, chars). This is the decision input the incremental
    * layers act on: `unchanged` sources skip recompaction entirely
    * (q69/q148's merge paths), `changed` ones rebuild, and the
    * classification costs two |sources|-row frames — never a corpus
    * comparison. XOR checksum equality is the change test, so a
    * same-count same-size in-place edit still classifies `changed`
    * (the failure mode row counts alone cannot see).
    *
    * The query instantiates the stored snapshot reproducibly as the
    * manifest of the doc_id % 10 != 0 subset — "yesterday's corpus"
    * before today's every-tenth-doc arrivals — so the diff exercises
    * changed AND unchanged classes on fixture data (sources whose
    * doc_ids all avoid % 10 == 0 come out unchanged).
    *
    * Scale posture: [[manifestOf]] is one partial-aggregable scan
    * each side; in production the stored side is a READ of the saved
    * |sources|-row artifact, not a scan — that path is real code:
    * [[graft.ManifestWriter]] ships the manifest as parquet (Curate
    * writes it beside every shipped corpus) and
    * [[graft.ManifestWriter.diffAgainstStored]] diffs the artifact
    * against a live corpus, spec-pinned equal to this in-session
    * query. The diff itself is a full outer join of two
    * |sources|-row frames — free at any corpus size. */
  private[graft] def manifestOf(docs: DataFrame): DataFrame = {
    val key = concat(col("doc_id").cast("string"), lit(":"), col("text"))
    docs
      .withColumn("h", md5u32(key))
      .withColumn("hb", md5u32b(key))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(h)").as("checksum"),
        expr("bit_xor(hb)").as("checksum_b"))
  }

  private[graft] def manifestDiff(current: DataFrame, stored: DataFrame): DataFrame = {
    val cur = current.select(col("source"), col("n_docs").as("c_docs"),
      col("sum_chars").as("c_chars"), col("checksum").as("c_sum"),
      col("checksum_b").as("c_sum_b"))
    val old = stored.select(col("source"), col("n_docs").as("s_docs"),
      col("sum_chars").as("s_chars"), col("checksum").as("s_sum"),
      col("checksum_b").as("s_sum_b"))
    cur.join(old, Seq("source"), "full_outer")
      .select(col("source"),
        when(col("c_sum").isNull, lit("removed"))
          .when(col("s_sum").isNull, lit("new"))
          .when(col("c_sum") === col("s_sum") &&
            col("c_sum_b") === col("s_sum_b") &&
            col("c_docs") === col("s_docs"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("c_docs"), lit(0L)) - coalesce(col("s_docs"), lit(0L)))
          .as("delta_docs"),
        (coalesce(col("c_chars"), lit(0L)) - coalesce(col("s_chars"), lit(0L)))
          .as("delta_chars"))
      .orderBy(col("source"))
  }

  private def q153(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Plain `%`, not pmod: DuckDB's % takes the dividend's sign, so
    // pmod would diverge on negative doc_ids — same sign semantics on
    // both sides keeps the subset definition engine-portable.
    manifestDiff(manifestOf(docs),
      manifestOf(docs.filter((col("doc_id") % 10L) =!= 0L)))
  }

  private val q153Sql = {
    def man(filter: String) =
      s"""SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    bit_xor(${md5u32Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS checksum,
         |    bit_xor(${md5u32bSql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS checksum_b
         |  FROM documents $filter GROUP BY source""".stripMargin
    s"""WITH cur AS (${man("")}),
       |stored AS (${man("WHERE doc_id % 10 != 0")})
       |SELECT COALESCE(c.source, s.source) AS source,
       |  CASE WHEN c.checksum IS NULL THEN 'removed'
       |       WHEN s.checksum IS NULL THEN 'new'
       |       WHEN c.checksum = s.checksum AND c.checksum_b = s.checksum_b
       |         AND c.n_docs = s.n_docs
       |         THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  COALESCE(c.n_docs, 0) - COALESCE(s.n_docs, 0) AS delta_docs,
       |  COALESCE(c.sum_chars, 0) - COALESCE(s.sum_chars, 0) AS delta_chars
       |FROM cur c FULL OUTER JOIN stored s ON c.source = s.source
       |ORDER BY source""".stripMargin
  }

  // ----------------------------------------------------------------

  // ---------------------------------------------------------------- q154
  /** Exact two-sample KOLMOGOROV–SMIRNOV drift statistic per source —
    * the distribution-shape complement of q117's PSI: PSI reads 8 fixed
    * buckets (robust, bounded state, streaming-friendly), KS is the
    * max ECDF gap over the FULL value domain, sensitive to shape
    * changes that stay inside a bucket. Each source's document-length
    * distribution is compared against the corpus mixture; ks_u =
    * max_v |F_src(v) − F_corpus(v)| in exact micro-units (integer
    * `div` on cumulative counts — no float accumulation anywhere, so
    * no boundary row can flip engines). Arithmetic and scale posture:
    * [[Divergence.ecdf]] over the distinct-length domain (bounded by
    * the max document length, NOT the corpus row count). */
  private def q154(spark: SparkSession, dir: String): DataFrame =
    Divergence.ecdf(Tables.documents(spark, dir)
        .select(col("source"), col("n_chars").as("v")), "source", "v")
      .select(col("source"), col("n").as("n_docs"), col("ks_u"))
      .orderBy(col("ks_u").desc, col("source"))

  private val q154Sql =
    s"""WITH sv AS (
       |  SELECT source, n_chars AS v, count(*) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stot
       |  FROM sv GROUP BY 1),
       |cv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ccnt
       |  FROM sv GROUP BY 1),
       |cc AS (SELECT v, CAST(sum(ccnt) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS ccum FROM cv),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS ctot FROM cv),
       |grid AS (
       |  SELECT s.source, s.stot, c.v, c.ccum, t.ctot
       |  FROM stot s CROSS JOIN cc c CROSS JOIN ctot t),
       |ecdf AS (
       |  SELECT g.source, g.stot, g.ctot, g.ccum,
       |    CAST(sum(coalesce(x.cnt, 0)) OVER (PARTITION BY g.source
       |      ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS scum
       |  FROM grid g LEFT JOIN sv x ON g.source = x.source AND g.v = x.v)
       |SELECT source, max(stot) AS n_docs,
       |  CAST(max(abs((1000000 * scum) // stot - (1000000 * ccum) // ctot))
       |    AS BIGINT) AS ks_u
       |FROM ecdf GROUP BY source
       |ORDER BY ks_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Exact 1-D WASSERSTEIN (earth-mover) drift per source — the
    * mass-weighted complement of q154's KS: KS reads the single worst
    * ECDF gap (sharp, but a distribution whose whole body shifted by
    * one char and one whose tail teleported can score the same), EMD
    * integrates |F_src − F_corpus| over the value axis, so the
    * statistic is literally "average characters of movement per
    * document" (×10⁶) — the number a retraining-trigger thresholds,
    * because cost of drift is proportional to how far the mass moved,
    * not how sharply. For discrete integer lengths the integral is
    * exact: Σ_v |F_s(v) − F_c(v)| · (next_v − v) over the merged value
    * domain, with both ECDFs in micro-units (integer `div` — the same
    * fixed-point as q154, so no float accumulation and no boundary row
    * can flip engines). `emd_u` = micro-units × chars; reading it
    * `div` 10⁶ gives whole characters of mean displacement.
    *
    * Scale posture: [[Divergence.ecdf]], q154's frame deliberately — a
    * session running both drift statistics shares the scan shape, and
    * the gap term is one `lead` in the SAME key-partitioned window
    * order as the running sum (one Window node, no extra shuffle). */
  // Memoized per (session, dir): composed by the q183 trust panel.
  private def q176(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q176EmdDrift") {
    Divergence.ecdf(Tables.documents(spark, dir)
        .select(col("source"), col("n_chars").as("v")), "source", "v")
      .select(col("source"), col("n").as("n_docs"), col("emd_u"))
      .orderBy(col("emd_u").desc, col("source"))
  }

  private val q176Sql =
    s"""WITH sv AS (
       |  SELECT source, n_chars AS v, count(*) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stot
       |  FROM sv GROUP BY 1),
       |cv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ccnt
       |  FROM sv GROUP BY 1),
       |cc AS (SELECT v, CAST(sum(ccnt) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS ccum FROM cv),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS ctot FROM cv),
       |grid AS (
       |  SELECT s.source, s.stot, c.v, c.ccum, t.ctot
       |  FROM stot s CROSS JOIN cc c CROSS JOIN ctot t),
       |ecdf AS (
       |  SELECT g.source, g.stot, g.ctot, g.ccum,
       |    CAST(sum(coalesce(x.cnt, 0)) OVER (PARTITION BY g.source
       |      ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS scum,
       |    coalesce(lead(g.v) OVER (PARTITION BY g.source ORDER BY g.v),
       |      g.v) - g.v AS gap
       |  FROM grid g LEFT JOIN sv x ON g.source = x.source AND g.v = x.v)
       |SELECT source, max(stot) AS n_docs,
       |  CAST(sum(abs((1000000 * scum) // stot - (1000000 * ccum) // ctot)
       |    * gap) AS BIGINT) AS emd_u
       |FROM ecdf GROUP BY source
       |ORDER BY emd_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q177
  /** GOOD-TURING UNSEEN-MASS AUDIT per source — the token-level
    * novelty forecast: the Good–Turing estimate of the probability
    * that the NEXT token drawn from a source is a word never seen
    * before is P₀ = N₁/N (hapax count over token count) — the only
    * distribution-free answer to "how much new vocabulary is this
    * source still holding?", which is the crawl-prioritization and
    * mixing-weight signal q122 gives at document granularity and this
    * gives at token granularity. Per source: token mass N, vocabulary
    * V, hapax count N₁, dis-legomena N₂ (the Good–Turing smoothing
    * pair — N₂/N₁ collapsing toward 0 flags a truncated/boilerplate
    * vocabulary), `unseen_mass_u` = ⌊10⁶·N₁/N⌋ and `hapax_share_u` =
    * ⌊10⁶·N₁/V⌋ (what fraction of the vocabulary is one-shot — near
    * 10⁶ means the source never repeats itself: ids/hashes/spam).
    *
    * Determinism: exact int64 counts and integer `div` rates — no
    * floats anywhere. Scale posture: one explode + one
    * partial-aggregable (source, word) count — the q50 vocabulary
    * frame one key coarser — then a |source·vocab|-row re-aggregate
    * whose map side combines to |sources| rows; nothing corpus-sized
    * crosses the wire twice, and the frequency-of-frequency counts
    * (sum of CASE) ride the same aggregate rather than a second
    * grouping. */
  private def q177(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .withColumn("unseen_mass_u", expr("(1000000 * n_hapax) div n_tokens"))
      .withColumn("hapax_share_u", expr("(1000000 * n_hapax) div vocab"))
      .orderBy(col("unseen_mass_u").desc, col("source"))
  }

  private val q177Sql =
    s"""WITH wc AS (
       |  SELECT source, w, count(*) AS c
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS vocab,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hapax,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
       |  FROM wc GROUP BY 1)
       |SELECT source, n_tokens, vocab, n_hapax, n_dis,
       |  (1000000 * n_hapax) // n_tokens AS unseen_mass_u,
       |  (1000000 * n_hapax) // vocab AS hapax_share_u
       |FROM agg
       |ORDER BY unseen_mass_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q179
  /** TERM BURSTINESS AUDIT (Church & Gale, "Poisson mixtures", 1995)
    * — the within-document clumping statistic the collection-frequency
    * family here doesn't read: TF-IDF (q57) and PMI (q91) rank terms
    * by where they appear, burstiness ranks them by how they REPEAT
    * once present — E[tf | present] = total_tf / df. A term that
    * appears in few documents but many times each (burst ≫ 1) is
    * topical/template content; a term with burst ≈ 1 at high df is a
    * function word — the distinction behind data-driven stopword
    * lists, keyword extraction, and q80-style repetition thresholds
    * (a naturally bursty vocabulary needs a looser gate than a flat
    * one). Top-20 burstiest terms above a [[BurstDfFloor]] document-
    * frequency floor (singleton-df terms read burst = their own tf —
    * noise, not signal), with exact counts and the micro-unit
    * conditional mean.
    *
    * Determinism: exact int64 counts, integer `div` for the mean, ties
    * by term; the floor keeps every ranked row statistically real.
    * Scale posture: one explode into the per-(doc, term) tf aggregate
    * (q57's frame), one partial-aggregable per-term re-aggregate
    * (Σtf, df ride the same groupBy), and the top-20 is
    * `orderBy.limit` — TakeOrderedAndProject, never a global sort. */
  val BurstDfFloor = 5L

  private def q179(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("w"))
      .agg(sum(col("tf")).as("total_tf"), count(lit(1)).as("df"))
      .filter(col("df") >= BurstDfFloor)
      .withColumn("burst_u", expr("(1000000 * total_tf) div df"))
      .orderBy(col("burst_u").desc, col("w"))
      .limit(20)
  }

  private val q179Sql =
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |term AS (
       |  SELECT w, CAST(sum(tf) AS BIGINT) AS total_tf,
       |    count(*) AS df
       |  FROM tf GROUP BY 1)
       |SELECT w, total_tf, df,
       |  (1000000 * total_tf) // df AS burst_u
       |FROM term WHERE df >= $BurstDfFloor
       |ORDER BY burst_u DESC, w
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q185
  /** INGEST-ORDER DRIFT LOCALIZATION — the WHEN to q176's WHICH: the
    * per-source EMD says which feed's length distribution moved, this
    * slices the corpus into ten ingest-order cohorts (doc_id deciles —
    * ingest ids are the arrival axis, q180's premise) and reads each
    * cohort's exact 1-D Wasserstein distance from the corpus mixture,
    * so a distribution that moved MID-CRAWL shows as a ramp across
    * deciles and the repair scope ("re-crawl everything after cohort
    * 7") falls out of the table. Flags ride the q183 threshold
    * (≈ 50 chars of mean displacement).
    *
    * Determinism: the decile is pure integer arithmetic on ids
    * (⌊10·doc_id/(max_id+1)⌋ — no ntile, whose row-count balancing
    * would depend on tie order), and the EMD is q176's exact
    * micro-int ECDF integral with deciles in place of sources.
    *
    * Scale posture: [[Divergence.ecdf]] with deciles as keys (the
    * decile is a stateless per-row projection, no shuffle to assign);
    * the max-id anchor is one single-row aggregate broadcast back. */
  private def q185(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val cells = docs.select(col("doc_id"), col("n_chars").as("v"))
      .crossJoin(broadcast(mx))
      .withColumn("decile", expr("(10 * doc_id) div (mx + 1)"))
    Divergence.ecdf(cells, "decile", "v")
      .select(col("decile"), col("n").as("n_docs"), col("emd_u"),
        (col("emd_u") >= lit(50000000L)).as("drifted"))
      .orderBy(col("decile"))
  }

  private val q185Sql =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
       |sv AS (
       |  SELECT CAST((10 * d.doc_id) // (m.mx + 1) AS BIGINT) AS decile,
       |    d.n_chars AS v, count(*) AS cnt
       |  FROM documents d CROSS JOIN mx m GROUP BY 1, 2),
       |stot AS (SELECT decile, CAST(sum(cnt) AS BIGINT) AS stot
       |  FROM sv GROUP BY 1),
       |cv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ccnt
       |  FROM sv GROUP BY 1),
       |cc AS (SELECT v, CAST(sum(ccnt) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS ccum FROM cv),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS ctot FROM cv),
       |grid AS (
       |  SELECT s.decile, s.stot, c.v, c.ccum, t.ctot
       |  FROM stot s CROSS JOIN cc c CROSS JOIN ctot t),
       |ecdf AS (
       |  SELECT g.decile, g.stot, g.ctot, g.ccum,
       |    CAST(sum(coalesce(x.cnt, 0)) OVER (PARTITION BY g.decile
       |      ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS scum,
       |    coalesce(lead(g.v) OVER (PARTITION BY g.decile ORDER BY g.v),
       |      g.v) - g.v AS gap
       |  FROM grid g LEFT JOIN sv x ON g.decile = x.decile AND g.v = x.v)
       |SELECT decile, max(stot) AS n_docs,
       |  CAST(sum(abs((1000000 * scum) // stot - (1000000 * ccum) // ctot)
       |    * gap) AS BIGINT) AS emd_u,
       |  CAST(sum(abs((1000000 * scum) // stot - (1000000 * ccum) // ctot)
       |    * gap) AS BIGINT) >= 50000000 AS drifted
       |FROM ecdf GROUP BY decile
       |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q157
  /** DATASET CARD / DATASHEET — the per-source one-row summary a
    * released corpus publishes (Gebru et al., "Datasheets for
    * Datasets"): volume (docs, tokens, languages), exact-duplicate
    * mass under THE shared content fingerprint, quality-admit rate
    * under the q89 composite gate, and benchmark-contamination rate
    * under the q73 3-gram gate. Deliberately a COMPOSITION, not new
    * machinery: every column reuses a production stage (contentFp,
    * [[qualityDecisions]] against the memoized [[lmTable]],
    * `Dedup.contamScores`' memoized frame), so the datasheet can never
    * disagree with the decisions the pipeline actually shipped — the
    * same plan==report discipline as q111/ShardWriter.
    *
    * Scale posture: the fingerprint leg is one partial-aggregable
    * groupBy on the uniform fp key + one fp-keyed join (a 10⁶-copy
    * viral dup is one count row, never a pair join); the quality and
    * contamination legs are reads of session-memoized frames (built
    * once, shared with q89/q92/q95/q119 and Curate); the final joins
    * are |sources|-vs-|sources|. Rates are exact int64 `div`. */
  private def q157(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vol = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"))
    val fp = docs.select(col("source"), contentFp(col("text")).as("fp"))
    val fpCnt = fp.groupBy(col("fp")).agg(count(lit(1)).as("fcnt"))
    val dup = fp.join(fpCnt, "fp")
      .groupBy(col("source"))
      .agg(sum(when(col("fcnt") > 1L, 1L).otherwise(0L)).as("n_dup_docs"))
    val qual = corpusQualityDecisions(spark, dir)
      .groupBy(col("source"))
      .agg(sum(when(col("admit"), 1L).otherwise(0L)).as("n_admitted"))
    val contam = Dedup.contamScores(spark, dir)
      .select(col("doc_id").as("c_id"))
    val contamBySrc = docs.select(col("doc_id"), col("source"))
      .join(contam, col("doc_id") === col("c_id"), "left")
      .groupBy(col("source"))
      .agg(sum(when(col("c_id").isNotNull, 1L).otherwise(0L))
        .as("n_contaminated"))
    vol.join(dup, Seq("source")).join(qual, Seq("source"))
      .join(contamBySrc, Seq("source"))
      .withColumn("dup_rate_u", expr("(1000000 * n_dup_docs) div n_docs"))
      .withColumn("quality_admit_u", expr("(1000000 * n_admitted) div n_docs"))
      .withColumn("contam_rate_u",
        expr("(1000000 * n_contaminated) div n_docs"))
      .orderBy(col("source"))
  }

  // lazy: embeds qualityDecisionCtes (itself lazy) and Dedup constants.
  private lazy val q157Sql =
    s"""WITH $qualityDecisionCtes,
       |ds_vol AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents GROUP BY 1),
       |ds_fp AS (SELECT source, ${contentFpSql("text")} AS fp FROM documents),
       |ds_fpcnt AS (SELECT fp, count(*) AS fcnt FROM ds_fp GROUP BY 1),
       |ds_dup AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN c.fcnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_docs
       |  FROM ds_fp f JOIN ds_fpcnt c USING (fp) GROUP BY 1),
       |ds_qual AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_admitted
       |  FROM dec GROUP BY 1),
       |ds_cwords AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS w FROM documents),
       |ds_chashed AS (SELECT doc_id, ${md5u32Sql("w")} AS h FROM ds_cwords),
       |ds_cev AS (SELECT h FROM ds_chashed
       |  WHERE doc_id % ${Dedup.EvalSliceMod} = 0),
       |ds_cflag AS (
       |  SELECT DISTINCT t.doc_id FROM ds_chashed t JOIN ds_cev e
       |    ON t.h = e.h
       |  WHERE t.doc_id % ${Dedup.EvalSliceMod} <> 0),
       |ds_contam AS (
       |  SELECT d.source,
       |    CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_contaminated
       |  FROM documents d LEFT JOIN ds_cflag f ON d.doc_id = f.doc_id
       |  GROUP BY 1)
       |SELECT v.source, v.n_docs, v.n_tokens, v.n_langs,
       |  n_dup_docs, n_admitted, n_contaminated,
       |  (1000000 * n_dup_docs) // v.n_docs AS dup_rate_u,
       |  (1000000 * n_admitted) // v.n_docs AS quality_admit_u,
       |  (1000000 * n_contaminated) // v.n_docs AS contam_rate_u
       |FROM ds_vol v
       |  JOIN ds_dup USING (source) JOIN ds_qual USING (source)
       |  JOIN ds_contam USING (source)
       |ORDER BY v.source""".stripMargin

  // ---------------------------------------------------------------- q159
  /** DOC-LEVEL SNAPSHOT DELTA — the manifest family pushed to document
    * granularity: q153 answers "which SOURCES changed" (the
    * skip-recompaction decision), this answers "which DOCUMENTS
    * changed inside them" (the work-list the incremental layers
    * actually process — q69's new-batch side, q148's delta leg). Every
    * document of the live corpus is classified against a stored
    * fingerprint LEDGER as added / changed / unchanged (and stored
    * docs missing from the corpus as removed), reported per
    * (source, status) with exact char-mass deltas.
    *
    * The fingerprint is `md5(text)` over the RAW bytes, deliberately
    * not [[graft.functions.TextFns.contentFp]]'s token bag: change
    * DETECTION must see every byte edit (a whitespace-only edit still
    * invalidates downstream artifacts), while dedup wants
    * canonicalization — two different jobs, two different keys
    * (q161 quantifies exactly what the canonical keys collapse).
    *
    * The stored snapshot is instantiated reproducibly as "yesterday's
    * corpus": every tenth doc (doc_id % 10 == 0) had not arrived yet
    * (today's `added` class), and every seventh doc was since edited —
    * its stored text carries an `"OLD "` prefix (4 chars the delta
    * must account), exercising `changed` with non-zero char drift.
    * `removed` cannot occur in a subset fixture (q153's precedent);
    * `DeltaLedgerSpec` plants it through the artifact path.
    *
    * Scale posture: the ledger is ~48 bytes/doc — three orders of
    * magnitude under the corpus — and the delta is ONE full-outer join
    * of two fingerprint frames co-partitioned on doc_id (bucketed
    * snapshots make it zero-shuffle), then a partial-aggregable
    * groupBy to |sources|×4 rows. The corpus' text is scanned once to
    * fingerprint the live side and NEVER shuffles; the stored side is
    * a ledger READ ([[graft.ManifestWriter.writeLedger]] ships it,
    * [[graft.ManifestWriter.deltaAgainstStoredLedger]] consumes it —
    * spec-pinned equal to this in-session query), so "what changed
    * since yesterday" costs one narrow scan + one fingerprint-sized
    * join, never a byte-level corpus comparison. */
  private[graft] def docLedgerOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("fp"), col("n_chars"))

  /** Classify `current` against `stored` (both [[docLedgerOf]]-shaped)
    * into per-(source, status) doc counts and char deltas. Shared by
    * the q159 query and [[graft.ManifestWriter.deltaAgainstStoredLedger]]. */
  private[graft] def ledgerDelta(current: DataFrame,
      stored: DataFrame): DataFrame = {
    val cur = current.select(col("doc_id"), col("source").as("c_src"),
      col("fp").as("c_fp"), col("n_chars").as("c_chars"))
    val old = stored.select(col("doc_id"), col("source").as("s_src"),
      col("fp").as("s_fp"), col("n_chars").as("s_chars"))
    cur.join(old, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("c_src"), col("s_src")).as("source"),
        when(col("s_fp").isNull, lit("added"))
          .when(col("c_fp").isNull, lit("removed"))
          .when(col("c_fp") === col("s_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("c_chars"), lit(0L)) -
          coalesce(col("s_chars"), lit(0L))).as("d_chars"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("d_chars")).as("delta_chars"))
      .orderBy(col("source"), col("status"))
  }

  /** The reproducible "yesterday's corpus" ledger q159 and q165 share:
    * every tenth doc had not arrived, every seventh was since edited
    * (stored text carries an `"OLD "` 4-char prefix). ONE definition —
    * the rebuild plan must be computed over exactly the delta it
    * summarizes. */
  private def q159StoredLedger(docs: DataFrame): DataFrame = {
    val edited = (col("doc_id") % 7L) === 0L
    docLedgerOf(
      docs.filter((col("doc_id") % 10L) =!= 0L)
        .withColumn("text",
          when(edited, concat(lit("OLD "), col("text")))
            .otherwise(col("text")))
        .withColumn("n_chars",
          when(edited, col("n_chars") + 4L).otherwise(col("n_chars"))))
  }

  private def q159(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ledgerDelta(docLedgerOf(docs), q159StoredLedger(docs))
  }

  private val q159Sql =
    s"""WITH cur AS (
       |  SELECT doc_id, source, md5(text) AS fp, n_chars FROM documents),
       |stored AS (
       |  SELECT doc_id, source,
       |    md5(CASE WHEN doc_id % 7 = 0 THEN 'OLD ' || text ELSE text END)
       |      AS fp,
       |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 4 ELSE n_chars END
       |      AS n_chars
       |  FROM documents WHERE doc_id % 10 != 0)
       |SELECT COALESCE(c.source, s.source) AS source,
       |  CASE WHEN s.fp IS NULL THEN 'added'
       |       WHEN c.fp IS NULL THEN 'removed'
       |       WHEN c.fp = s.fp THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  count(*) AS n_docs,
       |  CAST(sum(COALESCE(c.n_chars, 0) - COALESCE(s.n_chars, 0)) AS BIGINT)
       |    AS delta_chars
       |FROM cur c FULL OUTER JOIN stored s ON c.doc_id = s.doc_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q161
  /** CANONICALIZATION DEDUP-LIFT LADDER — the decision table for "how
    * aggressively should the exact-dedup key canonicalize": per
    * source, the duplicate mass found under three keys of increasing
    * strength — raw `md5(text)` (byte-identical only), q67's
    * normalized text (lowercase, punctuation stripped, whitespace
    * collapsed), and [[graft.functions.TextFns.contentFp]]'s
    * sorted-unique token bag (order- and repetition-insensitive, THE
    * production dedup key). The two canonicalizers coarsen
    * byte-identity along DIFFERENT axes (case/punctuation vs
    * order/repetition) — each is a coarsening of raw (equal raw text
    * ⇒ equal under either), so both lifts are provably ≥ 0 and read
    * directly as "duplicates this tier finds that byte-equality
    * misses" — the number that justifies (or kills) running the
    * cleaner before fingerprinting at 100 TB. A large `lift_norm` is
    * mirror sites differing in markup; a large `lift_bag` beyond it
    * is shuffled/stuttered template content (q80's regime).
    *
    * Scale posture: three codegen'd hash columns in ONE narrow scan
    * (no text shuffle), then one partial-aggregable groupBy carrying
    * three `count(DISTINCT)` legs — Spark expands them into one
    * partial-agg expand (3× the fingerprint rows, still narrow;
    * census-whitelisted as the optimal exact single-scan plan — an
    * Expand-free form would re-hash the text per leg); output is
    * |sources| rows. The ladder never materializes pairs or groups —
    * it counts distinct keys, which is all the lift numbers need. */
  private def q161(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
      " +", " "))
    Tables.documents(spark, dir)
      .select(col("source"),
        md5(col("text")).as("fp_raw"),
        md5(norm).as("fp_norm"),
        contentFp(col("text")).as("fp_bag"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp_raw")).as("d_raw"),
        countDistinct(col("fp_norm")).as("d_norm"),
        countDistinct(col("fp_bag")).as("d_bag"))
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("d_raw")).as("dup_raw"),
        (col("n_docs") - col("d_norm")).as("dup_norm"),
        (col("n_docs") - col("d_bag")).as("dup_bag"),
        (col("d_raw") - col("d_norm")).as("lift_norm"),
        (col("d_raw") - col("d_bag")).as("lift_bag"))
      .orderBy(col("source"))
  }

  private val q161Sql = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  count(*) - count(DISTINCT md5(text)) AS dup_raw,
       |  count(*) - count(DISTINCT md5($norm)) AS dup_norm,
       |  count(*) - count(DISTINCT ${contentFpSql("text")}) AS dup_bag,
       |  count(DISTINCT md5(text)) - count(DISTINCT md5($norm)) AS lift_norm,
       |  count(DISTINCT md5(text)) - count(DISTINCT ${contentFpSql("text")})
       |    AS lift_bag
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q163
  /** VOCABULARY COVERAGE CURVE — the tuning table for "how big must
    * the tokenizer's word-level head be" (q142/q158/q162's sweep
    * discipline applied to the vocabulary family): for each candidate
    * head size k ∈ {64, 256, 1024, 4096}, the token mass the top-k
    * frequency-ranked terms cover, in exact micro-units. The curve's
    * knee is the Zipf-economics decision every tokenizer budget rests
    * on (the same head q131 audits at a FIXED size and [[Bpe]] spends
    * merges on — this prices the size choice itself). Rank ties break
    * by term so both engines rank identically.
    *
    * Scale posture: the corpus-sized work is the memoized
    * [[Features.sourceTokenCounts]] table (built once, shared with
    * q99/q101/q125/q128/q131); this re-aggregates it to the corpus
    * marginal (vocab-sized), ranks THAT frame (one vocab-sized sort,
    * never the corpus), and crosses it with 4 broadcast threshold
    * rows — q162's sweep shape, so a new candidate size costs
    * nothing. */
  private def q163(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Features.sourceTokenCounts(spark, dir)
      .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
    val ranked = vocab.withColumn("rk",
      row_number().over(Window.orderBy(col("cnt").desc, col("w")))
        .cast("long"))
    val ks = spark.range(1)
      .select(explode(array(lit(64L), lit(256L), lit(1024L), lit(4096L)))
        .as("k"))
    broadcast(ks).crossJoin(ranked)
      .groupBy(col("k"))
      .agg(
        sum(when(col("rk") <= col("k"), col("cnt")).otherwise(0L))
          .as("covered_tokens"),
        sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("n_terms"))
      .withColumn("coverage_u",
        expr("(1000000 * covered_tokens) div total_tokens"))
      .orderBy(col("k"))
  }

  private val q163Sql =
    s"""WITH tok AS (SELECT unnest(${tokensSql("text")}) AS w FROM documents),
       |vc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
       |rk AS (SELECT w, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rk
       |  FROM vc),
       |ks AS (SELECT CAST(unnest([64, 256, 1024, 4096]) AS BIGINT) AS k)
       |SELECT k,
       |  CAST(sum(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS BIGINT)
       |    AS covered_tokens,
       |  CAST(sum(cnt) AS BIGINT) AS total_tokens,
       |  count(*) AS n_terms,
       |  (1000000 * CAST(sum(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS BIGINT))
       |    // CAST(sum(cnt) AS BIGINT) AS coverage_u
       |FROM ks CROSS JOIN rk
       |GROUP BY k
       |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q164
  /** TOKEN-MASS CONCENTRATION AUDIT — per source, how unequally the
    * token budget is distributed across documents: the exact Gini
    * coefficient of per-doc token counts (ascending-rank formula
    * `(2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)` in integer micro-units) plus the
    * top-decile share (the mass held by the largest ⌈n/10⌉ docs). A
    * high-Gini source is a few giant documents wearing a thin long
    * tail — the regime where doc-level sampling quotas (q127),
    * per-doc soft-dedup weights (q123) and epoch token budgets (q103)
    * silently diverge from token-level intent, and where q76's packer
    * sees pathological bin inputs. The observability twin of q125's
    * Zipf audit: that measures concentration across the VOCABULARY,
    * this across DOCUMENTS.
    *
    * Scale posture: one narrow (source, doc_id, n_tokens) projection;
    * the rank runs per source (one hash shuffle, per-source sort —
    * q76's window class, never global); everything after is one
    * partial-aggregable groupBy to |sources| rows. Exact int64
    * arithmetic throughout — Σi·xᵢ stays under 2⁶³ to ~10⁶ docs/source
    * at 10³ tokens each; beyond that the documented swap is DECIMAL
    * accumulators (q154's posture), not floats. */
  private def q164(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("x"))
    // Two-phase rank (value-bucketed) + an aggregated count joined
    // back: bit-identical to the per-source rank/count windows they
    // replace, with every sort task bounded by one value bucket
    // (Features scaladoc; ShardedPrefixSpec pins the equality).
    val nn = perDoc.groupBy(col("source")).agg(count(lit(1)).as("nn"))
    Features.shardedRowNumber(perDoc, Seq("source"), expr("x div 64"),
        Seq(col("x"), col("doc_id")), "i")
      .join(broadcast(nn), "source")
      .withColumn("top10", col("i") > col("nn") - expr("(nn + 9) div 10"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("total_tokens"),
        sum(col("i") * col("x")).as("ix"),
        max(col("nn")).as("n"),
        sum(when(col("top10"), col("x")).otherwise(0L)).as("top_mass"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        when(col("total_tokens") === 0L, 0L)
          .otherwise(expr(
            "(1000000 * (2 * ix - (n + 1) * total_tokens)) div (n * total_tokens)"))
          .as("gini_u"),
        when(col("total_tokens") === 0L, 0L)
          .otherwise(expr("(1000000 * top_mass) div total_tokens"))
          .as("top10_share_u"))
      .orderBy(col("source"))
  }

  private val q164Sql =
    s"""WITH perdoc AS (
       |  SELECT source, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS x
       |  FROM documents),
       |rk AS (
       |  SELECT source, x,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
       |      AS BIGINT) AS i,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM perdoc)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(x) AS BIGINT) AS total_tokens,
       |  CASE WHEN CAST(sum(x) AS BIGINT) = 0 THEN 0
       |    ELSE (1000000 * (2 * CAST(sum(i * x) AS BIGINT)
       |        - (max(n) + 1) * CAST(sum(x) AS BIGINT)))
       |      // (max(n) * CAST(sum(x) AS BIGINT)) END AS gini_u,
       |  CASE WHEN CAST(sum(x) AS BIGINT) = 0 THEN 0
       |    ELSE (1000000 * CAST(sum(CASE WHEN i > n - (n + 9) // 10
       |        THEN x ELSE 0 END) AS BIGINT))
       |      // CAST(sum(x) AS BIGINT) END AS top10_share_u
       |FROM rk
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q165
  /** INCREMENTAL REBUILD PLAN — the decision table that CONSUMES
    * q159's delta (the q153→q69/q148 composition made explicit):
    * per source, the delta class counts roll up to a churn rate and
    * ONE of three verdicts the incremental layers act on — `skip`
    * (zero churn: reuse every artifact untouched), `delta` (churn
    * under [[RebuildDeltaMaxU]]: run the merge paths over the
    * changed-document work-list, q69's new-batch side and q148's
    * delta leg), or `full` (churn beyond the threshold: a delta
    * merge would rewrite most rows anyway — rebuild). `est_work_docs`
    * prices each verdict in documents so the plan doubles as the
    * capacity forecast for the next run.
    *
    * Churn is measured against the CURRENT corpus (what the next run
    * processes); a source that vanished entirely (cur_docs = 0, only
    * `removed` rows) reads churn 10⁶ and verdicts `full` — its
    * artifacts must be retired, which no delta merge expresses.
    *
    * Scale posture: everything derives from q159's (source, status)
    * frame — |sources|×4 rows; the plan itself costs one conditional
    * pivot and integer threshold compares. The expensive input is the
    * one fingerprint join q159 already prices, and in production THAT
    * reads the shipped ledger artifact. */
  val RebuildDeltaMaxU = 200000L // ≤20% churn → delta merge wins

  private def q165(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val delta = ledgerDelta(docLedgerOf(docs), q159StoredLedger(docs))
    def cls(s: String): Column =
      sum(when(col("status") === s, col("n_docs")).otherwise(0L))
    delta.groupBy(col("source"))
      .agg(cls("added").as("n_added"), cls("changed").as("n_changed"),
        cls("removed").as("n_removed"), cls("unchanged").as("n_unchanged"))
      .withColumn("cur_docs",
        col("n_added") + col("n_changed") + col("n_unchanged"))
      .withColumn("churn_u",
        when(col("cur_docs") === 0L, lit(1000000L))
          .otherwise(expr(
            "(1000000 * (n_added + n_changed + n_removed)) div cur_docs")))
      .withColumn("mode",
        when(col("churn_u") === 0L, lit("skip"))
          .when(col("churn_u") <= RebuildDeltaMaxU, lit("delta"))
          .otherwise(lit("full")))
      .withColumn("est_work_docs",
        when(col("mode") === "skip", 0L)
          .when(col("mode") === "delta",
            col("n_added") + col("n_changed") + col("n_removed"))
          .otherwise(col("cur_docs")))
      .orderBy(col("source"))
  }

  private val q165Sql =
    s"""WITH delta AS ($q159Sql),
       |per_src AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN status = 'added' THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS n_added,
       |    CAST(sum(CASE WHEN status = 'changed' THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS n_changed,
       |    CAST(sum(CASE WHEN status = 'removed' THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS n_removed,
       |    CAST(sum(CASE WHEN status = 'unchanged' THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS n_unchanged
       |  FROM delta GROUP BY source),
       |rolled AS (
       |  SELECT *, n_added + n_changed + n_unchanged AS cur_docs,
       |    CASE WHEN n_added + n_changed + n_unchanged = 0 THEN 1000000
       |      ELSE (1000000 * (n_added + n_changed + n_removed))
       |        // (n_added + n_changed + n_unchanged) END AS churn_u
       |  FROM per_src)
       |SELECT source, n_added, n_changed, n_removed, n_unchanged,
       |  cur_docs, churn_u,
       |  CASE WHEN churn_u = 0 THEN 'skip'
       |       WHEN churn_u <= $RebuildDeltaMaxU THEN 'delta'
       |       ELSE 'full' END AS mode,
       |  CASE WHEN churn_u = 0 THEN 0
       |       WHEN churn_u <= $RebuildDeltaMaxU
       |         THEN n_added + n_changed + n_removed
       |       ELSE cur_docs END AS est_work_docs
       |FROM rolled
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q167
  /** QUALITY-GATE CALIBRATION BY LENGTH — q89's first-failing
    * attribution cross-tabbed against document-length octaves: per
    * power-of-two token bucket, how many docs each gate rejected and
    * the admit rate. The two tuning questions this answers before
    * anyone moves a cutoff: where does the `length` floor actually
    * bite (is [[QualityMinTokens]] cutting into a bucket the other
    * gates would have admitted?), and is the LM gate a length proxy
    * (surprisal-per-token correlating with length octave instead of
    * content — the known bias of perplexity-family filters, visible
    * here as `n_lm` mass concentrating in one octave while its
    * neighbors admit freely). Buckets are CASE thresholds, not log()
    * — exact integer compares, zero float-parity machinery (q110's
    * band discipline).
    *
    * Scale posture: one conditional pivot over the q89 decision frame
    * (whose expensive input, the frozen LM, is session-memoized);
    * output is ≤ 6 rows. The calibration view costs one
    * partial-aggregable groupBy over decisions already made. */
  private def q167(spark: SparkSession, dir: String): DataFrame = {
    val dec = corpusQualityDecisions(spark, dir)
    val lo = when(col("n_tokens") < 8L, 0L)
      .when(col("n_tokens") < 16L, 8L)
      .when(col("n_tokens") < 32L, 16L)
      .when(col("n_tokens") < 64L, 32L)
      .when(col("n_tokens") < 128L, 64L)
      .otherwise(128L)
    def reasonN(r: String, out: String): Column =
      sum(when(col("reason") === r, 1L).otherwise(0L)).as(out)
    dec.withColumn("bucket_lo", lo)
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        reasonN("admit", "n_admit"),
        reasonN("length", "n_length"),
        reasonN("repetition", "n_repetition"),
        reasonN("lm_quality", "n_lm"))
      .withColumn("admit_rate_u", expr("(1000000 * n_admit) div n_docs"))
      .orderBy(col("bucket_lo"))
  }

  // lazy: embeds qualityDecisionCtes (itself lazy — q157's rule).
  private lazy val q167Sql =
    s"""WITH $qualityDecisionCtes,
       |bkt AS (
       |  SELECT CAST(CASE WHEN n_tokens < 8 THEN 0
       |    WHEN n_tokens < 16 THEN 8
       |    WHEN n_tokens < 32 THEN 16
       |    WHEN n_tokens < 64 THEN 32
       |    WHEN n_tokens < 128 THEN 64
       |    ELSE 128 END AS BIGINT) AS bucket_lo, reason
       |  FROM dec)
       |SELECT bucket_lo, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admit,
       |  CAST(sum(CASE WHEN reason = 'length' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_length,
       |  CAST(sum(CASE WHEN reason = 'repetition' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_repetition,
       |  CAST(sum(CASE WHEN reason = 'lm_quality' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_lm,
       |  (1000000 * CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS admit_rate_u
       |FROM bkt
       |GROUP BY bucket_lo
       |ORDER BY bucket_lo""".stripMargin

  // ---------------------------------------------------------------- q190
  /** SIMPSON TOKEN CONCENTRATION PER SOURCE — the repeat-probability
    * complement of the entropy audit (q128): Simpson's index
    * D = Σ c_w(c_w−1) / N(N−1) is exactly the probability that two
    * tokens drawn WITHOUT replacement from the source are the same
    * type — an exact rational, where entropy needs ln. Entropy weights
    * the tail (vocabulary richness), Simpson weights the HEAD: a
    * boilerplate-flooded or template-heavy feed concentrates token
    * mass into few types and its D jumps long before the mean length
    * (q117/q176) or even entropy moves — the cheapest early-warning
    * statistic in the drift family, and the one with zero float
    * machinery.
    *
    * Determinism: pure int64 — counts, the even-product N(N−1), one
    * micro floor-div. Int64 headroom: Σc(c−1) ≤ N² overflows at
    * N ≈ 3·10⁹ tokens per source — the documented DECIMAL swap
    * (q184's discipline) for corpora past that.
    *
    * Scale posture: one re-aggregate of the memoized
    * [[Features.sourceTokenCounts]] vocabulary frame (built once per
    * session, shared with q101/q125/q128/q131) — no new corpus scan;
    * output is |sources| rows. */
  private def q190(spark: SparkSession, dir: String): DataFrame =
    Features.sourceTokenCounts(spark, dir)
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("cnt") * (col("cnt") - 1L)).as("rep2"))
      .filter(col("n_tokens") >= 2L)
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("(1000000 * rep2) div (n_tokens * (n_tokens - 1))")
          .as("simpson_u"))
      .orderBy(col("simpson_u").desc, col("source"))

  private val q190Sql =
    s"""WITH wc AS (
       |  SELECT source, w, count(*) AS c
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS vocab,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep2
       |  FROM wc GROUP BY 1)
       |SELECT source, n_tokens, vocab,
       |  (1000000 * rep2) // (n_tokens * (n_tokens - 1)) AS simpson_u
       |FROM agg WHERE n_tokens >= 2
       |ORDER BY simpson_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q197
  /** BIGRAM CONDITIONAL ENTROPY per source — H(W₂|W₁) =
    * Σ c(w₁w₂)·ln(c(w₁·)/c(w₁w₂)) / N over the source's adjacent
    * token pairs: how PREDICTABLE the next token is given the current
    * one. The unigram entropy family (q128 entropy, q190 Simpson)
    * sees the token URN; this is the first statistic in the suite
    * that sees token ORDER — a template/boilerplate source whose
    * unigram profile looks healthy (many types, flat counts) still
    * collapses here, because its transitions are deterministic
    * (H→0). The corpus-level twin of what q141's per-doc bigram
    * surprisal scores one document at a time, and the text-side
    * sibling of q191's event-transition kernel.
    *
    * Determinism: bigram and context counts exact int64; each term is
    * one ln of an exact-integer ratio times an exact count, micro-
    * floored (q141's recipe verbatim); the final H is one nonneg
    * floor-div by N.
    *
    * Scale posture: one bigram explode (token-mass-sized, the q141
    * shape) into a partial-aggregable (source, bigram) count; the
    * context marginal re-aggregates that count frame (never the
    * corpus); output is |sources| rows. */
  private def q197(spark: SparkSession, dir: String): DataFrame = {
    val bc = Tables.documents(spark, dir)
      .select(col("source"), explode(ngramOccurrences(col("text"), 2)).as("bg"))
      .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val ctx = bc.groupBy(col("source"), col("w1"))
      .agg(sum(col("cnt")).as("ctx"))
    bc.join(ctx, Seq("source", "w1"))
      .withColumn("term_u",
        floor(lit(1000000.0) * col("cnt").cast(DoubleType) *
          log(col("ctx").cast(DoubleType) / col("cnt").cast(DoubleType)))
          .cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("vocab_bg"),
        sum(col("term_u")).as("sum_u"))
      .withColumn("hcond_u", expr("sum_u div n_bigrams"))
      .select(col("source"), col("n_bigrams"), col("vocab_bg"),
        col("hcond_u"))
      .orderBy(col("hcond_u").desc, col("source"))
  }

  private val q197Sql =
    s"""WITH bc AS (
       |  SELECT source, bg, count(*) AS cnt,
       |    string_split(bg, ' ')[1] AS w1
       |  FROM (SELECT source,
       |          unnest(${ngramOccurrencesSql("text", 2)}) AS bg
       |        FROM documents)
       |  GROUP BY 1, 2),
       |ctx AS (
       |  SELECT source, w1, CAST(sum(cnt) AS BIGINT) AS ctx
       |  FROM bc GROUP BY 1, 2),
       |terms AS (
       |  SELECT b.source, b.cnt,
       |    CAST(floor(1000000.0 * CAST(b.cnt AS DOUBLE) *
       |      ln(CAST(c.ctx AS DOUBLE) / CAST(b.cnt AS DOUBLE))) AS BIGINT)
       |      AS term_u
       |  FROM bc b JOIN ctx c ON b.source = c.source AND b.w1 = c.w1)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |  count(*) AS vocab_bg,
       |  CAST(sum(term_u) AS BIGINT) // CAST(sum(cnt) AS BIGINT)
       |    AS hcond_u
       |FROM terms GROUP BY 1
       |ORDER BY hcond_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q198
  /** LENGTH↔RICHNESS RANK CORRELATION per source — Spearman's ρ
    * between a document's token count and its distinct-token count,
    * computed exactly: ρ = 1 − 6·Σd²/(n(n²−1)) over rank differences.
    * The drift monitors (q117 PSI, q176 EMD) watch each marginal
    * alone; this watches the JOINT structure: in organic text longer
    * documents keep introducing types (ρ → 1), while template
    * expansion, log spam, or repetition padding grows length without
    * vocabulary (ρ collapses — q80 catches the per-document extreme,
    * this catches the per-source population shift). Rank correlation,
    * not Pearson, so one pathological megadoc cannot own the
    * statistic.
    *
    * Determinism: both per-doc measures are pure array expressions
    * (size / size∘distinct — no explode); ranks are row_number with a
    * doc_id tiebreak (a DETERMINISTIC Spearman variant — ties get
    * arrival ranks, not midranks; documented, identical in both
    * engines); Σd² in int64, the final ratio exact decimal with one
    * integral div (headroom: 6·10⁶·Σd² needs DECIMAL past n ≈ 10⁴ —
    * carried as DECIMAL(38,0) from the start).
    *
    * Scale posture: the per-doc stats are scan-shaped; the two rank
    * windows partition by SOURCE (the q125 caveat: an exact-rank
    * window concentrates a source's docs — the documented
    * approx-quantile swap applies past memory scale); the moment
    * aggregate is |sources|-sized. */
  private def q198(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_types"))
    // Both Spearman rank legs run the two-phase value-bucketed rank
    // (exact; no per-source whole-corpus sort task — Features scaladoc).
    val rx = Features.shardedRowNumber(docs, Seq("source"),
      expr("n_tokens div 64"), Seq(col("n_tokens"), col("doc_id")), "rx")
    Features.shardedRowNumber(rx, Seq("source"),
        expr("n_types div 64"), Seq(col("n_types"), col("doc_id")), "ry")
      .withColumn("d", col("rx") - col("ry"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("d") * col("d")).as("sum_d2"))
      .filter(col("n_docs") >= 2L)
      .withColumn("spearman_u",
        lit(1000000L) -
          expr("""(CAST(6000000 AS DECIMAL(38,0)) *
                  CAST(sum_d2 AS DECIMAL(38,0)))
                 div (CAST(n_docs AS DECIMAL(38,0)) *
                  (CAST(n_docs AS DECIMAL(38,0)) *
                   CAST(n_docs AS DECIMAL(38,0)) - 1))"""))
      .select(col("source"), col("n_docs"), col("sum_d2"),
        col("spearman_u"))
      .orderBy(col("spearman_u").desc, col("source"))
  }

  private val q198Sql =
    s"""WITH docs AS (
       |  SELECT source, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT)
       |      AS n_types
       |  FROM documents),
       |ranked AS (
       |  SELECT source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_tokens, doc_id) AS BIGINT) -
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_types, doc_id) AS BIGINT) AS d
       |  FROM docs),
       |mom AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(d * d) AS BIGINT) AS sum_d2
       |  FROM ranked GROUP BY 1)
       |SELECT source, n_docs, sum_d2,
       |  1000000 - CAST((6000000 * CAST(sum_d2 AS HUGEINT))
       |    // (CAST(n_docs AS HUGEINT) *
       |        (CAST(n_docs AS HUGEINT) * CAST(n_docs AS HUGEINT) - 1))
       |    AS BIGINT) AS spearman_u
       |FROM mom WHERE n_docs >= 2
       |ORDER BY spearman_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q215
  /** VOCABULARY-GROWTH AUDIT (Heaps-law read) — per source, how much
    * NEW vocabulary the second half of the feed still contributes:
    * rank documents in ingest order (doc_id), mark each distinct
    * token's FIRST-seen rank, and report the vocabulary present by
    * the half-way document against the full vocabulary. Organic text
    * keeps minting types (Heaps' V(n) ~ K·n^β: a large second-half
    * share); template expansion, log spam, or a feed re-crawling
    * itself saturates (growth → 0) — the corpus-level twin of q80's
    * per-document repetition gate and the cheap "is this feed worth
    * continuing to crawl" read next to q122's novelty attribution.
    *
    * Determinism: ranks over the (doc_id) total order; all counts
    * int64; the growth share one micro floor-div.
    *
    * Scale posture: the first-seen table is one partial-aggregable
    * `min(rank)` groupBy over the exploded distinct tokens (int
    * buffer — hash-aggregable); the ingest rank is the two-phase
    * [[Features.shardedRowNumber]] (exact, no per-source whole-corpus
    * sort task at any feed size); the report is sources-sized. */
  private def q215(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Features.shardedRowNumber(
      Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          array_distinct(tokens(col("text"))).as("toks")),
      Seq("source"), expr(s"doc_id div ${Features.prefixShardSize(spark)}"),
      Seq(col("doc_id")), "rnk")
    val nDocs = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val firstSeen = ranked
      .select(col("source"), col("rnk"), explode(col("toks")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(min(col("rnk")).as("first_rnk"))
    firstSeen.join(broadcast(nDocs), "source")
      .groupBy(col("source"), col("n_docs"))
      .agg(count(lit(1)).as("vocab_full"),
        sum(when(col("first_rnk") <= expr("(n_docs + 1) div 2"), 1L)
          .otherwise(0L)).as("vocab_half"))
      .withColumn("growth_u",
        // Guard: a source whose first-half documents are all token-free
        // has vocab_half = 0 — non-ANSI div would yield NULL here while
        // the DuckDB oracle's `// 0` errors (ADVICE r13).
        when(col("vocab_half") === 0L, lit(0L)).otherwise(
          expr("(1000000 * (vocab_full - vocab_half)) div vocab_half")))
      .select(col("source"), col("n_docs"), col("vocab_half"),
        col("vocab_full"), col("growth_u"))
      .orderBy(col("growth_u").desc, col("source"))
  }

  private lazy val q215Sql =
    s"""WITH ranked AS (
       |  SELECT source, doc_id,
       |    list_distinct(${tokensSql("text")}) AS toks,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS BIGINT) AS rnk
       |  FROM documents),
       |nd AS (
       |  SELECT source, count(*) AS n_docs FROM ranked GROUP BY 1),
       |fs AS (
       |  SELECT source, w, min(rnk) AS first_rnk
       |  FROM (SELECT source, rnk, unnest(toks) AS w FROM ranked)
       |  GROUP BY 1, 2)
       |SELECT f.source, n.n_docs,
       |  CAST(sum(CASE WHEN f.first_rnk <= (n.n_docs + 1) // 2
       |    THEN 1 ELSE 0 END) AS BIGINT) AS vocab_half,
       |  count(*) AS vocab_full,
       |  CASE WHEN CAST(sum(CASE WHEN f.first_rnk <= (n.n_docs + 1) // 2
       |      THEN 1 ELSE 0 END) AS BIGINT) = 0 THEN 0
       |  ELSE (1000000 * (count(*) -
       |    CAST(sum(CASE WHEN f.first_rnk <= (n.n_docs + 1) // 2
       |      THEN 1 ELSE 0 END) AS BIGINT))) //
       |    CAST(sum(CASE WHEN f.first_rnk <= (n.n_docs + 1) // 2
       |      THEN 1 ELSE 0 END) AS BIGINT) END AS growth_u
       |FROM fs f JOIN nd n ON f.source = n.source
       |GROUP BY 1, 2
       |ORDER BY growth_u DESC, f.source""".stripMargin

  // ---------------------------------------------------------------- q219
  /** SECRET/CREDENTIAL SCAN — the high-entropy-token sweep every
    * training-data pipeline runs before release (leaked API keys,
    * tokens, base64 blobs memorize verbatim): per source, documents
    * carrying candidate secrets. The detector is exact-integer (no
    * float entropy): a token is a CANDIDATE when it is long
    * (≥ [[SecretMinLen]] chars), character-diverse (≥
    * [[SecretMinDistinct]] distinct chars — natural words repeat
    * letters; keys don't), and mixes character classes (contains a
    * digit AND a letter). Ladder columns (long tokens, diverse
    * tokens, candidates, flagged docs) localize WHY a source lights
    * up; a clean corpus reports honest zeros rather than dropping
    * rows — the absence-of-findings row is the release evidence.
    *
    * Determinism: all predicates exact on code points; counts int64;
    * the rate one micro floor-div.
    *
    * Scale posture: one scan-shaped pass (explode → per-token
    * predicates → partial-aggregable per-doc then per-source
    * aggregates); the report is sources-sized. */
  val SecretMinLen = 16
  val SecretMinDistinct = 12

  private def q219(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      .withColumn("is_long", (length(col("w")) >= SecretMinLen).cast("long"))
      .withColumn("n_distinct_chars",
        size(array_distinct(expr("regexp_extract_all(w, '.', 0)")))
          .cast("long"))
      .withColumn("is_diverse",
        (col("is_long") === 1L &&
          col("n_distinct_chars") >= SecretMinDistinct).cast("long"))
      .withColumn("is_candidate",
        (col("is_diverse") === 1L &&
          col("w").rlike("[0-9]") && col("w").rlike("[A-Za-z]"))
          .cast("long"))
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(col("is_long")).as("n_long"),
        sum(col("is_diverse")).as("n_diverse"),
        sum(col("is_candidate")).as("n_cand"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_long")).as("n_long_tokens"),
        sum(col("n_diverse")).as("n_diverse_tokens"),
        sum(col("n_cand")).as("n_secret_candidates"),
        sum(when(col("n_cand") > 0L, 1L).otherwise(0L)).as("n_docs_flagged"))
      .withColumn("flag_rate_u",
        expr("(1000000 * n_docs_flagged) div n_docs"))
      .orderBy(col("source"))
  }

  private lazy val q219Sql =
    s"""WITH tok AS (
       |  SELECT source, doc_id, unnest(${tokensSql("text")}) AS w
       |  FROM documents),
       |scored AS (
       |  SELECT source, doc_id,
       |    CASE WHEN len(w) >= $SecretMinLen THEN 1 ELSE 0 END AS is_long,
       |    CASE WHEN len(w) >= $SecretMinLen AND
       |      len(list_distinct(regexp_extract_all(w, '.'))) >=
       |        $SecretMinDistinct THEN 1 ELSE 0 END AS is_diverse,
       |    CASE WHEN len(w) >= $SecretMinLen AND
       |      len(list_distinct(regexp_extract_all(w, '.'))) >=
       |        $SecretMinDistinct AND regexp_matches(w, '[0-9]')
       |      AND regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END
       |      AS is_candidate
       |  FROM tok),
       |per_doc AS (
       |  SELECT source, doc_id,
       |    CAST(sum(is_long) AS BIGINT) AS n_long,
       |    CAST(sum(is_diverse) AS BIGINT) AS n_diverse,
       |    CAST(sum(is_candidate) AS BIGINT) AS n_cand
       |  FROM scored GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_long) AS BIGINT) AS n_long_tokens,
       |  CAST(sum(n_diverse) AS BIGINT) AS n_diverse_tokens,
       |  CAST(sum(n_cand) AS BIGINT) AS n_secret_candidates,
       |  CAST(sum(CASE WHEN n_cand > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_flagged,
       |  (1000000 * CAST(sum(CASE WHEN n_cand > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS flag_rate_u
       |FROM per_doc GROUP BY 1
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q224
  /** CHARACTER-CLASS FORMAT PROFILE per source — the cheapest format-
    * drift detector there is: exact per-source counts of letters,
    * digits, whitespace, and everything else, their micro shares, and
    * a chi-square-style distance to the corpus profile. A feed whose
    * digit share doubles started shipping tables/logs; punctuation
    * spikes mark markup leakage — caught at CHARACTER grain before
    * any tokenizer (q117/q125 read token-level shifts; this fires on
    * format changes tokenization can mask).
    *
    * Determinism: class counts are exact regexp counts; shares micro
    * floor-div; the chi-square is a FIXED 4-term expression over
    * exact int64 counts (one double rounding per term, identical
    * shape in both engines — never an order-dependent float
    * aggregate).
    *
    * Scale posture: one scan-shaped partial-aggregable pass (per-row
    * regexp counts → per-source sums); the corpus profile is a 1-row
    * aggregate broadcast; the report is sources-sized. */
  private def q224(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("n_chars"),
        expr("CAST(regexp_count(text, '[A-Za-z]') AS LONG)").as("n_let"),
        expr("CAST(regexp_count(text, '[0-9]') AS LONG)").as("n_dig"),
        expr("CAST(regexp_count(text, ' ') AS LONG)").as("n_sp"))
    val perSrc = perDoc.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("n_chars"), sum(col("n_let")).as("n_let"),
        sum(col("n_dig")).as("n_dig"), sum(col("n_sp")).as("n_sp"))
      .withColumn("n_oth",
        col("n_chars") - col("n_let") - col("n_dig") - col("n_sp"))
    val corp = perSrc.agg(sum(col("n_chars")).as("c_chars"),
      sum(col("n_let")).as("c_let"), sum(col("n_dig")).as("c_dig"),
      sum(col("n_sp")).as("c_sp"), sum(col("n_oth")).as("c_oth"))
    def share(n: Column, tot: Column): Column =
      n.cast(DoubleType) / tot.cast(DoubleType)
    def term(n: Column, c: Column): Column = {
      val ps = share(n, col("n_chars"))
      val pc = share(c, col("c_chars"))
      // a class absent from the whole corpus contributes nothing (and
      // is then absent from every source too — 0/0 guarded to 0)
      when(c === 0L, lit(0.0)).otherwise((ps - pc) * (ps - pc) / pc)
    }
    // Guard the n_chars = 0 degenerate (a source of all-empty texts):
    // its shares are defined 0 and its chi-square 0 — without the guard
    // Spark's 0.0/0.0 = NaN floors to NULL while DuckDB's CAST(NaN)
    // errors, an engine divergence (ADVICE r13).
    def shareU(n: String): Column =
      when(col("n_chars") === 0L, lit(0L))
        .otherwise(expr(s"(1000000 * $n) div n_chars"))
    perSrc.crossJoin(broadcast(corp))
      .withColumn("chi2_u",
        when(col("n_chars") === 0L, lit(0L)).otherwise(
          floor(lit(1000000.0) *
            (term(col("n_let"), col("c_let")) +
              term(col("n_dig"), col("c_dig")) +
              term(col("n_sp"), col("c_sp")) +
              term(col("n_oth"), col("c_oth")))).cast("long")))
      .select(col("source"), col("n_chars"),
        shareU("n_let").as("letter_u"),
        shareU("n_dig").as("digit_u"),
        shareU("n_sp").as("space_u"),
        shareU("n_oth").as("other_u"),
        col("chi2_u"))
      .orderBy(col("chi2_u").desc, col("source"))
  }

  private lazy val q224Sql = {
    def cnt(re: String) =
      s"CAST(sum(len(regexp_extract_all(text, '$re'))) AS BIGINT)"
    def term(n: String, c: String) =
      s"""(CASE WHEN $c = 0 THEN 0.0 ELSE
         |  ((CAST($n AS DOUBLE) / CAST(n_chars AS DOUBLE) -
         |    CAST($c AS DOUBLE) / CAST(c_chars AS DOUBLE)) *
         |   (CAST($n AS DOUBLE) / CAST(n_chars AS DOUBLE) -
         |    CAST($c AS DOUBLE) / CAST(c_chars AS DOUBLE)) /
         |   (CAST($c AS DOUBLE) / CAST(c_chars AS DOUBLE))) END)""".stripMargin
    s"""WITH per_src AS (
       |  SELECT source,
       |    CAST(sum(len(text)) AS BIGINT) AS n_chars,
       |    ${cnt("[A-Za-z]")} AS n_let,
       |    ${cnt("[0-9]")} AS n_dig,
       |    ${cnt(" ")} AS n_sp
       |  FROM documents GROUP BY 1),
       |per_src2 AS (
       |  SELECT *, n_chars - n_let - n_dig - n_sp AS n_oth FROM per_src),
       |corp AS (
       |  SELECT CAST(sum(n_chars) AS BIGINT) AS c_chars,
       |    CAST(sum(n_let) AS BIGINT) AS c_let,
       |    CAST(sum(n_dig) AS BIGINT) AS c_dig,
       |    CAST(sum(n_sp) AS BIGINT) AS c_sp,
       |    CAST(sum(n_oth) AS BIGINT) AS c_oth
       |  FROM per_src2)
       |SELECT source, n_chars,
       |  CASE WHEN n_chars = 0 THEN 0
       |    ELSE (1000000 * n_let) // n_chars END AS letter_u,
       |  CASE WHEN n_chars = 0 THEN 0
       |    ELSE (1000000 * n_dig) // n_chars END AS digit_u,
       |  CASE WHEN n_chars = 0 THEN 0
       |    ELSE (1000000 * n_sp) // n_chars END AS space_u,
       |  CASE WHEN n_chars = 0 THEN 0
       |    ELSE (1000000 * n_oth) // n_chars END AS other_u,
       |  CASE WHEN n_chars = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 * (
       |    ${term("n_let", "c_let")} +
       |    ${term("n_dig", "c_dig")} +
       |    ${term("n_sp", "c_sp")} +
       |    ${term("n_oth", "c_oth")})) AS BIGINT) END AS chi2_u
       |FROM per_src2 CROSS JOIN corp
       |ORDER BY chi2_u DESC, source""".stripMargin
  }

  // ---------------------------------------------------------------- q227
  /** QUALITY TREND OVER INGEST ORDER — q220's decile read applied to
    * the quality gate: per source, the q89 ADMIT rate across
    * ingest-order deciles. A feed whose late deciles collapse is
    * degrading at the crawler (template rot, spam infill) — caught
    * per FEED and per TIME, where q95's triage sees only the
    * per-source total. Read next to q220: dup-rate climbing while
    * admit-rate falls is one sick feed, not two problems.
    *
    * Determinism: deciles by `((rnk−1)·10) div n` over the per-source
    * (doc_id) total order; counts int64; rates micro floor-div.
    *
    * Scale posture: rides the q89 decision frame (memoized lmTable
    * features); the decile cut is [[Features.ingestDecile]] — exact
    * per-source rank window by default (oracle-pinned; q125
    * low-cardinality caveat), broadcast `percentile_approx` thresholds
    * under `spark.graft.quantiles.mode=approx`; ≤ 10·|sources| rows. */
  private def q227(spark: SparkSession, dir: String): DataFrame = {
    Features.ingestDecile(
      corpusQualityDecisions(spark, dir)
        .select(col("source"), col("doc_id"), col("admit")))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admit"), 1L).otherwise(0L)).as("n_admit"))
      .withColumn("admit_rate_u", expr("(1000000 * n_admit) div n_docs"))
      .orderBy(col("source"), col("decile"))
  }

  private lazy val q227Sql =
    s"""WITH $qualityDecisionCtes,
       |ranked AS (
       |  SELECT source, doc_id, reason,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM dec)
       |SELECT source, ((rnk - 1) * 10) // n_src AS decile,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admit,
       |  (1000000 * CAST(sum(CASE WHEN reason = 'admit' THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS admit_rate_u
       |FROM ranked
       |GROUP BY 1, 2
       |ORDER BY source, decile""".stripMargin

  // ---------------------------------------------------------------- q237
  /** SHARED-PREFIX TEMPLATE FAMILIES — boilerplate the body-level
    * dedup stack structurally misses: documents OPENING with the same
    * 8 tokens but carrying DIFFERENT bodies (form letters, generated
    * reports, scraped templates with per-page payloads). q34 catches
    * identical bodies, q35/q36 near-identical bodies, q85 shared
    * 8-word windows ANYWHERE; this groups by the head specifically —
    * per family: member count, distinct bodies, distinct sources, and
    * the smallest member id as the inspection handle. A family with
    * many members and many bodies is a TEMPLATE (strip the head,
    * dedup the payload); one body is plain duplication q34 already
    * handles, so those are excluded.
    *
    * Determinism: heads are md5u32 of the joined first-8 tokens
    * (collisions hash identically in both engines — the documented
    * md5u32 posture); bodies full md5 hex; counts int64; top-20
    * ordered (n_docs desc, head_h).
    *
    * Scale posture: one stateless projection (slice + hash — no
    * shingle explosion), one partial-aggregable head-keyed groupBy
    * whose two distinct legs ride Spark's multi-distinct Expand over
    * the narrow hashed projection (census-whitelisted like q161 — the
    * Expand-free alternative re-tokenizes the corpus per leg), and a
    * TakeOrderedAndProject top-20; docs shorter than 8 tokens are
    * filtered before the shuffle. */
  private def q237(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        md5u32(array_join(slice(toks, 1, 8), " ")).as("head_h"),
        md5(col("text")).as("fp"),
        size(toks).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 8L)
      .groupBy(col("head_h"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_bodies"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= 2L && col("n_bodies") >= 2L)
      .orderBy(col("n_docs").desc, col("head_h"))
      .limit(20)
  }

  private lazy val q237Sql = {
    val head = md5u32Sql(
      s"array_to_string((${tokensSql("text")})[1:8], ' ')")
    s"""WITH d AS (
       |  SELECT source, doc_id, $head AS head_h, md5(text) AS fp,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT head_h, count(*) AS n_docs,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_bodies,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  min(doc_id) AS example_doc
       |FROM d WHERE n_tokens >= 8
       |GROUP BY head_h
       |HAVING count(*) >= 2 AND count(DISTINCT fp) >= 2
       |ORDER BY n_docs DESC, head_h
       |LIMIT 20""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q237_prefix_families" -> (q237 _),
    "q227_quality_trend" -> (q227 _),
    "q224_format_profile" -> (q224 _),
    "q219_secret_scan" -> (q219 _),
    "q215_vocab_growth" -> (q215 _),
    "q197_cond_entropy" -> (q197 _),
    "q198_rank_corr" -> (q198 _),
    "q190_simpson" -> (q190 _),
    "q154_ks_drift" -> (q154 _),
    "q176_emd_drift" -> (q176 _),
    "q177_good_turing" -> (q177 _),
    "q179_burstiness" -> (q179 _),
    "q185_ingest_drift" -> (q185 _),
    "q157_datasheet" -> (q157 _),
    "q159_snapshot_delta" -> (q159 _),
    "q161_norm_lift" -> (q161 _),
    "q163_coverage_curve" -> (q163 _),
    "q164_token_gini" -> (q164 _),
    "q165_rebuild_plan" -> (q165 _),
    "q167_gate_calibration" -> (q167 _),
    "q153_manifest_diff" -> (q153 _),
    "q151_corpus_manifest" -> (q151 _),
    "q131_vocab_coverage" -> (q131 _),
    "q125_zipf_audit" -> (q125 _),
    "q127_eval_roster" -> (q127 _),
    "q128_source_entropy" -> (q128 _),
    "q121_chunk_dedup_rate" -> (q121 _),
    "q115_gopher_rules" -> (q115 _),
    "q117_source_psi" -> (q117 _),
    "q107_dsir_weights" -> (q107 _),
    "q109_surprisal_mixing" -> (q109 _),
    "q111_epoch_shuffle" -> (q111 _),
    "q112_quality_agreement" -> (q112 _),
    "q101_source_kl" -> (q101 _),
    "q102_packing_audit" -> (q102 _),
    "q103_epoch_allocator" -> (q103 _),
    "q104_chunking" -> (q104 _),
    "q99_heavy_hitters" -> (q99 _),
    "q89_quality_gate" -> (q89 _),
    "q90_sketch_quantiles" -> (q90 _),
    "q91_pmi_collocations" -> (q91 _),
    "q94_temperature_mixing" -> (q94 _),
    "q95_source_quality" -> (q95 _),
    "q86_bm25"        -> (q86 _),
    "q87_lm_quality"  -> (q87 _),
    "q141_bigram_lm"  -> (q141 _),
    "q143_weighted_sample" -> (q143 _),
    "q80_repetition"  -> (q80 _),
    "q81_boilerplate" -> (q81 _),
    "q83_split_assign" -> (q83 _),
    "q30_token_stats" -> (q30 _),
    "q31_quality"     -> (q31 _),
    "q32_lang_guess"  -> (q32 _),
    "q33_fingerprint" -> (q33 _),
    "q46_bpe_tokens"  -> (q46 _),
    "q50_vocab"       -> (q50 _),
    "q51_vocab_approx" -> (q51 _),
    "q55_det_sample"  -> (q55 _),
    "q57_tfidf_terms" -> (q57 _),
    "q61_length_quantiles" -> (q61 _),
    "q62_profile"     -> (q62 _),
    "q67_normalize"   -> (q67 _),
    "q68_content_scan" -> (q68 _),
    "q74_term_redaction" -> (q74 _),
    "q75_source_mixing" -> (q75 _),
    "q76_context_packing" -> (q76 _))

  val oracles: Map[String, String] = Map(
    "q237_prefix_families" -> q237Sql,
    "q227_quality_trend" -> q227Sql,
    "q224_format_profile" -> q224Sql,
    "q219_secret_scan" -> q219Sql,
    "q215_vocab_growth" -> q215Sql,
    "q197_cond_entropy" -> q197Sql,
    "q198_rank_corr" -> q198Sql,
    "q190_simpson" -> q190Sql,
    "q154_ks_drift" -> q154Sql,
    "q176_emd_drift" -> q176Sql,
    "q177_good_turing" -> q177Sql,
    "q179_burstiness" -> q179Sql,
    "q185_ingest_drift" -> q185Sql,
    "q157_datasheet" -> q157Sql,
    "q159_snapshot_delta" -> q159Sql,
    "q161_norm_lift" -> q161Sql,
    "q163_coverage_curve" -> q163Sql,
    "q164_token_gini" -> q164Sql,
    "q165_rebuild_plan" -> q165Sql,
    "q167_gate_calibration" -> q167Sql,
    "q153_manifest_diff" -> q153Sql,
    "q151_corpus_manifest" -> q151Sql,
    "q131_vocab_coverage" -> q131Sql,
    "q125_zipf_audit" -> q125Sql,
    "q127_eval_roster" -> q127Sql,
    "q128_source_entropy" -> q128Sql,
    "q121_chunk_dedup_rate" -> q121Sql,
    "q115_gopher_rules" -> q115Sql,
    "q117_source_psi" -> q117Sql,
    "q107_dsir_weights" -> q107Sql,
    "q109_surprisal_mixing" -> q109Sql,
    "q111_epoch_shuffle" -> q111Sql,
    "q112_quality_agreement" -> q112Sql,
    "q101_source_kl" -> q101Sql,
    "q102_packing_audit" -> q102Sql,
    "q103_epoch_allocator" -> q103Sql,
    "q104_chunking" -> q104Sql,
    "q99_heavy_hitters" -> q99Sql,
    "q89_quality_gate" -> q89Sql,
    "q90_sketch_quantiles" -> q90Sql,
    "q91_pmi_collocations" -> q91Sql,
    "q94_temperature_mixing" -> q94Sql,
    "q95_source_quality" -> q95Sql,
    "q86_bm25"        -> q86Sql,
    "q87_lm_quality"  -> q87Sql,
    "q141_bigram_lm"  -> q141Sql,
    "q143_weighted_sample" -> q143Sql,
    "q80_repetition"  -> q80Sql,
    "q81_boilerplate" -> q81Sql,
    "q83_split_assign" -> q83Sql,
    "q30_token_stats" -> q30Sql,
    "q31_quality"     -> q31Sql,
    "q32_lang_guess"  -> q32Sql,
    "q33_fingerprint" -> q33Sql,
    "q46_bpe_tokens"  -> q46Sql,
    "q50_vocab"       -> q50Sql,
    "q51_vocab_approx" -> q51Sql,
    "q55_det_sample"  -> q55Sql,
    "q57_tfidf_terms" -> q57Sql,
    "q61_length_quantiles" -> q61Sql,
    "q62_profile"     -> q62Sql,
    "q67_normalize"   -> q67Sql,
    "q68_content_scan" -> q68Sql,
    "q74_term_redaction" -> q74Sql,
    "q75_source_mixing" -> q75Sql,
    "q76_context_packing" -> q76Sql)

  // ------------------------------------------------------- compression
  /** COMPRESSION-RATIO QUALITY GATE — the model-free quality signal the
    * large-scale filtering literature runs alongside the heuristic and
    * LM gates: DEFLATE the document and read the ratio. BOTH tails are
    * junk — a near-zero ratio is machine-repeated template content
    * (compressors are, in effect, exact-repetition detectors with a
    * window far wider than q80's 3-grams), a near-one ratio is
    * encrypted/base64/random content no LM gate scores reliably
    * (its surprisal is uniformly high, but so is hard technical
    * prose's — incompressibility separates them). Spec-verified rather
    * than oracled: the signal is definitionally the output of a
    * specific codec, which the SQL oracle cannot replicate (the
    * kmeansAuto/streaming posture — SURVEY §5's non-SQL-expressible
    * class).
    *
    * Scale posture: one `mapPartitions` with a per-partition reused
    * `Deflater` (the pipeline-decoder init shape); stateless per row,
    * streams unchanged under `foreachBatch`; output is a narrow typed
    * row per doc, text never shuffles. */
  val CompressLowCutU = 250000L  // < 4:1 stays suspicious-repetitive
  // ASCII text tops out near ~6.6/8 bits under Huffman alone, so 0.8
  // is the practical "no structure beyond the alphabet" line.
  val CompressHighCutU = 800000L

  final case class CompressionScore(doc_id: Long, n_bytes: Long,
      n_compressed: Long, ratio_u: Long, flag: String)

  private[graft] def compressionGate(docs: DataFrame)
      : org.apache.spark.sql.Dataset[CompressionScore] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished())
            n += deflater.deflate(buf)
          val ratio =
            if (raw.isEmpty) 1000000L
            else math.floorDiv(1000000L * n, raw.length.toLong)
          val flag =
            if (ratio < CompressLowCutU) "too_repetitive"
            else if (ratio > CompressHighCutU) "incompressible"
            else "ok"
          CompressionScore(id, raw.length.toLong, n, ratio, flag)
        }
      }
  }
}
